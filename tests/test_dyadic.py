"""Dyadic CMS: decomposition exactness, one-sided range estimates,
merge laws, and the O(log U) speedup over the naive range query."""

import time

import numpy as np
import pytest

from parallel_count_min_sketch_spark.operators.sketch_agg import fold_blobs
from parallel_count_min_sketch_spark.sketches import CountMinSketch
from parallel_count_min_sketch_spark.sketches.dyadic import DyadicCMS, decompose


def expand(parts, base):
    xs = []
    for l, k in parts:
        step = base ** l
        xs.extend(range(k * step, (k + 1) * step))
    return xs


@pytest.mark.parametrize("lo,hi,base,levels", [
    (0, 0, 2, 4), (0, 15, 2, 5), (3, 200, 2, 8), (100, 110, 16, 8),
    (1, 9999, 16, 8), (17, 17, 16, 2), (5, 4, 16, 8), (0, 255, 16, 3),
    (1000, 1048575, 16, 8),
])
def test_decompose_is_exact_disjoint_cover(lo, hi, base, levels):
    parts = decompose(lo, hi, base, levels)
    xs = expand(parts, base)
    assert sorted(xs) == list(range(lo, hi + 1))
    # compactness: never more than 2*(base-1)*levels intervals for in-range spans
    if hi - lo < base ** levels:
        assert len(parts) <= 2 * (base - 1) * levels + base


def test_range_estimate_one_sided_and_close():
    rng = np.random.default_rng(0)
    items = rng.integers(0, 100_000, size=200_000)
    sk = DyadicCMS(0.001, 0.1, seed=5, base=16, levels=8)
    sk.update_batch(items)
    for lo, hi in [(0, 99_999), (100, 110), (5_000, 60_000), (99_990, 120_000)]:
        exact = int(((items >= lo) & (items <= hi)).sum())
        est = sk.range_query(lo, hi)
        assert est >= exact
        n_intervals = len(decompose(lo, hi, 16, 8))
        bound = exact + int(np.ceil(0.001 * sk.total)) * n_intervals
        assert est <= bound, f"[{lo},{hi}]: est {est} exact {exact} bound {bound}"


def test_dyadic_beats_naive_on_wide_ranges():
    rng = np.random.default_rng(1)
    items = rng.integers(0, 1_000_000, size=100_000)
    naive = CountMinSketch(0.01, 0.1, seed=3)
    naive.update_batch(items)
    dy = DyadicCMS(0.01, 0.1, seed=3, base=16, levels=8)
    dy.update_batch(items)
    lo, hi = 1_000, 900_000
    t0 = time.perf_counter()
    dy_est = dy.range_query(lo, hi)
    dy_t = time.perf_counter() - t0
    t0 = time.perf_counter()
    naive_est = naive.range_query(lo, hi)
    naive_t = time.perf_counter() - t0
    exact = int(((items >= lo) & (items <= hi)).sum())
    assert dy_est >= exact and naive_est >= exact
    assert dy_t < naive_t / 10, f"dyadic {dy_t:.4f}s vs naive {naive_t:.4f}s"


def test_merge_and_serialization():
    rng = np.random.default_rng(2)
    a_items = rng.integers(0, 50_000, 30_000)
    b_items = rng.integers(0, 50_000, 30_000)
    whole = DyadicCMS(0.01, 0.1, seed=7)
    whole.update_batch(np.concatenate([a_items, b_items]))
    pa_, pb = whole.copy_empty(), whole.copy_empty()
    pa_.update_batch(a_items)
    pb.update_batch(b_items)
    merged = fold_blobs([pa_.to_bytes(), pb.to_bytes()],
                        lambda b: DyadicCMS.from_bytes(b, 0.01, 0.1))
    assert merged.to_bytes() == whole.to_bytes()
    assert merged.total == 60_000
    with pytest.raises(ValueError):
        whole.merge(DyadicCMS(0.01, 0.1, seed=8))
