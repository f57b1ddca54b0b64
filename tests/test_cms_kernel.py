"""Kernel parity: vectorized numpy CMS vs the sequential pure-Python
reference implementation (same seed => byte-identical matrices), mirroring
the reference's demo tests (src/core/count_min_sketch.c:246-328)."""

import numpy as np
import pytest

from parallel_count_min_sketch_spark.config import CMSConfig
from parallel_count_min_sketch_spark.operators.sketch_agg import fold_blobs
from parallel_count_min_sketch_spark.sketches import (
    CountMinSketch,
    affine_params,
    djb2_batch,
    djb2_py,
)
from parallel_count_min_sketch_spark.sketches.cms import dims
from reference_cms import SequentialCMS


def mixture_items(n: int, seed: int = 12345) -> np.ndarray:
    """The reference's dataset mixture (scripts/gen_datasets.py:4-19):
    10% item 123, 10% item 456, 10% uniform[100,110], 70% uniform[1000,9999]."""
    rng = np.random.default_rng(seed)
    roll = rng.random(n)
    items = rng.integers(1000, 10000, size=n, dtype=np.int64)
    items[roll < 0.1] = 123
    items[(roll >= 0.1) & (roll < 0.2)] = 456
    in_range = (roll >= 0.2) & (roll < 0.3)
    items[in_range] = rng.integers(100, 111, size=int(in_range.sum()), dtype=np.int64)
    return items


def test_dims_reference_defaults():
    # eps=0.001, delta=0.1 -> 3 x 2719 (src/core/count_min_sketch.h:13-14)
    assert dims(0.001, 0.1) == (3, 2719)
    assert dims(0.1, 0.1) == (3, 28)
    with pytest.raises(ValueError):
        dims(0.0, 0.1)
    with pytest.raises(ValueError):
        dims(0.1, 1.5)


def test_vectorized_matches_sequential_bytes():
    items = mixture_items(20000)
    fast = CountMinSketch(0.01, 0.1, seed=7)
    fast.update_batch(items)
    slow = SequentialCMS(0.01, 0.1, seed=7)
    for it in items.tolist():
        slow.update(it)
    assert fast.total == slow.total == len(items)
    assert np.array_equal(fast.table, slow.matrix())
    # queries agree too
    for x in (123, 456, 105, 5000, 99999):
        assert int(fast.point_query(x)[0]) == slow.point_query(x)
    assert fast.range_query(100, 110) == slow.range_query(100, 110)
    assert fast.inner_product(fast) == slow.inner_product(slow)


def test_range_query_paths_agree():
    """Scalar hot path (small ranges), vectorized path (large ranges), and
    the batch API must all agree — and the scalar cache must invalidate on
    update/merge."""
    items = mixture_items(30000)
    sk = CountMinSketch(0.01, 0.1, seed=7)
    sk.update_batch(items)
    vec = int(sk.point_query(np.arange(100, 111)).sum())
    assert sk.range_query(100, 110) == vec  # scalar path (k <= 64)
    wide = int(sk.point_query(np.arange(0, 201)).sum())
    assert sk.range_query(0, 200) == wide  # vectorized path
    starts = np.array([100, 0, 50, 60, 10])
    ends = np.array([110, 200, 49, 60, 30])  # includes empty + single ranges
    got = sk.range_query_many(starts, ends).tolist()
    exp = [sk.range_query(int(s), int(e)) for s, e in zip(starts, ends)]
    assert got == exp
    # cache invalidation: post-update scalar path must match the vectorized
    # path recomputed from the mutated table (not the stale cached rows)
    sk.update_batch(np.full(7, 105, dtype=np.int64))
    assert sk.range_query(100, 110) == int(sk.point_query(np.arange(100, 111)).sum())
    other = CountMinSketch(0.01, 0.1, seed=7)
    other.update_batch(np.full(3, 105, dtype=np.int64))
    sk.merge(other)
    assert sk.range_query(100, 110) == int(sk.point_query(np.arange(100, 111)).sum())


def test_one_sided_guarantee_and_eps_bound():
    """Port of test_cms_accuracy (src/core/count_min_sketch.c:205-242):
    estimate >= true for ALL values (hard), err <= eps*N for >= 1-delta."""
    items = mixture_items(50000)
    eps, delta = 0.001, 0.1
    sk = CountMinSketch(eps, delta, seed=3)
    sk.update_batch(items)
    vals, counts = np.unique(items, return_counts=True)
    est = sk.point_query(vals)
    assert (est >= counts).all(), "one-sided guarantee violated"
    within = (est - counts) <= np.ceil(eps * sk.total)
    assert within.mean() >= 1 - delta


def test_weighted_update():
    sk = CountMinSketch(0.1, 0.1, seed=1)
    sk.update_batch([5, 9, 5], counts=[2, 3, 4])
    assert sk.total == 9
    assert int(sk.point_query(5)[0]) >= 6
    ref = SequentialCMS(0.1, 0.1, seed=1)
    ref.update(5, 2)
    ref.update(9, 3)
    ref.update(5, 4)
    assert np.array_equal(sk.table, ref.matrix())


def test_merge_associative_commutative_identity():
    parts = [mixture_items(3000, seed=s) for s in (1, 2, 3)]

    def build(chunks):
        sk = CountMinSketch(0.01, 0.1, seed=42)
        for c in chunks:
            part = sk.copy_empty()
            part.update_batch(c)
            sk.merge(part)
        return sk

    abc = build([parts[0], parts[1], parts[2]])
    cba = build([parts[2], parts[1], parts[0]])
    bac = build([parts[1], parts[0], parts[2]])
    assert np.array_equal(abc.table, cba.table)
    assert np.array_equal(abc.table, bac.table)
    assert abc.total == cba.total == bac.total
    # identity: merging an empty sketch changes nothing
    before = abc.table.copy()
    abc.merge(CountMinSketch(0.01, 0.1, seed=42))
    assert np.array_equal(abc.table, before)
    # equals single-pass build
    single = CountMinSketch(0.01, 0.1, seed=42)
    single.update_batch(np.concatenate(parts))
    assert np.array_equal(single.table, abc.table)


def test_incompatible_merge_rejected():
    a = CountMinSketch(0.01, 0.1, seed=1)
    b = CountMinSketch(0.01, 0.1, seed=2)
    with pytest.raises(ValueError):
        a.merge(b)
    c = CountMinSketch(0.1, 0.1, seed=1)
    with pytest.raises(ValueError):
        a.inner_product(c)


def test_inner_product_hand_built():
    """Hand-built expectation like the reference demo
    (src/core/count_min_sketch.c:246-272, expected value 4 for its tables):
    two sketches over known items; inner product >= true join size."""
    a = CountMinSketch(0.1, 0.1, seed=9)
    b = CountMinSketch(0.1, 0.1, seed=9)
    a.update_batch([1, 1, 2])
    b.update_batch([1, 3, 3])
    # true inner product of exact freq vectors: f_a(1)*f_b(1) = 2*1 = 2
    assert a.inner_product(b) >= 2


def test_serialization_roundtrip():
    sk = CountMinSketch(0.01, 0.1, seed=11)
    sk.update_batch(mixture_items(5000))
    blob = sk.to_bytes()
    back = CountMinSketch.from_bytes(blob, 0.01, 0.1)
    assert back.total == sk.total and back.seed == sk.seed
    assert np.array_equal(back.table, sk.table)
    merged = fold_blobs([blob, blob], CMSConfig(0.01, 0.1, 11).from_bytes)
    assert merged.total == 2 * sk.total
    assert np.array_equal(merged.table, 2 * sk.table)


def test_affine_params_are_memoized_read_only():
    a, b = affine_params(7, 3)
    assert affine_params(7, 3)[0] is a and affine_params(7, 3)[1] is b
    with pytest.raises(ValueError):
        a[0] = 1
    with pytest.raises(ValueError):
        CountMinSketch(0.01, 0.1, seed=7).b += 1


def test_djb2_batch_matches_scalar():
    toks = ["", "a", "ab", "the", "tok123", "tokr110", "x" * 300, "héllo", "日本語"]
    batch = djb2_batch(toks)
    for t, h in zip(toks, batch.tolist()):
        assert h == djb2_py(t)


def test_string_updates():
    sk = CountMinSketch(0.1, 0.1, seed=5)
    sk.update_strings(["foo", "bar", "foo"])
    ref = SequentialCMS(0.1, 0.1, seed=5)
    for t in ["foo", "bar", "foo"]:
        ref.update_str(t)
    assert np.array_equal(sk.table, ref.matrix())
    assert int(sk.point_query_strings(["foo"])[0]) >= 2
    assert sk.multi_point_sum(["foo", "bar"]) >= 3


def test_heavy_hitters():
    items = mixture_items(30000)
    sk = CountMinSketch(0.001, 0.1, seed=2)
    sk.update_batch(items)
    vals, counts = np.unique(items, return_counts=True)
    thresh = int(0.05 * sk.total)
    hh, est = sk.heavy_hitters(vals, thresh)
    true_hh = set(vals[counts >= thresh].tolist())
    # one-sidedness: every true heavy hitter is found
    assert true_hh.issubset(set(hh.tolist()))
    assert set(hh.tolist()) >= {123, 456}
