"""Kernel tests for HLL / Bloom / KLL / t-digest: accuracy guarantees,
merge semantics (associativity where exact, error bounds where not),
serialization round-trips."""

import numpy as np
import pytest

from parallel_count_min_sketch_spark.operators.sketch_agg import fold_blobs
from parallel_count_min_sketch_spark.sketches.bloom import BloomFilter, bloom_dims
from parallel_count_min_sketch_spark.sketches.hll import HyperLogLog
from parallel_count_min_sketch_spark.sketches.kll import KLLSketch
from parallel_count_min_sketch_spark.sketches.tdigest import TDigest


# ---------------------------- HLL ----------------------------------------
def test_hll_estimate_within_error():
    rng = np.random.default_rng(0)
    for true_card in (100, 10_000, 200_000):
        sk = HyperLogLog(precision=12, seed=5)
        items = rng.choice(10_000_000, size=true_card, replace=False)
        # feed duplicates too
        sk.update_batch(np.concatenate([items, items[: true_card // 2]]))
        rel = abs(sk.estimate() - true_card) / true_card
        assert rel < 5 * (1.04 / np.sqrt(sk.m)), f"card {true_card}: rel err {rel}"


def test_hll_merge_equals_union_and_is_idempotent():
    rng = np.random.default_rng(1)
    a_items = rng.integers(0, 1 << 40, 50_000)
    b_items = rng.integers(0, 1 << 40, 50_000)
    a = HyperLogLog(12, seed=3)
    b = HyperLogLog(12, seed=3)
    u = HyperLogLog(12, seed=3)
    a.update_batch(a_items)
    b.update_batch(b_items)
    u.update_batch(np.concatenate([a_items, b_items]))
    merged = HyperLogLog.from_bytes(a.to_bytes()).merge(b)
    assert np.array_equal(merged.registers, u.registers)
    # idempotent: merging the same sketch twice changes nothing
    again = HyperLogLog.from_bytes(merged.to_bytes()).merge(b)
    assert np.array_equal(again.registers, merged.registers)
    # commutative
    ba = HyperLogLog.from_bytes(b.to_bytes()).merge(a)
    assert np.array_equal(ba.registers, merged.registers)


def test_hll_incompatible():
    with pytest.raises(ValueError):
        HyperLogLog(12, seed=1).merge(HyperLogLog(12, seed=2))
    with pytest.raises(ValueError):
        HyperLogLog(precision=3)


def test_hll_strings_and_roundtrip():
    sk = HyperLogLog(10, seed=7)
    sk.update_strings([f"tok{i}" for i in range(5000)])
    est = sk.estimate()
    assert abs(est - 5000) / 5000 < 0.2
    back = HyperLogLog.from_bytes(sk.to_bytes())
    assert np.array_equal(back.registers, sk.registers)
    assert back.estimate() == est


# ---------------------------- Bloom --------------------------------------
def test_bloom_no_false_negatives_and_fpp():
    rng = np.random.default_rng(2)
    inserted = rng.choice(1 << 40, size=20_000, replace=False)
    bf = BloomFilter(expected_items=20_000, fpp=0.01, seed=4)
    bf.add_batch(inserted)
    assert bf.contains_batch(inserted).all(), "false negative!"
    absent = inserted.max() + 1 + np.arange(50_000)
    fp = bf.contains_batch(absent).mean()
    assert fp < 0.03, f"fpp {fp}"


def test_bloom_merge_is_union():
    a = BloomFilter(1000, 0.01, seed=1)
    b = BloomFilter(1000, 0.01, seed=1)
    a.add_batch([1, 2, 3])
    b.add_batch([100, 200])
    m = BloomFilter.from_bytes(a.to_bytes()).merge(b)
    assert m.contains_batch([1, 2, 3, 100, 200]).all()
    assert m.n_added == 5
    u = BloomFilter(1000, 0.01, seed=1)
    u.add_batch([1, 2, 3, 100, 200])
    assert np.array_equal(m.bits, u.bits)
    with pytest.raises(ValueError):
        a.merge(BloomFilter(1000, 0.01, seed=9))


def test_bloom_strings_and_dims():
    m, k = bloom_dims(10_000, 0.01)
    assert m > 10_000 and 1 <= k <= 20
    bf = BloomFilter(100, 0.01, seed=3)
    bf.add_strings(["alpha", "beta"])
    assert bf.contains_strings(["alpha", "beta"]).all()
    assert not bf.contains_strings(["gamma"]).any() or bf.fill_ratio() > 0


# ---------------------------- KLL ----------------------------------------
def test_kll_rank_error_bound():
    rng = np.random.default_rng(3)
    data = rng.normal(0, 1, 200_000)
    sk = KLLSketch(k=200, seed=1)
    for chunk in np.array_split(data, 20):
        sk.update_batch(chunk)
    assert sk.n == data.size
    qs = np.array([0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99])
    est = sk.quantile(qs)
    true_ranks = np.searchsorted(np.sort(data), est) / data.size
    assert np.abs(true_ranks - qs).max() < 0.03


def test_kll_merge_preserves_guarantee():
    rng = np.random.default_rng(4)
    data = rng.exponential(2.0, 120_000)
    parts = np.array_split(data, 8)
    sketches = []
    for p in parts:
        s = KLLSketch(k=200, seed=2)
        s.update_batch(p)
        sketches.append(s)
    merged = fold_blobs([s.to_bytes() for s in sketches], KLLSketch.from_bytes)
    assert merged.n == data.size
    qs = np.array([0.1, 0.5, 0.9, 0.99])
    est = merged.quantile(qs)
    true_ranks = np.searchsorted(np.sort(data), est) / data.size
    assert np.abs(true_ranks - qs).max() < 0.05


def test_kll_roundtrip_and_rank():
    sk = KLLSketch(k=100, seed=5)
    sk.update_batch(np.arange(10_000, dtype=float))
    back = KLLSketch.from_bytes(sk.to_bytes())
    assert back.n == sk.n
    assert np.array_equal(back.quantile([0.5]), sk.quantile([0.5]))
    assert abs(back.rank(5000.0) - 0.5) < 0.05


# ---------------------------- t-digest ------------------------------------
def test_tdigest_quantile_accuracy_and_tails():
    rng = np.random.default_rng(6)
    data = rng.lognormal(0, 1.5, 300_000)
    td = TDigest(compression=200)
    for chunk in np.array_split(data, 30):
        td.update_batch(chunk)
    sorted_data = np.sort(data)
    for q in (0.001, 0.01, 0.5, 0.99, 0.999):
        est = float(td.quantile([q])[0])
        true_rank = np.searchsorted(sorted_data, est) / data.size
        assert abs(true_rank - q) < 0.01, f"q={q}: rank {true_rank}"


def test_tdigest_merge_and_roundtrip():
    rng = np.random.default_rng(7)
    data = rng.normal(10, 3, 100_000)
    parts = np.array_split(data, 10)
    digests = [TDigest(100) for _ in parts]
    for d, p in zip(digests, parts):
        d.update_batch(p)
    merged = fold_blobs([d.to_bytes() for d in digests], TDigest.from_bytes)
    assert merged.n == pytest.approx(data.size)
    med = float(merged.quantile([0.5])[0])
    assert abs(med - np.median(data)) < 0.1
    back = TDigest.from_bytes(merged.to_bytes())
    assert float(back.quantile([0.5])[0]) == pytest.approx(med)
    assert 0.45 < back.cdf(med + 1e-9) < 0.55
    with pytest.raises(ValueError):
        TDigest(100).merge(TDigest(200))


def test_tdigest_weighted():
    td = TDigest(100)
    td.update_batch([1.0, 2.0, 3.0], weights=[1.0, 1.0, 98.0])
    assert float(td.quantile([0.5])[0]) == pytest.approx(3.0, abs=0.5)


def test_grouped_hll_fold_byte_equal_and_weighted_protocol():
    """GroupedHLLFold (stacked-register scatter) must produce byte-identical
    blobs to per-group HyperLogLog sketches, honor the 'invariant' weighted
    protocol (zero-weight rows dropped, weights summed into rows_seen only),
    and reject negative weights."""
    import pyarrow as pa

    from parallel_count_min_sketch_spark.operators.sketch_agg import GroupedHLLFold

    rng = np.random.default_rng(3)
    groups = [f"g{int(i)}" for i in rng.integers(0, 50, 20000)]
    items = rng.integers(0, 10**12, 20000)
    schema = pa.schema([("g", pa.string()), ("item", pa.int64())])
    batch = pa.RecordBatch.from_pydict(
        {"g": groups, "item": items.tolist()}, schema=schema)
    acc = GroupedHLLFold(12, 7)
    acc.update(batch.slice(0, 9000))  # two chunks: exercises slot growth
    acc.update(batch.slice(9000))
    out = acc.result_batch()
    got = {out.column(0)[i].as_py(): (out.column(1)[i].as_py(),
                                      out.column(2)[i].as_py())
           for i in range(out.num_rows)}
    for g in set(groups):
        sel = np.array([it for gg, it in zip(groups, items) if gg == g],
                       dtype=np.int64)
        sk = HyperLogLog(12, 7)
        sk.update_batch(sel)
        assert got[g] == (len(sel), sk.to_bytes())

    wschema = pa.schema([("g", pa.string()), ("item", pa.int64()),
                         ("w", pa.int64())])
    wb = pa.RecordBatch.from_pydict(
        {"g": ["a", "a", "b", "b"], "item": [1, 2, 3, 4], "w": [2, 0, 5, 1]},
        schema=wschema)
    acc2 = GroupedHLLFold(12, 7, weighted=True)
    acc2.update(wb)
    o2 = acc2.result_batch()
    rows = {o2.column(0)[i].as_py(): o2.column(1)[i].as_py()
            for i in range(o2.num_rows)}
    assert rows == {"a": 2, "b": 6}
    ska = HyperLogLog(12, 7)
    ska.update_batch(np.array([1]))  # item 2 dropped: weight 0
    blobs = {o2.column(0)[i].as_py(): o2.column(2)[i].as_py()
             for i in range(o2.num_rows)}
    assert blobs["a"] == ska.to_bytes()

    acc3 = GroupedHLLFold(12, 7, weighted=True)
    with pytest.raises(ValueError, match="negative weights"):
        acc3.update(pa.RecordBatch.from_pydict(
            {"g": ["x"], "item": [1], "w": [-1]}, schema=wschema))
