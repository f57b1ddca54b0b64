"""Property-based tests (hypothesis): the algebraic laws the distributed
design relies on, over arbitrary inputs — not just the fixtures."""

import numpy as np
from hypothesis import given, settings, strategies as st

from parallel_count_min_sketch_spark.sketches import (
    BloomFilter,
    CountMinSketch,
    HyperLogLog,
    djb2_batch,
    djb2_py,
)
from parallel_count_min_sketch_spark.sketches.cms_cu import ConservativeCMS

items_lists = st.lists(st.integers(min_value=0, max_value=2**40), min_size=0, max_size=300)


@settings(max_examples=30, deadline=None)
@given(a=items_lists, b=items_lists, c=items_lists)
def test_cms_merge_associative_commutative(a, b, c):
    def sk(xs):
        s = CountMinSketch(0.1, 0.1, seed=5)
        if xs:
            s.update_batch(np.array(xs, dtype=np.int64))
        return s

    left = sk(a).merge(sk(b).merge(sk(c)))
    right = sk(a).merge(sk(b)).merge(sk(c))
    swapped = sk(c).merge(sk(a)).merge(sk(b))
    assert np.array_equal(left.table, right.table)
    assert np.array_equal(left.table, swapped.table)
    assert left.total == right.total == swapped.total == len(a) + len(b) + len(c)


@settings(max_examples=30, deadline=None)
@given(xs=items_lists.filter(lambda v: len(v) > 0))
def test_cms_one_sided_for_any_input(xs):
    s = CountMinSketch(0.1, 0.1, seed=9)
    s.update_batch(np.array(xs, dtype=np.int64))
    vals, counts = np.unique(np.array(xs, dtype=np.int64), return_counts=True)
    est = s.point_query(vals)
    assert (est >= counts).all()
    assert s.total == len(xs)


# weights up to 2^56 each, at most 64 of them: sums reach 2^62 without int64
# overflow, far past float64's exact-integer range of 2^53
weighted_items = st.lists(
    st.tuples(st.integers(min_value=0, max_value=50),
              st.one_of(st.integers(min_value=0, max_value=1000),
                        st.integers(min_value=2**50, max_value=2**56))),
    min_size=1, max_size=64)


@settings(max_examples=40, deadline=None)
@given(pairs=weighted_items)
def test_weighted_cms_one_sided_past_2_53(pairs):
    """The weighted estimate never drops below the true mass, also where a
    float64 sum would round it down."""
    items = np.array([p[0] for p in pairs], dtype=np.int64)
    weights = np.array([p[1] for p in pairs], dtype=np.int64)
    for sk in (CountMinSketch(0.1, 0.1, seed=9), ConservativeCMS(0.1, 0.1, seed=9)):
        sk.update_batch(items, weights)
        truth: dict = {}
        for it, w in pairs:
            truth[it] = truth.get(it, 0) + w
        keys = np.array(sorted(truth), dtype=np.int64)
        est = sk.point_query(keys)
        assert all(int(e) >= truth[int(k)] for e, k in zip(est, keys)), type(sk)
        assert sk.total == sum(truth.values())


def test_weighted_cms_exact_at_2_53_plus_1():
    sk = CountMinSketch(0.001, 0.1, seed=1)
    sk.update_batch(np.array([7, 7], dtype=np.int64),
                    np.array([2**53, 1], dtype=np.int64))
    assert sk.total == 2**53 + 1
    assert int(sk.point_query([7])[0]) == 2**53 + 1


@settings(max_examples=30, deadline=None)
@given(xs=items_lists, split=st.integers(min_value=0, max_value=300))
def test_cms_split_build_equals_whole(xs, split):
    split = min(split, len(xs))
    whole = CountMinSketch(0.1, 0.1, seed=2)
    if xs:
        whole.update_batch(np.array(xs, dtype=np.int64))
    a, b = xs[:split], xs[split:]
    pa_, pb = whole.copy_empty(), whole.copy_empty()
    if a:
        pa_.update_batch(np.array(a, dtype=np.int64))
    if b:
        pb.update_batch(np.array(b, dtype=np.int64))
    merged = pa_.merge(pb)
    assert np.array_equal(whole.table, merged.table)


@settings(max_examples=40, deadline=None)
@given(tokens=st.lists(
    st.text(alphabet=st.characters(codec="utf-8"), min_size=0, max_size=50),
    min_size=0, max_size=100,
))
def test_djb2_batch_equals_scalar_for_any_unicode(tokens):
    got = djb2_batch(tokens)
    assert got.tolist() == [djb2_py(t) for t in tokens]


@settings(max_examples=25, deadline=None)
@given(a=items_lists, b=items_lists)
def test_hll_merge_is_union(a, b):
    ha, hb, hu = HyperLogLog(8, 3), HyperLogLog(8, 3), HyperLogLog(8, 3)
    if a:
        ha.update_batch(np.array(a, dtype=np.int64))
    if b:
        hb.update_batch(np.array(b, dtype=np.int64))
    if a or b:
        hu.update_batch(np.array(a + b, dtype=np.int64))
    merged = HyperLogLog.from_bytes(ha.to_bytes()).merge(hb)
    assert np.array_equal(merged.registers, hu.registers)
    # idempotent
    again = merged.merge(hb)
    assert np.array_equal(again.registers, hu.registers)


@settings(max_examples=25, deadline=None)
@given(xs=items_lists)
def test_bloom_never_false_negative(xs):
    bf = BloomFilter(expected_items=max(len(xs), 1), fpp=0.01, seed=7)
    if xs:
        bf.add_batch(np.array(xs, dtype=np.int64))
        assert bf.contains_batch(np.array(xs, dtype=np.int64)).all()
    blob = bf.to_bytes()
    back = BloomFilter.from_bytes(blob)
    assert np.array_equal(back.bits, bf.bits)
