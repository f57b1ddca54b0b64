"""Bloom probe of a join's big side (operators/joins.py).

Covers: the one-sided guarantee (no false negatives ever, even with a
deliberately undersized filter that produces many false positives),
null-key SQL semantics of the flag column, and the distinct-free build.
"""

from functools import partial

import numpy as np
import pytest

from parallel_count_min_sketch_spark.operators.joins import (
    bloom_flag,
    build_key_bloom,
)
from parallel_count_min_sketch_spark.sketches.bloom import BloomFilter


# functools.partial of the package class pickles by REFERENCE, so
# executors don't need this test module on their import path (a local
# def here would be pickled as a test_bloom_join.* reference and fail).
# _mk_tiny is deliberately undersized: high fpp -> visible false positives.
_mk_tiny = partial(BloomFilter, 20, 0.3, seed=7)
_mk_sized = partial(BloomFilter, 10_000, 0.01, seed=7)


@pytest.fixture(scope="module")
def frames(spark):
    big = spark.createDataFrame(
        [(i, i % 1000) for i in range(20_000)], "row_id LONG, key LONG"
    ).repartition(4)
    small = spark.createDataFrame(
        [(k,) for k in range(0, 1000, 50)], "key LONG"
    )  # 20 keys -> 5% of the key domain
    return big, small


def test_no_false_negatives_even_undersized(spark, frames):
    big, small = frames
    bf = build_key_bloom(small, "key", _mk_tiny)
    flagged = bloom_flag(big, "key", bf)
    truth = set(r["key"] for r in small.collect())
    rows = flagged.collect()
    n_false_pos = sum(1 for r in rows if r["bloom_pass"] and r["key"] not in truth)
    n_false_neg = sum(1 for r in rows if not r["bloom_pass"] and r["key"] in truth)
    assert n_false_neg == 0  # one-sided, always
    assert n_false_pos > 0  # the tiny filter really does overshoot


def test_null_keys_never_pass_or_match(spark):
    big = spark.createDataFrame(
        [(1, 10), (2, None), (3, 20), (4, None)], "row_id LONG, key LONG"
    )
    small = spark.createDataFrame([(10,), (99,)], "key LONG")
    bf = build_key_bloom(small, "key", _mk_sized)
    flagged = {r["row_id"]: r["bloom_pass"] for r in bloom_flag(big, "key", bf).collect()}
    assert flagged[2] is False and flagged[4] is False
    assert flagged[1] is True


def test_build_needs_no_distinct(spark):
    # duplicate inserts are idempotent: filter built from a side with heavy
    # duplication equals the one built from distinct keys
    dup = spark.createDataFrame([(k % 10,) for k in range(5000)], "key LONG")
    bf_dup = build_key_bloom(dup, "key", _mk_sized)
    bf_dis = build_key_bloom(dup.distinct(), "key", _mk_sized)
    assert np.array_equal(bf_dup.bits, bf_dis.bits)

