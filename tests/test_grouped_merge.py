"""The grouped merge, ``sketch_agg.merge_grouped_partials``: partials are
shuffled by group, sorted by (group, sketch) and every group segment is
folded in one ``mapInArrow`` pass.

- CMS, HLL, Bloom and KMV merge order-independently, so each group's
  bytes equal those of the one-pandas-call-per-group merge the package
  used before (kept below as the oracle) under 1, 3 and 7 input
  partitions.
- KLL and t-digest merges depend on the order of the partials; the fold's
  fixed in-group order makes their grouped bytes repeat across runs, even
  when the partials arrive in another order.
"""

import pytest

from parallel_count_min_sketch_spark.operators.sketch_agg import (
    GROUPED_SCHEMA,
    fold_blobs,
    merge_grouped_partials,
    sketch_grouped_partials,
)
from parallel_count_min_sketch_spark.sketches.bloom import BloomFilter
from parallel_count_min_sketch_spark.sketches.cms import CountMinSketch
from parallel_count_min_sketch_spark.sketches.hll import HyperLogLog
from parallel_count_min_sketch_spark.sketches.kll import KLLSketch
from parallel_count_min_sketch_spark.sketches.kmv import KMVSketch
from parallel_count_min_sketch_spark.sketches.tdigest import TDigest


@pytest.fixture(scope="module", autouse=True)
def _ship_module(spark):
    # the factories below pickle by reference to this module
    spark.sparkContext.addPyFile(__file__)


def _mk_cms():
    return CountMinSketch(0.01, 0.1, seed=5)


def _cms_from_bytes(b):
    return CountMinSketch.from_bytes(b, 0.01, 0.1)


def _mk_hll():
    return HyperLogLog(10, seed=5)


def _hll_from_bytes(b):
    return HyperLogLog.from_bytes(b)


def _mk_bloom():
    return BloomFilter(2_000, 0.01, seed=5)


def _bloom_from_bytes(b):
    return BloomFilter.from_bytes(b)


def _mk_kmv():
    return KMVSketch(64, seed=5)


def _kmv_from_bytes(b):
    return KMVSketch.from_bytes(b)


def _mk_kll():
    return KLLSketch(32, seed=5)


def _kll_from_bytes(b):
    return KLLSketch.from_bytes(b)


def _mk_td():
    return TDigest(20.0)


def _td_from_bytes(b):
    return TDigest.from_bytes(b)


def _rows(spark, parts: int):
    """Deterministic (grp, item, value) rows: 37 groups, a hot group
    g0 with half the rows, placement fixed by the range partitioning."""
    return spark.range(0, 6_000, numPartitions=parts).selectExpr(
        "CASE WHEN id % 2 = 0 THEN 'g0' ELSE concat('g', id % 37) END AS grp",
        "(id * 7919) % 1500 AS item",
        "CAST((id * 104729) % 10007 AS DOUBLE) / 7.0 AS value")


def _pandas_merge(partials, from_bytes):
    """The previous merge: ``groupBy("group").applyInPandas``, one pandas
    call per group."""
    def merge_group(pdf):
        import pandas as pd

        out = fold_blobs(pdf["sketch"], from_bytes)
        return pd.DataFrame({"group": [pdf["group"].iloc[0]],
                             "rows_seen": [int(pdf["rows_seen"].sum())],
                             "sketch": [out.to_bytes()]})

    return partials.groupBy("group").applyInPandas(merge_group, GROUPED_SCHEMA)


def _by_group(df):
    return {r["group"]: (r["rows_seen"], bytes(r["sketch"]))
            for r in df.collect()}


@pytest.mark.parametrize("parts", [1, 3, 7])
@pytest.mark.parametrize("mk,fb", [(_mk_cms, _cms_from_bytes),
                                   (_mk_hll, _hll_from_bytes),
                                   (_mk_bloom, _bloom_from_bytes),
                                   (_mk_kmv, _kmv_from_bytes)])
def test_grouped_bytes_equal_the_per_group_pandas_merge(spark, parts, mk, fb):
    partials = sketch_grouped_partials(_rows(spark, parts), "grp", "item", mk)
    got = _by_group(merge_grouped_partials(partials, fb))
    want = _by_group(_pandas_merge(partials, fb))
    assert len(got) == 37
    assert got == want


@pytest.mark.parametrize("mk,fb", [(_mk_kll, _kll_from_bytes),
                                   (_mk_td, _td_from_bytes)])
def test_order_sensitive_grouped_bytes_repeat(spark, mk, fb):
    """Two merges of the same partials, arriving in opposite orders."""
    import pyarrow as pa

    rows = sketch_grouped_partials(_rows(spark, 7), "grp", "value", mk,
                                   as_float=True).collect()
    runs = []
    for ordered in (rows, rows[::-1]):
        partials = spark.createDataFrame(pa.table({
            "group": pa.array([r["group"] for r in ordered], pa.string()),
            "rows_seen": pa.array([r["rows_seen"] for r in ordered], pa.int64()),
            "sketch": pa.array([bytes(r["sketch"]) for r in ordered],
                               pa.binary())}))
        runs.append(_by_group(merge_grouped_partials(partials, fb)))
    assert len(runs[0]) == 37
    assert sum(n for n, _ in runs[0].values()) == 6_000
    assert runs[0] == runs[1]


def test_a_group_spanning_arrow_batches_folds_to_one_row(spark):
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5")
    try:
        partials = sketch_grouped_partials(_rows(spark, 7), "grp", "item",
                                           _mk_hll)
        got = _by_group(merge_grouped_partials(partials, _hll_from_bytes))
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert got == _by_group(_pandas_merge(partials, _hll_from_bytes))
