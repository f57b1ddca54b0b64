"""Time-bucketed CMS rollup: linearity, boundaries, partition invariance."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from parallel_count_min_sketch_spark.config import CMSConfig
from parallel_count_min_sketch_spark.operators.agg import build_cms
from parallel_count_min_sketch_spark.operators.rollup import (
    sketch_rollup_range,
    sketch_time_buckets,
)
from parallel_count_min_sketch_spark.operators.sketch_store import SketchStore

CFG = CMSConfig(epsilon=0.01, delta=0.1, seed=7)
CMS = (CFG.new_sketch, CFG.from_bytes)


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet("/root/testdata/sf0.001/events.parquet")


def test_rollup_range_merge_equals_direct_build(spark, events):
    """CMS linearity: merging the per-day bucket sketches over [lo, hi] is
    BIT-IDENTICAL to one sketch built directly over the date-filtered rows
    — the property that lets a rollup table answer range queries without
    rescanning the corpus."""
    lo, hi = "2024-01-05", "2024-01-12"
    buckets = sketch_time_buckets(events, "ts", "user_id", *CMS)
    merged = sketch_rollup_range(buckets, lo, hi, *CMS)

    direct_rows = events.filter(
        (F.col("ts").cast("date") >= F.lit(lo).cast("date"))
        & (F.col("ts").cast("date") <= F.lit(hi).cast("date"))
    )
    direct = build_cms(direct_rows, "user_id", CFG)
    assert merged.to_bytes() == direct.to_bytes()
    assert merged.total == direct_rows.count()


def test_rollup_boundaries_inclusive(spark, events):
    """Single-day range == exactly that day's bucket sketch."""
    buckets = sketch_time_buckets(events, "ts", "user_id", *CMS)
    day = "2024-01-03"
    one = sketch_rollup_range(buckets, day, day, *CMS)
    row = buckets.filter(F.col("bucket") == day).collect()
    assert len(row) == 1
    assert bytes(row[0]["sketch"]) == one.to_bytes()


def test_rollup_empty_range_is_zero_sketch(spark, events):
    buckets = sketch_time_buckets(events, "ts", "user_id", *CMS)
    sk = sketch_rollup_range(buckets, "1999-01-01", "1999-12-31", *CMS)
    assert sk.total == 0
    assert sk.to_bytes() == CFG.new_sketch().to_bytes()


def test_rollup_partition_invariant(spark, events):
    """Same bytes whatever the input partitioning (counter addition is
    commutative and associative)."""
    lo, hi = "2024-01-02", "2024-01-20"
    a = sketch_rollup_range(
        sketch_time_buckets(events.repartition(1), "ts", "user_id", *CMS), lo, hi, *CMS)
    b = sketch_rollup_range(
        sketch_time_buckets(events.repartition(13), "ts", "user_id", *CMS), lo, hi, *CMS)
    assert a.to_bytes() == b.to_bytes()


def test_generic_rollup_hll_union_equals_direct_build(spark, events):
    """Idempotent-merge kernels on the generic rails: day buckets
    partition the rows, and HLL's register-max merge is idempotent, so
    the merged range rollup carries EXACTLY the registers of a direct
    build over the filtered rows."""
    from parallel_count_min_sketch_spark.operators.rollup import (
        sketch_rollup_range,
        sketch_time_buckets,
    )
    from parallel_count_min_sketch_spark.operators.sketch_agg import build_sketch

    # closures (pickled by value): a bound classmethod would drag the
    # module-level struct.Struct constants into cloudpickle, and a
    # test-module function isn't importable on executors
    def mk():
        from parallel_count_min_sketch_spark.sketches.hll import HyperLogLog

        return HyperLogLog(10, 33)

    def fb(b):
        from parallel_count_min_sketch_spark.sketches.hll import HyperLogLog

        return HyperLogLog.from_bytes(b)

    lo, hi = "2024-01-05", "2024-01-12"
    buckets = sketch_time_buckets(events, "ts", "user_id", mk, fb)
    merged = sketch_rollup_range(buckets, lo, hi, mk, fb)
    direct_rows = events.filter(
        (F.col("ts").cast("date") >= F.lit(lo).cast("date"))
        & (F.col("ts").cast("date") <= F.lit(hi).cast("date"))
    )
    direct = build_sketch(direct_rows, "user_id", mk, fb)
    assert merged.to_bytes() == direct.to_bytes()

    empty = sketch_rollup_range(buckets, "1999-01-01", "1999-12-31", mk, fb)
    assert empty.to_bytes() == mk().to_bytes()


def test_pre_aggregate_rollup_build_is_bit_identical(spark, events):
    """The distinct-first rollup build (groupBy(day, item) count, then
    weighted grouped build) must produce byte-identical day sketches —
    weighted CMS updates are the same integer sums."""
    lo, hi = "2024-01-02", "2024-01-25"
    plain = sketch_rollup_range(
        sketch_time_buckets(events, "ts", "user_id", *CMS), lo, hi, *CMS)
    pre = sketch_rollup_range(
        sketch_time_buckets(events, "ts", "user_id", *CMS, pre_aggregate=True),
        lo, hi, *CMS)
    assert plain.to_bytes() == pre.to_bytes()


def test_kll_rollup_range_rank_accuracy(spark, events):
    """Quantile pillar: merging per-day KLLs over a range is NOT
    bit-identical to a direct build (randomized compaction), but the
    merged sketch must keep the rank-error bound against the exact
    distribution of the date-filtered rows."""
    import numpy as np

    from parallel_count_min_sketch_spark.operators.rollup import (
        sketch_rollup_range,
        sketch_time_buckets,
    )

    def mk():
        from parallel_count_min_sketch_spark.sketches.kll import KLLSketch

        return KLLSketch(200, 5)

    def fb(b):
        from parallel_count_min_sketch_spark.sketches.kll import KLLSketch

        return KLLSketch.from_bytes(b)

    lo, hi = "2024-01-05", "2024-01-18"
    buckets = sketch_time_buckets(events, "ts", "value", mk, fb, as_float=True)
    sk = sketch_rollup_range(buckets, lo, hi, mk, fb)
    vals = np.sort(
        np.array(
            [
                r["value"]
                for r in events.filter(
                    (F.col("ts").cast("date") >= F.lit(lo).cast("date"))
                    & (F.col("ts").cast("date") <= F.lit(hi).cast("date"))
                    & F.col("value").isNotNull()
                ).select("value").collect()
            ]
        )
    )
    qs = np.array([0.01, 0.1, 0.5, 0.9, 0.99])
    est = sk.quantile(qs)
    for q, e in zip(qs, est):
        rank = np.searchsorted(vals, e, side="right") / len(vals)
        assert abs(rank - q) <= 0.05, (q, e, rank)


def _day_store(path, cfg=CFG):
    return SketchStore(path, ("bucket",), cfg.new_sketch, cfg.from_bytes)


def test_rollup_write_read_partition_pruned(spark, events, tmp_path):
    """The durable rollup store: write partitioned by bucket, read back,
    and a range query (a) prunes to ONLY the covered day partitions —
    the bucket predicate must appear as a PartitionFilter on the scan,
    not a post-scan data filter — and (b) folds to the same bytes as
    the in-memory rollup."""
    buckets = sketch_time_buckets(events, "ts", "user_id", *CMS)
    store = _day_store(str(tmp_path / "rollup_store"))
    store.write(buckets)

    back = store.read(spark)
    lo, hi = "2024-01-05", "2024-01-12"
    sel = back.filter((F.col("bucket") >= lo) & (F.col("bucket") <= hi))
    plan = sel._jdf.queryExecution().executedPlan().toString()
    # 'bucket' must appear INSIDE the PartitionFilters bracket (the scan's
    # output column list on the same line always contains it, so a plain
    # substring check would pass vacuously on PartitionFilters: [])
    assert re.search(r"PartitionFilters: \[[^\]]*bucket", plan), plan
    assert sel.count() == 8  # exactly the covered days survive pruning

    merged = store.fold(spark, F.col("bucket").between(lo, hi))
    direct = sketch_rollup_range(buckets, lo, hi, *CMS)
    assert merged.to_bytes() == direct.to_bytes()


def test_rollup_rewrite_day_is_idempotent(spark, events, tmp_path):
    """Re-running a day's build (retry/backfill) must replace that day's
    directory, not double-count: the range fold answers identical bytes
    after the re-write, and only the re-written day's directory is
    touched (other days keep their rows)."""
    buckets = sketch_time_buckets(events, "ts", "user_id", *CMS).persist()
    store = _day_store(str(tmp_path / "rollup_store"))
    store.write(buckets)
    lo, hi = "2024-01-05", "2024-01-12"
    in_range = F.col("bucket").between(lo, hi)
    before = store.fold(spark, in_range).to_bytes()

    # retry of one day inside the range: same content, written again
    day = buckets.filter(F.col("bucket") == "2024-01-07")
    assert day.count() == 1
    store.write(day)
    buckets.unpersist()

    assert store.fold(spark, in_range).to_bytes() == before
    back = store.read(spark)
    # one row per day survived: the day was replaced, not appended
    assert back.count() == back.select("bucket").distinct().count()


def test_rollup_store_rejects_other_config(spark, events, tmp_path):
    """A day store written under one seed refuses a reader or writer with
    another seed before any compute: its blobs hash under the old seed."""
    path = str(tmp_path / "rollup_store")
    store = _day_store(path)
    store.write(sketch_time_buckets(events, "ts", "user_id", *CMS))
    before = store.fold(spark).to_bytes()
    other = CMSConfig(epsilon=0.01, delta=0.1, seed=8)
    with pytest.raises(ValueError, match="is bound to") as err:
        _day_store(path, other)
    assert "CountMinSketch" in str(err.value)
    assert _day_store(path).fold(spark).to_bytes() == before


def test_rollup_estimates_one_sided(spark, events):
    """Point estimates from the merged range sketch keep the CMS one-sided
    guarantee vs exact filtered counts."""
    lo, hi = "2024-01-05", "2024-01-12"
    buckets = sketch_time_buckets(events, "ts", "user_id", *CMS)
    sk = sketch_rollup_range(buckets, lo, hi, *CMS)
    exact = {
        r["user_id"]: r["c"]
        for r in events.filter(
            (F.col("ts").cast("date") >= F.lit(lo).cast("date"))
            & (F.col("ts").cast("date") <= F.lit(hi).cast("date"))
        ).groupBy("user_id").agg(F.count("*").alias("c")).collect()
    }
    users = np.array(sorted(exact), dtype=np.int64)
    ests = sk.point_query(users)
    for u, e in zip(users, ests):
        assert e >= exact[int(u)]
        assert e - exact[int(u)] <= CFG.epsilon * sk.total


def test_mg_rollup_range_frequent_set_exact_under_eviction(spark, events):
    """Misra-Gries day-rollup with a DELIBERATELY small k (forces real
    decrements in the day summaries and in the range merge): the merged
    summary's kept set must still contain EVERY user whose windowed count
    exceeds the merged decrement bound (the mergeable-summaries
    guarantee), the bound must obey offset <= N/(k+1), and every kept
    count must sandwich the exact count (lower <= exact <= lower+offset)."""
    from functools import partial

    from parallel_count_min_sketch_spark.operators.heavy_hitters import (
        _mg_from_bytes,
    )
    from parallel_count_min_sketch_spark.operators.rollup import (
        sketch_rollup_range,
        sketch_time_buckets,
    )
    from parallel_count_min_sketch_spark.sketches.misra_gries import MisraGries

    k = 8  # far below the ~150 distinct users: decrements WILL happen
    lo, hi = "2024-01-05", "2024-01-18"
    buckets = sketch_time_buckets(events, "ts", "user_id",
                                  partial(MisraGries, k), _mg_from_bytes)
    mg = sketch_rollup_range(buckets, lo, hi,
                             partial(MisraGries, k), _mg_from_bytes)
    win = (events.filter(
        (F.col("ts").cast("date") >= F.lit(lo).cast("date"))
        & (F.col("ts").cast("date") <= F.lit(hi).cast("date"))
        & F.col("user_id").isNotNull())
        .groupBy("user_id").count().collect())
    exact = {int(r["user_id"]): int(r["count"]) for r in win}
    n = sum(exact.values())
    assert mg.n_total == n
    offset = mg.error_bound()
    assert 0 < offset <= n // (k + 1)          # eviction really happened
    kept = {int(i): int(c) for i, c in zip(mg.items, mg.counts)}
    for u, c in exact.items():
        if c > offset:                          # completeness guarantee
            assert u in kept, (u, c, offset)
    for u, lower in kept.items():               # sandwich bound
        assert lower <= exact.get(u, 0) <= lower + offset


def test_generic_rollup_pre_aggregate_bit_identical_for_hll(spark, events):
    """sketch_time_buckets(pre_aggregate=True) must produce byte-identical
    per-day HLL blobs: distinct-first feeding the 'invariant' weighted
    protocol sees the same item set per day."""
    from functools import partial

    from parallel_count_min_sketch_spark.operators.rollup import (
        sketch_time_buckets,
    )
    from parallel_count_min_sketch_spark.plans.sketch_queries import (
        _hll_from_bytes,
    )
    from parallel_count_min_sketch_spark.sketches.hll import HyperLogLog

    mk = partial(HyperLogLog, 12, 7)
    plain = {r["bucket"]: bytes(r["sketch"]) for r in
             sketch_time_buckets(events, "ts", "user_id", mk,
                                 _hll_from_bytes).collect()}
    pre = {r["bucket"]: bytes(r["sketch"]) for r in
           sketch_time_buckets(events, "ts", "user_id", mk, _hll_from_bytes,
                               pre_aggregate=True).collect()}
    assert plain == pre and len(plain) > 0
