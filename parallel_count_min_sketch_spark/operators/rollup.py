"""Time-bucketed sketch rollup: the materialized-rollup / hypertable pattern.

At 100 TB an events table is append-only and time-partitioned; rebuilding a
sketch per ad-hoc time-range query would rescan the corpus every time.
Instead we materialize ONE small sketch per time bucket (day) — a rollup
table of KB-sized blobs, built in a single scan on the grouped two-phase
rails (``sketch_agg.sketch_grouped``) — and answer any [lo, hi] range query
by merging just the covered bucket sketches. Every kernel rides the same
functions, given as ``(make_sketch, from_bytes)``: for a CMS pass
``(cfg.new_sketch, cfg.from_bytes)``. CMS is linear in its input multiset
(counters are sums), so the merge of per-day sketches is BIT-IDENTICAL to
a sketch built directly over the date-filtered rows — the same
element-wise merge the reference uses across MPI ranks (reference:
src/mpi/mpiV2.c:163-175), applied across time partitions instead of
ranks. Build cost amortizes across every future range query; query cost
is O(n_buckets) KB-blobs, independent of corpus size.

In production the bucket DataFrame is written once to a
``SketchStore`` keyed by ``bucket`` (operators/sketch_store.py): one
partition directory per day, a re-written day replaces its own directory,
and bucket-range predicates prune partitions at scan time.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, functions as F

from .sketch_agg import fold_blobs, merge_sketch_partials, sketch_grouped


def _day_bucket(df: DataFrame, ts_col: str) -> DataFrame:
    """TIMESTAMP_NTZ-safe calendar-day bucket key: cast to DATE then
    STRING — timezone-independent and replayable as DuckDB's
    CAST(ts AS DATE). ISO date strings sort lexicographically in
    chronological order, so bucket-range predicates are plain string
    comparisons (and partition-prunable when the rollup table is written
    partitioned by bucket)."""
    return df.withColumn("__bucket", F.col(ts_col).cast("date").cast("string"))


def sketch_time_buckets(df: DataFrame, ts_col: str, item_col: str,
                        make_sketch: Callable, from_bytes: Callable, *,
                        as_float: bool = False,
                        pre_aggregate: bool = False) -> DataFrame:
    """DataFrame[bucket, rows_seen, sketch]: one merged sketch per
    calendar day of ``ts_col`` for ANY kernel implementing the
    update_batch/merge/to_bytes protocol — per-day CMS (frequencies), HLL
    (distinct users per day), Bloom, KLL. Rows with a NULL timestamp or
    NULL item are dropped, mirroring the grouped rails' NULL policy.

    ``pre_aggregate=True`` picks the distinct-first plan: collapse to
    (day, DISTINCT item, count) JVM-side first (Catalyst partial/final agg
    with map-side combine), so the Arrow channel moves one weighted row
    per distinct (day, item) instead of one per occurrence. Use it iff
    distinct (day, item) pairs << rows (hot-key traffic, log-ingest
    arrival where each input split covers few days): measured for CMS at
    100M rows in BENCH/rollup_scale{,_clustered}.json — 1.5x faster at
    7.3M pairs, slower when pairs are near-unique. State is identical
    through each kernel's WEIGHTED protocol: bit-equal for 'native'
    kernels (CMS and MG add the counts) and 'invariant' ones (HLL/Bloom/
    KMV ignore them); 'repeat' kernels (KLL/t-digest) see the same
    multiset but a different arrival order, so bytes may differ while the
    published bounds hold — the usual repartition caveat."""
    bucketed = _day_bucket(df, ts_col)
    if pre_aggregate:
        pre = bucketed.groupBy("__bucket", item_col).agg(
            F.count("*").alias("__w"))
        out = sketch_grouped(pre, "__bucket", item_col, make_sketch,
                             from_bytes, as_float=as_float, weight_col="__w")
    else:
        out = sketch_grouped(bucketed, "__bucket", item_col,
                             make_sketch, from_bytes, as_float=as_float)
    return out.withColumnRenamed("group", "bucket")


def sketch_rollup_range(buckets_df: DataFrame, lo: str, hi: str,
                        make_sketch: Callable, from_bytes: Callable):
    """Merge the bucket sketches with ``lo <= bucket <= hi`` (ISO date
    strings — lexicographic order IS chronological order) into one sketch
    via the associative fan-in merge. Sum-merge kernels (CMS) give a
    sketch bit-identical to a direct build over the range; idempotent
    merges (HLL max, Bloom OR) give the EXACT same state a direct build
    would because day buckets partition the rows (each row lands in
    exactly one bucket). An empty range yields ``make_sketch()``
    untouched."""
    sel = buckets_df.filter(
        (F.col("bucket") >= F.lit(lo)) & (F.col("bucket") <= F.lit(hi))
    )
    sk = merge_sketch_partials(sel, from_bytes)
    return make_sketch() if sk is None else sk


def rollup_range_collect(buckets_df: DataFrame, lo: str, hi: str,
                         from_bytes: Callable):
    """ONE-job range read of a bucket table: collect the covered
    ``(bucket, sketch)`` rows (bounded by the day span — KB-sized blobs,
    the store regime's whole point) and fold them driver-side in bucket
    order. Returns ``(rows, sketch_or_None)``.

    Unlike :func:`sketch_rollup_range`, the caller also gets the covered rows,
    and the driver fold runs the same ``merge()`` calls in a
    deterministic (bucket-sorted) order: bit-identical for sum-merge
    (CMS) and idempotent (HLL/Bloom/KMV) kernels; for order-sensitive
    summaries (MG) the merged BYTES may differ from a tree order but
    every published invariant (coverage, decrement bound) holds for any
    merge order — the same caveat sketch_time_buckets already documents.
    The sliding-window HLL query has used this exact pattern since r5."""
    rows = buckets_df.filter(
        (F.col("bucket") >= F.lit(lo)) & (F.col("bucket") <= F.lit(hi))
    ).select("bucket", "sketch").collect()
    ordered = sorted(rows, key=lambda r: r["bucket"])
    return rows, fold_blobs((r["sketch"] for r in ordered), from_bytes)
