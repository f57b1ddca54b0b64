"""Streaming maintenance of the durable time-rollup store.

The rollup store (operators/rollup.py) is a parquet table of per-day
sketch blobs. Because sketch merges are associative, a STREAM can
maintain it incrementally: each micro-batch contributes one partial
sketch per day it touches, and a range query folds every partial of the
covered days — the same linearity that makes the batch rollup
bit-identical to a direct build.

Exactly-once without a driver-side state blob: each batch writes its
day-partials under ``batch_id=N/bucket=D`` partition directories with
dynamic partition overwrite, so an at-least-once foreachBatch REPLAY of
batch N overwrites its own directories with identical content instead of
appending duplicates. The store stays correct through crash/restart with
no coordination beyond Spark's own source checkpoint (reference merge
analog: src/mpi/mpiV2.c:163-175 — partial sketches folded by an
associative reduce, here across micro-batches x days instead of ranks).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, functions as F

from ..operators.rollup import sketch_time_buckets, write_rollup
from ..operators.sketch_agg import merge_grouped_partials


def rollup_sink(make_sketch: Callable, from_bytes: Callable, ts_col: str,
                item_col: str, store_path: str, *, string_items: bool = False,
                as_float: bool = False):
    """foreachBatch callback maintaining a per-day rollup store at
    ``store_path`` for ANY update/merge/to_bytes kernel — per-day CMS
    (``cfg.new_sketch, cfg.from_bytes``), per-day HLL = stream-maintained
    COUNT DISTINCT per day, per-day MG = windowed top-k candidates. Use
    with ``writeStream.foreachBatch(...)`` (any trigger, including
    availableNow backfills). Safe to replay: the (batch_id, bucket)
    partition directories are idempotently overwritten, never appended.
    The dynamic overwrite mode is scoped to THIS writer via the per-write
    option — never set session-wide, so concurrent sinks/jobs on the same
    SparkSession keep their own overwrite semantics.

    Merge associativity is the whole contract: for sum-merge (CMS) and
    idempotent-merge kernels (HLL max, Bloom OR) the folded store is
    byte-identical to a one-shot batch build (tested); for
    randomized-compaction kernels (KLL, t-digest) the published error
    bounds hold but bytes depend on the batch split — same caveat as any
    repartition."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        buckets = sketch_time_buckets(batch_df, ts_col, item_col,
                                      make_sketch, from_bytes,
                                      string_items=string_items,
                                      as_float=as_float)
        (
            buckets.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", "bucket")
            .parquet(store_path)
        )

    return process


def read_stream_rollup(spark, store_path: str) -> DataFrame:
    """Read a stream-maintained rollup store back into the
    [bucket, ..., sketch] shape the range-merge functions take. A day
    that spans micro-batches carries several partial rows; the range
    merges fold them by associativity, so no compaction is required for
    correctness (a periodic batch rewrite via write_rollup stays
    available as an optimization once batch counts grow)."""
    df = spark.read.parquet(store_path)
    return df.withColumn("bucket", F.col("bucket").cast("string"))


def compact_rollup(spark, store_path: str, out_path: str,
                   from_bytes: Callable) -> None:
    """Fold a stream-maintained store (several partial rows per day, one
    per touching micro-batch) into the canonical one-row-per-day
    [bucket, rows_seen, sketch] form and persist it with ``write_rollup``.
    Pure merge by associativity — the compacted store answers every range
    query with the same bytes (tested) while dropping the batch_id
    dimension, so long-running maintainers can bound file counts with a
    periodic compaction instead of carrying one file per (batch, day)
    forever."""
    grouped = read_stream_rollup(spark, store_path).select(
        F.col("bucket").alias("group"), "rows_seen", "sketch"
    )
    merged = merge_grouped_partials(grouped, from_bytes).withColumnRenamed(
        "group", "bucket")
    write_rollup(merged, out_path, mode="overwrite")


def start_rollup_stream(stream_df: DataFrame, make_sketch: Callable,
                        from_bytes: Callable, ts_col: str, item_col: str,
                        store_path: str, checkpoint_dir: str, *,
                        string_items: bool = False,
                        available_now: bool = True):
    """Wire a streaming DataFrame into the rollup store (``rollup_sink``)
    and start the query. ``available_now=True`` drains every available
    source file then stops — the backfill/catch-up mode; pass False for a
    continuously running maintainer."""
    writer = (
        stream_df.writeStream
        .foreachBatch(rollup_sink(make_sketch, from_bytes, ts_col, item_col,
                                  store_path, string_items=string_items))
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
