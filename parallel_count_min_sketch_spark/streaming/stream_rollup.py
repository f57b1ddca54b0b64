"""Streaming maintenance of a sketch store.

A stream maintains a ``SketchStore`` keyed by ``(batch_id, bucket)``:
each micro-batch writes one partial sketch per bucket it touches, and a
read folds every partial of the covered buckets. Because sketch merges
are associative, the folded store is the same sketch a batch build gives
(reference merge analog: src/mpi/mpiV2.c:163-175 — partial sketches
folded by an associative reduce, here across micro-batches x buckets
instead of ranks). The bucket is a calendar day for a time rollup
(``rollup.sketch_time_buckets``) and a constant for a global sketch
(``token_sketch``).

Exactly-once without driver-side state: a micro-batch's partials land in
its ``batch_id=N`` partition directories through the store's dynamic
overwrite, so an at-least-once foreachBatch REPLAY of batch N replaces
its own directories with identical content instead of appending
duplicates. Batch ids are only unique within one streaming checkpoint, so
the store is bound to the checkpoint it is first streamed under and
refuses any other before the query starts.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, functions as F

from ..operators.sketch_agg import (
    merge_grouped_partials,
    sketch_grouped_from_text,
)
from ..operators.sketch_store import SketchStore

STREAM_KEYS = ("batch_id", "bucket")


def token_sketch(df: DataFrame, text_col: str, make_sketch: Callable,
                 from_bytes: Callable) -> DataFrame:
    """DataFrame[bucket, rows_seen, sketch]: the token sketch of
    ``text_col`` as one row under the constant bucket ``"all"``."""
    return sketch_grouped_from_text(
        df.withColumn("__all", F.lit("all")), "__all", text_col,
        make_sketch, from_bytes).withColumnRenamed("group", "bucket")


def sketch_sink(store: SketchStore, sketch_batch: Callable):
    """foreachBatch callback writing ``sketch_batch(batch_df)`` — a
    DataFrame[bucket, rows_seen, sketch] — under the batch's id. Safe to
    replay: a batch's directories are overwritten, never appended.

    For sum-merge (CMS) and idempotent-merge kernels (HLL max, Bloom OR)
    the folded store is byte-identical to a one-shot batch build (tested);
    for randomized-compaction kernels (KLL, t-digest) the published error
    bounds hold but bytes depend on the batch split — the same caveat as
    any repartition."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        store.write(sketch_batch(batch_df)
                    .withColumn("batch_id", F.lit(int(batch_id))))

    return process


def compact(store: SketchStore, spark, path: str) -> SketchStore:
    """Fold the stream store ``store`` into a new store at ``path`` keyed
    by ``bucket`` alone (one row per bucket instead of one per touching
    micro-batch), so a long-running maintainer can bound its file count.
    A pure merge: every fold answers the same bytes (tested)."""
    out = SketchStore(path, ("bucket",), store.make_sketch, store.from_bytes)
    grouped = store.read(spark).select(F.col("bucket").alias("group"),
                                       "rows_seen", "sketch")
    out.write(merge_grouped_partials(grouped, store.from_bytes)
              .withColumnRenamed("group", "bucket"))
    return out


def start_sketch_stream(stream_df: DataFrame, sketch_batch: Callable,
                        store_path: str, make_sketch: Callable,
                        from_bytes: Callable, checkpoint_dir: str, *,
                        available_now: bool = True):
    """Bind the store at ``store_path`` to ``checkpoint_dir``, then start
    the query that feeds it through ``sketch_sink``; returns ``(query,
    store)``. A store bound to another streaming checkpoint raises
    ``ValueError`` before the query starts. ``available_now=True`` drains
    every available source file then stops — the backfill/catch-up mode;
    pass False for a continuously running maintainer."""
    store = SketchStore(store_path, STREAM_KEYS, make_sketch, from_bytes,
                        stream_checkpoint=checkpoint_dir)
    writer = (
        stream_df.writeStream
        .foreachBatch(sketch_sink(store, sketch_batch))
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start(), store
