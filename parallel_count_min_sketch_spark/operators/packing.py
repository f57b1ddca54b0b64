"""Concat-and-split sequence packing — the GPT-style pretraining layout:
documents are concatenated in a fixed order and the token stream is cut
every ``budget`` tokens into training sequences ("packs"). The operator
computes, per document, its global token offset and pack placement —
the metadata a tokenizer-sharding job needs to emit packed sequences.

The core is a DISTRIBUTED PREFIX SUM over the document order, built the
scale-safe way:

1. range-partition on the order column (so partition i holds an ordered
   contiguous slice; Spark's range partitioner samples boundaries);
2. one tiny aggregate — per-partition token totals, P rows — collected
   and prefix-summed on the driver (P = shuffle partitions, bounded and
   corpus-independent);
3. a per-partition running-sum window (partitionBy(pid), so WindowExec
   buffers one partition's rows, never the corpus) plus the broadcast
   partition offset.

The naive alternative — ``SUM() OVER (ORDER BY ...)`` with no partition
— funnels the whole corpus through ONE task (Exchange SinglePartition);
the plan gate in test_plan_quality.py asserts that shape never appears.

Offsets depend only on the order column (not on partition boundaries),
so a DuckDB window replays them exactly.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Window, functions as F


def concat_split_packing(df: DataFrame, order_col: str, ntok_col: str,
                         budget: int,
                         num_partitions: int | None = None,
                         pin_partitions: bool = True) -> DataFrame:
    """Adds to each row: ``start_offset`` (global token offset of the
    doc's first token under concatenation in ``order_col`` order),
    ``pack_id`` (= start_offset DIV budget), and ``crosses_boundary``
    (doc spans a pack cut — the doc a packed loader must split or mask).
    ``order_col`` values must be unique (they define the concatenation
    order); empty docs get well-defined offsets and never cross.

    ``pin_partitions=False`` skips the localCheckpoint below — safe ONLY
    when ``df``'s lineage is deterministic (a parquet scan, a range):
    the totals job and the output query then recompute identical
    partition assignments and the ~rows x 3-longs materialization is
    saved. Leave True for anything sampled, rand()-derived, or
    shuffled-upstream — silent offset corruption otherwise."""
    if budget <= 0:
        raise ValueError("budget must be positive")
    parts = df.repartitionByRange(
        *( [num_partitions] if num_partitions else [] ), F.col(order_col))
    parts = parts.withColumn("_pid", F.spark_partition_id())
    # pin the partition assignment: the totals job below and the returned
    # query are SEPARATE executions, and without truncating lineage a
    # nondeterministic source (sample(), rand()-derived columns) — or a
    # re-sampled range boundary — could assign different _pid values in
    # each, silently corrupting every offset. localCheckpoint materializes
    # the partitioned slice once (executor-local storage; lost blocks fail
    # the job instead of recomputing) and both jobs read the same bytes.
    if pin_partitions:
        parts = parts.localCheckpoint(eager=True)
    totals = (parts.groupBy("_pid")
              .agg(F.sum(F.col(ntok_col).cast("long")).alias("_tot"))
              .collect())  # P rows — bounded by shuffle partitions
    offsets, acc = {}, 0
    for row in sorted(totals, key=lambda r: r["_pid"]):
        offsets[row["_pid"]] = acc
        acc += int(row["_tot"] or 0)
    off_df = parts.sparkSession.createDataFrame(pa.table({
        "_pid": pa.array(list(offsets), pa.int32()),
        "_off": pa.array(list(offsets.values()), pa.int64())}))
    w = (Window.partitionBy("_pid").orderBy(order_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    local = F.coalesce(F.sum(F.col(ntok_col).cast("long")).over(w),
                       F.lit(0).cast("long"))
    out = (parts.join(F.broadcast(off_df), "_pid")
           .withColumn("start_offset", F.col("_off") + local)
           .drop("_pid", "_off"))
    b = int(budget)
    # DIV, not '/': integer division stays exact at any offset magnitude
    end_pack = F.expr(
        f"(start_offset + greatest(CAST({ntok_col} AS BIGINT), 1) - 1) DIV {b}")
    return (out.withColumn("pack_id", F.expr(f"start_offset DIV {b}"))
            .withColumn("crosses_boundary",
                        (F.col(ntok_col) > 0)
                        & (end_pack > F.col("pack_id"))))
