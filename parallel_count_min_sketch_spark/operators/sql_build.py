"""Catalyst CMS build and queries as DataFrame operations.

The CMS counter matrix is just a GROUP BY: counter[j][k] = sum of weights
of items with h_j(item) == k. Expressed declaratively, Catalyst gives us
map-side partial aggregation (the per-partition partial sketch), a shuffle
of at most depth*width rows per partition, and whole-stage codegen.
Integer items stay in the JVM end to end. String items are folded in the
scan stage: one numpy ``mapInArrow`` kernel, in the same tasks as the
scan, hashes each token with djb2 and folds it into a per-partition sketch
(the reference's per-rank partial, src/mpi/mpiV2.c:131-140), whose nonzero
cells are the only rows the partial/final ``sum`` shuffles. Point queries
over integer items are broadcast joins against the resulting tiny
(depth x width) table.

This is the "let Catalyst pick the physical strategy" counterpart of the
Arrow kernel in ``sketch_agg.py``; both compute the same matrix (tests
assert equality), and ``bench.py`` races them.

The same SQL text (emitted by CMSConfig.bucket_sql) runs verbatim in DuckDB,
which is how the driver's correctness oracle checks sketch values exactly.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from .. import _arrow_np as anp
from ..config import CMSConfig
from ..memtune import tune_worker
from ..sketches.cms import CountMinSketch
from .sketch_agg import fold_batches

CELLS_SCHEMA = "depth_row INT, bucket BIGINT, counter BIGINT"
_CELLS_PA = pa.schema([("depth_row", pa.int32()), ("bucket", pa.int64()),
                       ("counter", pa.int64())])


def with_item_id(df: DataFrame, col: str, *, out: str = "item_id") -> DataFrame:
    """Cast the integer item column to BIGINT ids.

    selectExpr, not withColumn: same projection, roughly half the
    construction wall (withColumn's per-call replace-check cost ~25 ms
    with the former SQL djb2 expression — measured)."""
    sql = f"CAST(`{col}` AS BIGINT)"
    if out in df.columns:  # withColumn REPLACES; select-star would duplicate
        return df.withColumn(out, F.expr(sql))
    return df.selectExpr("*", f"{sql} AS {out}")


def _string_cells(df: DataFrame, cfg: CMSConfig, weighted: bool) -> DataFrame:
    """The nonzero cells of one numpy CMS per partition of ``df``'s
    ``(item[, weight])`` columns, as CELLS_SCHEMA rows: the Arrow rail's
    fold (``sketch_agg.fold_batches``), so NULL items and NULL weights are
    dropped and a negative weight fails."""
    def cells(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tune_worker()
        sk = cfg.new_sketch()
        fold_batches(sk, batches, weighted=weighted, string_items=True)
        j, k = np.nonzero(sk.table)
        yield pa.RecordBatch.from_arrays(
            [anp.array(j, pa.int32()), anp.array(k), anp.array(sk.table[j, k])],
            schema=_CELLS_PA)

    return df.mapInArrow(cells, CELLS_SCHEMA)


def cms_table_df(df: DataFrame, item_col: str, cfg: CMSConfig, *,
                 weight_col: str | None = None, string_items: bool = False,
                 pre_aggregate: bool = False,
                 row_strategy: str = "explode") -> DataFrame:
    """The sketch matrix as DataFrame[depth_row INT, bucket BIGINT, counter BIGINT].

    Omits zero counters (a dense matrix is reconstructed by zero-filling;
    ``cells_to_sketch``).

    String items are folded in the scan stage: one ``mapInArrow`` kernel
    (``_string_cells``) runs in the scan's tasks, hashes every occurrence
    (``djb2_batch``) and folds it into a ``CountMinSketch`` with a weighted
    bincount (the Arrow rail's fold); only its nonzero cells cross the one
    Exchange, into a partial/final ``sum``. NULL items and NULL weights
    are dropped and a negative input weight raises, as on the Arrow rail.
    Integer items stay pure JVM with SQL semantics: a NULL item lands in a
    NULL bucket (the DuckDB oracles replay the same SQL).

    ``pre_aggregate=True`` (integer items) first collapses the stream to
    (item, total_weight) with a JVM hash aggregate and an extra exchange,
    so the bucket arithmetic runs once per DISTINCT item instead of once
    per occurrence: it pays on heavily repeated items (``bench.py``'s
    distinct-first build of the ~9k-value reference mixture). The
    resulting matrix is bit-identical either way: sum of per-occurrence
    weights == per-item weight totals. String items have one build and
    ignore it.

    ``row_strategy`` picks the physical shape of the per-occurrence
    integer build (bit-identical output either way; string items have one
    build and ignore it):

    - ``"explode"`` (default): one scan; posexplode fans each row into
      ``depth`` (depth_row, bucket) rows before ONE hash aggregate. Right
      whenever the scan is the expensive part — a cold 100-TB parquet read
      must happen exactly once.
    - ``"rescan"``: ``depth`` independent single-bucket groupBys unioned
      together — no generator, each aggregate hashes a bare BIGINT and its
      hash table holds ``width`` (not depth*width) groups, but the source
      is scanned ``depth`` times. ~2x faster when the input is cached
      columnar in memory (measured 4.9s -> 2.5s on 500M cached items,
      local[32]; BENCH/parity_1000m.json carries the 1e9 numbers), strictly
      worse on a cold distributed scan. Use for iterative/in-memory builds
      only.
    """
    if row_strategy not in ("explode", "rescan"):
        raise ValueError(f"row_strategy must be explode|rescan, got {row_strategy!r}")
    sel = df.select(item_col, *([weight_col] if weight_col else []))
    if string_items:
        return (_string_cells(sel, cfg, weighted=bool(weight_col))
                .groupBy("depth_row", "bucket")
                .agg(F.sum("counter").alias("counter")))
    if pre_aggregate:
        w_in = (f"CAST(`{weight_col}` AS BIGINT)" if weight_col
                else "CAST(1 AS BIGINT)")
        sel = sel.groupBy(item_col).agg(F.expr(f"sum({w_in}) AS __pcms_w"))
        weight_col = "__pcms_w"
    base = with_item_id(sel, item_col)
    # single parsed projection strings below (not per-depth Column
    # chains): same analyzed plan, ~35% less construction wall per call
    # — this constructor runs once per rep of the headline build
    w_sql = (f"CAST(`{weight_col}` AS BIGINT) AS weight" if weight_col
             else "CAST(1 AS BIGINT) AS weight")
    if row_strategy == "rescan":
        parts = [
            base.selectExpr(f"{sql} AS bucket", w_sql)
            .groupBy("bucket").agg(F.sum("weight").alias("counter"))
            .selectExpr(f"CAST({j} AS INT) AS depth_row", "bucket", "counter")
            for j, sql in enumerate(cfg.bucket_sql_all_rows("item_id"))
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        return out
    arr = "array(" + ", ".join(cfg.bucket_sql_all_rows("item_id")) + ")"
    exploded = base.selectExpr(f"posexplode({arr}) AS (depth_row, bucket)",
                               w_sql)
    return (
        exploded.groupBy("depth_row", "bucket")
        .agg(F.sum("weight").alias("counter"))
    )


def cells_to_sketch(rows, cfg: CMSConfig) -> CountMinSketch:
    """The dense sketch of collected ``cms_table_df`` rows. Rows with a
    NULL bucket (a NULL integer item has no bucket) or a NULL counter (only
    NULL weights: no occurrences) are skipped, so the sketch equals the
    Arrow rail's build, which drops NULL items and NULL weights."""
    sk = cfg.new_sketch()
    for r in rows:
        if r["bucket"] is not None and r["counter"] is not None:
            sk.table[r["depth_row"], r["bucket"]] = r["counter"]
    sk.total = int(sk.table[0].sum())
    return sk


def collect_cms(df: DataFrame, item_col: str, cfg: CMSConfig, *,
                row_strategy: str = "explode") -> CountMinSketch:
    """Materialize the Catalyst-built sketch of unweighted integer items
    into the numpy kernel object."""
    return cells_to_sketch(
        cms_table_df(df, item_col, cfg, row_strategy=row_strategy).collect(), cfg)


def point_query_join(table: DataFrame, probes_df: DataFrame, probe_col: str,
                     cfg: CMSConfig) -> DataFrame:
    """Distributed CMS point query against a prebuilt sketch table:
    est(x) = min over depth rows of counter[j][h_j(x)].

    The sketch table is at most depth*width rows regardless of input size,
    so it is always broadcast — the probe side can be arbitrarily large
    (e.g. every distinct token for heavy-hitter extraction) and never
    shuffles against the data, only a map-side join + small groupBy.
    Missing buckets are zero counters. Probes are integer items.
    """
    qdf = with_item_id(probes_df.select(F.col(probe_col).alias("item")), "item",
                       out="qid")
    arr = "array(" + ", ".join(cfg.bucket_sql_all_rows("qid")) + ")"
    probes = qdf.selectExpr("item", f"posexplode({arr}) AS (depth_row, bucket)")
    joined = probes.join(F.broadcast(table), ["depth_row", "bucket"], "left")
    per_row = joined.select("item", F.coalesce("counter", F.lit(0)).alias("counter"))
    return per_row.groupBy("item").agg(F.min("counter").alias("cms_estimate"))


def point_query_df(df: DataFrame, item_col: str, cfg: CMSConfig,
                   query_items) -> DataFrame:
    """Point query for an explicit list of integer items ->
    DataFrame[item, cms_estimate]."""
    table = cms_table_df(df, item_col, cfg)
    # an Arrow table plans as a JVM LocalTableScan; a list of tuples would
    # be a Python-RDD scan that starts Python tasks on every collect
    items = pa.array([int(x) for x in query_items], pa.int64())
    qdf = df.sparkSession.createDataFrame(pa.table({"item": items}))
    return point_query_join(table, qdf, "item", cfg)
