"""Exact quantile companions for the KLL / t-digest estimators.

The sketch estimators are float-valued and partition-shape dependent, so
the driver's value-hash oracle can't check them directly. These operators
compute the *exact* pieces the DuckDB oracle CAN replay bit-for-bit:

- ``exact_discrete_quantiles``: inverse-CDF value at rank
  ``max(1, ceil(q * n))`` (1-based) — returns actual data values, so the
  doubles are identical in Spark and DuckDB (no interpolation).
- ``exact_ranks_of_values``: normalized exact rank of arbitrary probe
  values (used to verify the sketch's rank-error guarantee in-query).

Scale notes (100 TB): the value histogram is a map-side-combined
``groupBy(value)`` whose output is the *distinct-value domain* (prices in
cents — bounded), not the row count. The cumulative window then runs over
that small domain only. Rank probes are a single conditional-aggregation
pass (no sort, no collect of data rows).
"""

from __future__ import annotations

import math
from typing import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, Window, functions as F


def rank_of_quantile(q: float, n: int) -> int:
    """1-based inverse-CDF rank: max(1, ceil(q*n)) in IEEE double math —
    the exact expression the DuckDB oracle uses (CEIL(q * n))."""
    return max(1, int(math.ceil(q * n)))


def exact_discrete_quantiles(df: DataFrame, col: str, qs: Sequence[float],
                             *, n: int | None = None) -> list[tuple[float, int, float]]:
    """[(q, rank, value)] where value is the data element at the inverse-CDF
    rank. One value-histogram shuffle + a cumsum window over the distinct
    domain + a broadcast range-join of len(qs) rank rows."""
    vals = df.select(F.col(col).alias("x")).filter(F.col("x").isNotNull())
    cnts = vals.groupBy("x").agg(F.count("*").alias("c"))
    if n is None:
        n = vals.count()
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        cnts.withColumn("cum", F.sum("c").over(w))
        .withColumn("lo", F.col("cum") - F.col("c"))
    )
    spark = df.sparkSession
    ranks = spark.createDataFrame(pa.table({
        "q": pa.array([float(q) for q in qs], pa.float64()),
        "r": pa.array([rank_of_quantile(q, n) for q in qs], pa.int64()),
    }))
    hit = cum.join(
        F.broadcast(ranks), (F.col("r") > F.col("lo")) & (F.col("r") <= F.col("cum"))
    ).select("q", "r", "x")
    got = {row["q"]: (row["r"], row["x"]) for row in hit.collect()}
    return [(float(q), got[float(q)][0], float(got[float(q)][1])) for q in qs]


def exact_discrete_quantiles_grouped_df(
    df: DataFrame, group_col: str, col: str, qs: Sequence[float],
) -> DataFrame:
    """Per-group inverse-CDF discrete quantiles, fully lazy:
    DataFrame[g, q_idx, q, q_pct, n, exact_disc_value] with NOTHING
    collected to the driver — per-group n and inverse-CDF ranks are
    computed as (tiny, broadcast) DataFrames so the shape survives 10k+
    groups. Rank expression: max(1, ceil(q*n)) in IEEE double math,
    identical to ``rank_of_quantile`` / the DuckDB oracle."""
    vals = df.select(F.col(group_col).alias("g"), F.col(col).alias("x")) \
        .filter(F.col("x").isNotNull() & F.col("g").isNotNull())
    cnts = vals.groupBy("g", "x").agg(F.count("*").alias("c"))
    ns = cnts.groupBy("g").agg(F.sum("c").alias("n"))
    w = Window.partitionBy("g").orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        cnts.withColumn("cum", F.sum("c").over(w))
        .withColumn("lo", F.col("cum") - F.col("c"))
    )
    qmap = df.sparkSession.createDataFrame(pa.table({
        "q_idx": pa.array(range(len(qs)), pa.int32()),
        "q": pa.array([float(q) for q in qs], pa.float64()),
        "q_pct": pa.array([int(round(q * 100)) for q in qs], pa.int64()),
    }))
    ranks = ns.crossJoin(F.broadcast(qmap)).withColumn(
        "r", F.greatest(F.lit(1).cast("bigint"), F.ceil(F.col("q") * F.col("n"))))
    return (
        cum.join(F.broadcast(ranks), ["g"])
        .filter((F.col("r") > F.col("lo")) & (F.col("r") <= F.col("cum")))
        .select("g", "q_idx", "q", "q_pct", "n",
                F.col("x").cast("double").alias("exact_disc_value"))
    )


def exact_ranks_of_values(df: DataFrame, col: str,
                          values: Sequence[float]) -> tuple[int, list[float]]:
    """(n, [normalized rank of each value]) in ONE aggregation pass:
    rank(v) = count(x <= v) / n."""
    vals = df.select(F.col(col).alias("x")).filter(F.col("x").isNotNull())
    aggs = [F.count("*").alias("n")] + [
        F.sum(F.when(F.col("x") <= float(v), 1).otherwise(0)).alias(f"r{i}")
        for i, v in enumerate(values)
    ]
    row = vals.agg(*aggs).collect()[0]
    n = int(row["n"])
    return n, [int(row[f"r{i}"]) / n for i in range(len(values))]
