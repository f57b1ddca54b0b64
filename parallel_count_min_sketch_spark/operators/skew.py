"""Explicit skew handling: salted repartitioning.

The web corpus is host/language-skewed (a few giant hosts dominate —
FIXTURES F1 plants exactly that). A plain hash repartition on host would
send a hot host's pages to one task; salting spreads every key over
``n_partitions`` uniformly while keeping the mapping deterministic in
(seed). For the global sketch the partition key is irrelevant (merge is
commutative), so salting costs nothing and bounds task skew; the CMS
build job's ``--salt-partitions`` runs ``salted_repartition`` in front of
its build. Grouped sketches need no salt: the two-phase partial merge of
``sketch_agg.sketch_grouped`` already caps per-group shuffle at
(#partitions x #groups) partial rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def salted_repartition(df: DataFrame, n_partitions: int, *, key_col: str | None = None,
                       seed: int = 0) -> DataFrame:
    """Deterministic uniform repartition: hash((key or whole-row id), salt).

    With a key column, rows of one key spread over all partitions (the
    salt); without, monotonically_increasing_id gives a uniform spread
    that is stable within a job."""
    if key_col is not None:
        salt = F.xxhash64(F.col(key_col), F.monotonically_increasing_id(), F.lit(seed))
    else:
        salt = F.xxhash64(F.monotonically_increasing_id(), F.lit(seed))
    return (
        df.withColumn("__salt", salt)
        .repartition(n_partitions, F.col("__salt"))
        .drop("__salt")
    )


def host_of_url(url_col: str = "url") -> F.Column:
    """Extract the host from an URL column (JVM regex)."""
    return F.regexp_extract(F.col(url_col), r"^[a-z]+://([^/]+)/", 1)


def skew_stats(df: DataFrame, key_col: str, top: int = 10) -> DataFrame:
    """Per-key row counts + share of total (basis points) — the diagnostic
    used to decide when salting is needed. Ties break on the key so the
    top-N cut is deterministic across partitionings."""
    total = df.count()
    return (
        df.groupBy(key_col).count()
        .withColumn("share_bp", F.floor(F.col("count") * 10000.0 / total).cast("bigint"))
        .orderBy(F.desc("count"), F.col(key_col))
        .limit(top)
    )
