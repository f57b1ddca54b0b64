"""Deterministic sampling operators (bottom-k by seeded hash).

The per-corpus variant lives in plans/textdata_queries.q_hash_sample_docs
(TakeOrderedAndProject — per-partition top-k, k-row merge). This module
adds the STRATIFIED form a training pipeline needs for balanced splits:
exactly k documents per group (language, source, shard), deterministic
across runs / engines / partitionings — unlike rand()-based
df.sampleBy, which is neither exact-k nor stable.

Semantics: per group, the k rows with the smallest seeded affine hash
h(key) = (a*(key mod p) + b) mod p, ties broken by key — a total order,
so the sample is unique and a SQL oracle replays it with ROW_NUMBER().
Equivalent in distribution to uniform-without-replacement per group
(the hash induces a random permutation of keys).

Scale shape (the reason this is not just a Window query): a global
ROW_NUMBER over the corpus shuffles every projected row into a
per-group sort. Phase 1 here cuts each scan partition down to <= k rows
per group it actually holds (a numpy lexsort + first k per group inside
mapInArrow, memory bounded by the projected partition slice), so the
one window that does run only ever sees <= partitions * groups_present
* k candidate rows — independent of corpus size. Phase 2 is the exact
global per-group top-k over that tiny set. Output equals the Window
answer exactly (the global bottom-k per group survives every
partition-local bottom-k cut, by transitivity of the total order).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, Window, functions as F

from ..config import affine_sql
from ..memtune import tune_worker
from ..sketches.hashing import affine_params

# collapse the phase-1 accumulation whenever it exceeds this many rows —
# bounds per-task memory at O(collapse + batch) regardless of partition size
_COLLAPSE_ROWS = 1 << 18


def stratified_hash_sample(df: DataFrame, group_col: str, key_col: str,
                           k: int, seed: int, *,
                           payload_cols: list[str] | None = None) -> DataFrame:
    """Exactly k rows per group (fewer if the group is smaller),
    deterministic bottom-k by seeded hash of ``key_col``. Returns the
    projected columns + ``sample_h`` (the hash, so oracles can replay
    the order)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    a, b = affine_params(seed, 1)
    h = F.expr(affine_sql(int(a[0]), int(b[0]), f"CAST({key_col} AS BIGINT)"))
    cols = [group_col, key_col] + [c for c in (payload_cols or [])
                                   if c not in (group_col, key_col)]
    # NULL keys have no defined position in the hash order, and phase 1
    # and phase 2 (Spark window asc: NULLS FIRST) could disagree on where
    # a NULL sample_h ranks, so a NULL-key row could be cut in phase 1 yet
    # rank inside the top k in phase 2. Contract: NULL keys are excluded
    # from the sample frame (so phase 1 sorts on non-NULL numbers only).
    proj = (df.select(*cols).withColumn("sample_h", h)
            .filter(F.col("sample_h").isNotNull()))
    schema = proj.schema

    def part_topk(batches: Iterator) -> Iterator:
        tune_worker()
        acc: list = []
        held = 0
        for batch in batches:
            if batch.num_rows == 0:
                continue
            acc.append(batch)
            held += batch.num_rows
            if held > _COLLAPSE_ROWS and len(acc) > 1:
                acc = [_first_k_per_group(acc, k)]
                held = acc[0].num_rows
        if acc:
            yield _first_k_per_group(acc, k)

    cand = proj.mapInArrow(part_topk, schema)
    w = Window.partitionBy(group_col).orderBy("sample_h", key_col)
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def _first_k_per_group(batches: list, k: int):
    """The first k rows per group of ``batches`` (columns: group, key, ...,
    sample_h) in (sample_h, key) order, as one RecordBatch: a numpy lexsort
    over (group code, sample_h, key). A NULL group is a group: the phase-2
    window and the ROW_NUMBER oracle both keep a NULL partition."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from .. import _arrow_np as anp

    batch = pa.Table.from_batches(batches).combine_chunks().to_batches()[0]
    enc = pc.dictionary_encode(batch.column(0))
    group = anp.values(enc.indices, np.int64, null=-1)
    order = np.lexsort((anp.values(batch.column(1)),
                        anp.values(batch.column(batch.num_columns - 1)),
                        group))
    g = group[order]
    starts = np.flatnonzero(np.r_[True, g[1:] != g[:-1]])
    rank = np.arange(len(g)) - np.repeat(starts, np.diff(np.r_[starts, len(g)]))
    return batch.take(anp.array(order[rank < k]))


# weighted priority sampling: priority = floor(w * 2^31 / (h+1)) with
# h uniform on [0, p). 2^31 < p = 2^31-1's ceiling keeps the quotient's
# intermediate w * 2^31 exact in int64 for any weight below 2^32.
_PRIORITY_SCALE = 1 << 31


def weighted_priority_sample(df: DataFrame, key_col: str, weight_col: str,
                             k: int, seed: int, *,
                             payload_cols: list[str] | None = None) -> DataFrame:
    """Deterministic weighted sample of k rows: priority sampling
    (Duffield-Lund-Thorup, JACM 2007) with the randomness replaced by a
    seeded affine hash so the SAME sample comes back on every run,
    engine, and partitioning.

    Priority q = floor(w * 2^31 / (h + 1)) where h = (a*key + b) mod p
    is uniform on [0, p); h/p plays the role of DLT's uniform u, so
    q ~ w/u and the top-k by q is a weighted-without-replacement sample
    in which a row's inclusion probability grows ~proportionally to its
    weight (exactly the PPS shape a quality-weighted training-data cut
    wants). Ties broken by key — a total order, so a SQL oracle replays
    the sample with the same integer arithmetic (BIGINT `DIV`).

    Contract: rows with NULL key, NULL weight, or weight < 1 are
    excluded (zero weight means never sampled; NULL has no defined
    priority). Weights must stay below 2^32 so w * 2^31 is exact int64 —
    enforced by construction at call sites (basis-point scores).

    Scale shape: one projection + TakeOrderedAndProject — per-partition
    top-k then a k-row merge on a single reducer; no corpus shuffle, no
    global sort. Same plan family as q_hash_sample_docs.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    a, b = affine_params(seed, 1)
    h = F.expr(affine_sql(int(a[0]), int(b[0]), f"CAST({key_col} AS BIGINT)"))
    cols = [key_col, weight_col] + [c for c in (payload_cols or [])
                                    if c not in (key_col, weight_col)]
    proj = (
        df.select(*cols)
        .filter(F.col(key_col).isNotNull()
                & (F.col(weight_col).cast("bigint") >= 1))
        .withColumn("_h", h)
        .withColumn(
            "priority",
            F.expr(f"(CAST({weight_col} AS BIGINT) * {_PRIORITY_SCALE}) "
                   f"DIV (_h + 1)"),
        )
        .drop("_h")
    )
    return proj.orderBy(F.col("priority").desc(), F.col(key_col)).limit(k)


def weighted_priority_sample_sql(key_expr: str, weight_expr: str,
                                 seed: int) -> str:
    """DuckDB twin of the priority expression (`//` = exact BIGINT
    division there, as `DIV` is in Spark) for ORDER BY ... LIMIT k
    oracle replay."""
    a, b = affine_params(seed, 1)
    h = affine_sql(int(a[0]), int(b[0]), f"CAST({key_expr} AS BIGINT)")
    return (f"(CAST({weight_expr} AS BIGINT) * {_PRIORITY_SCALE}) "
            f"// (({h}) + 1)")
