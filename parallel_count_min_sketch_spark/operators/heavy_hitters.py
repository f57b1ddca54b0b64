"""Scalable heavy hitters: CMS + per-partition candidate tracking.

The exact-distinct candidate pass used by the small-scale query
(plans/cms_queries.q_cms_heavy_hitters) shuffles every distinct token —
fine at test scale, wrong at 100 TB. This operator keeps the shuffle at
O(partitions x k) and reads the corpus exactly TWICE:

  scan 1 (fused): each partition tokenizes its batches ONCE, folding the
           (token, count) tables into BOTH a partial CMS sketch and the
           partition's exact top-k candidate set — one mapInArrow emits a
           partial-sketch row plus k candidate rows per partition;
  stage 2: fan-in merge of the partial sketches and collect of the
           distinct candidate union (both O(partitions x k)); the driver
           probes the candidates with the merged numpy sketch and keeps
           est >= phi*N;
  scan 2: exact recount of the tiny surviving set (broadcast semi-join).

Guarantee: with k >= 1/phi, any item with global share >= phi has share
>= phi in at least one partition (pigeonhole on the weighted average),
so every true heavy hitter is a candidate; CMS one-sidedness then keeps
it through the filter — no false negatives. False positives are bounded
by the CMS eps as usual.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from .. import _arrow_np as anp
from ..config import CMSConfig
from ..memtune import tune_worker
from .agg import merge_partials
from .sketch_agg import fold_token_counts, with_djb2


# fused scan output: kind=0 rows carry one partial sketch blob per
# partition (token NULL); kind=1 rows carry the partition's top-k
# candidates (sketch NULL)
FUSED_SCHEMA = "kind INT, token STRING, local_count LONG, sketch BINARY"
_FUSED_PA = pa.schema([
    ("kind", pa.int32()), ("token", pa.string()),
    ("local_count", pa.int64()), ("sketch", pa.binary()),
])

# collapse the buffered per-slice value_counts tables once this many rows
# are held — bounds the candidate tally's peak memory at O(partition-distinct)
_COLLAPSE_ROWS = 1 << 20


class _TokenTally:
    """A partition's exact (token, count) totals: per-slice value_counts
    are held as Arrow tokens + numpy counts and summed by dictionary code
    whenever more than _COLLAPSE_ROWS rows are held. Without the collapse a
    token repeated across slices is held once PER SLICE, so peak memory
    would be O(sum of per-slice distinct) instead of O(partition-distinct).
    No per-distinct-token Python objects: at 100x scale a partition's
    distinct set is millions of entries."""

    def __init__(self):
        self.tokens: list[pa.Array] = []
        self.counts: list[np.ndarray] = []
        self.held = 0

    def add(self, tokens: pa.Array, counts: np.ndarray) -> None:
        self.tokens.append(tokens)
        self.counts.append(counts)
        self.held += len(tokens)
        if self.held >= _COLLAPSE_ROWS and len(self.tokens) > 1:
            self._collapse()

    def _collapse(self) -> None:
        import pyarrow.compute as pc

        enc = pc.dictionary_encode(pa.concat_arrays(self.tokens))
        sums = np.zeros(len(enc.dictionary), dtype=np.int64)
        np.add.at(sums, anp.values(enc.indices), np.concatenate(self.counts))
        self.tokens, self.counts, self.held = [enc.dictionary], [sums], len(sums)

    def top(self, k: int) -> pa.Table | None:
        """The k most frequent tokens, ties by token descending."""
        if not self.tokens:
            return None
        self._collapse()
        t = pa.table({"token": self.tokens[0].cast(pa.string()),
                      "cnt": anp.array(self.counts[0])})
        return t.sort_by([("cnt", "descending"), ("token", "descending")])[:k]


def fused_sketch_and_candidates(df, text_col: str, cfg: CMSConfig,
                                k_per_partition: int):
    """ONE pass over the corpus emitting, per partition, both the partial
    CMS sketch and the partition's exact top-k candidates. The per-batch
    (token, count) tables are computed once and feed both folds — this
    also removes the duplicate tokenize/value_counts work the separate
    build + candidate scans used to do."""
    proj = df.select(text_col)

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tune_worker()
        sk = cfg.new_sketch()
        tally = _TokenTally()
        for batch in batches:
            for vals, counts in anp.token_counts(batch.column(0)):
                # sketch fold: djb2 + weighted update once per DISTINCT token
                fold_token_counts(sk, vals, counts)
                tally.add(vals, counts)
        top = tally.top(k_per_partition)
        if top is not None:
            n_c = top.num_rows
            yield pa.RecordBatch.from_arrays(
                [anp.array(np.ones(n_c, dtype=np.int32)),
                 top.column("token").combine_chunks(),
                 top.column("cnt").combine_chunks(),
                 pa.nulls(n_c, pa.binary())],
                schema=_FUSED_PA,
            )
        yield anp.batch({"kind": [0], "token": [None],
                         "local_count": [int(sk.total)],
                         "sketch": [sk.to_bytes()]}, _FUSED_PA)

    return proj.mapInArrow(fold, FUSED_SCHEMA)


def heavy_hitters_scalable(df, text_col: str, cfg: CMSConfig, phi: float, *,
                           k_per_partition: int | None = None) -> DataFrame:
    """EXACT heavy hitters (token, exact_count, cms_estimate) at threshold
    floor(phi*N), computed without ever shuffling the distinct-token
    universe and with only TWO corpus scans:

      1. fused scan: partial sketch + per-partition top-k candidates in one
         mapInArrow (pigeonhole: with k >= 1/phi the candidate union
         contains every true heavy hitter); its output is O(partitions * k)
         rows, tiny at any corpus size. It is persisted only for the eager
         phase, which reads it twice (the fan-in sketch merge and the
         candidate collect) and unpersists it in ``finally``;
      2. CMS prune on the driver: the collected candidates are probed with
         the merged numpy sketch and those with estimate < floor(phi*N)
         are dropped — one-sidedness (est >= true) means no true HH is
         lost;
      3. exact recount of the tiny surviving set (broadcast semi-join
         against the token stream), final filter exact_count >= threshold.

    Output therefore equals the exact heavy-hitter set regardless of
    partitioning — value-checkable against a plain SQL GROUP BY oracle —
    while every shuffle stays O(partitions*k), never O(distinct tokens).
    Eager phase: the sketch merge and the candidate collect (two jobs, plus
    fan-in levels above ``sketch_agg.FANIN`` partitions)."""
    if k_per_partition is None:
        k_per_partition = max(16, int(2.0 / phi))
    fused = fused_sketch_and_candidates(df, text_col, cfg, k_per_partition)
    fused.persist()
    try:
        sk = merge_partials(fused.filter(F.col("kind") == 0), cfg)
        cands = sorted({r[0] for r in fused.filter(F.col("kind") == 1)
                        .select("token").collect()})
    finally:
        fused.unpersist()
    thresh = int(phi * sk.total)
    est = sk.point_query_strings(cands)
    keep = est >= thresh
    # an Arrow table becomes a JVM local relation: no Python worker scans it
    survivors = df.sparkSession.createDataFrame(pa.table({
        "token": pa.array(cands, pa.string()).filter(pa.array(keep)),
        "cms_estimate": pa.array(est[keep], pa.int64()),
    }))
    toks = df.select(F.explode(F.split(text_col, " ")).alias("tok")) \
        .filter(F.col("tok") != "")
    exact = (
        toks.join(F.broadcast(survivors), toks["tok"] == survivors["token"])
        .groupBy("token", "cms_estimate")
        .agg(F.count("*").alias("exact_count"))
    )
    return (
        exact.filter(F.col("exact_count") >= thresh)
        .select("token", "exact_count", "cms_estimate")
        .orderBy(F.desc("exact_count"), "token")
    )


def _mg_from_bytes(b):
    from ..sketches.misra_gries import MisraGries

    return MisraGries.from_bytes(b)


def mg_frequent_tokens(df, text_col: str, k: int, phi: float) -> DataFrame:
    """EXACT frequent tokens at threshold floor(phi*N) via a distributed
    Misra-Gries summary (sketches/misra_gries.py) — the deterministic,
    hash-free sibling of :func:`heavy_hitters_scalable`.

    Shape: ONE summary build scan (mapInArrow partials + fan-in merge;
    the whole merged state is <= k (item, count) pairs, so the driver
    holds O(k), never the token universe), then candidate pruning by the
    summary's exact error bound (drop items whose upper bound
    est + offset_total is below the threshold — cannot lose a true
    frequent item), then one exact recount scan of the surviving
    candidates (broadcast semi-join). Requires k+1 > 1/phi so the MG
    capacity guarantee (every item with count > N/(k+1) is retained)
    covers the threshold — enforced with a raise.

    Output is the exact frequent-token set plus the MG bound check
    (lower <= exact <= lower + offset, TRUE by the summary's invariant),
    partition-invariant and therefore value-checkable against a plain
    GROUP BY oracle."""
    from functools import partial

    from ..sketches.misra_gries import MisraGries
    from .sketch_agg import build_sketch_from_text

    if k + 1 <= 1.0 / phi:
        raise ValueError(f"k={k} too small for phi={phi}: need k+1 > 1/phi")
    toks = df.select(F.explode(F.split(text_col, " ")).alias("tok")) \
        .filter(F.col("tok") != "")
    # doc-local build: tokenize + value_counts in Arrow C per batch, MG
    # consumes (distinct token, count) natively — the Arrow channel moves
    # documents, not 100x as many exploded token rows (10x measured).
    # partial(MisraGries, k) / the module-level wrapper pickle by
    # REFERENCE; a lambda or bound classmethod would serialize the class
    # by value and trip over the module's struct.Struct constants
    mg = build_sketch_from_text(df, text_col, partial(MisraGries, k),
                                _mg_from_bytes)
    n = mg.n_total
    thresh = int(phi * n)
    offset = mg.error_bound()
    # runtime certification: any item ABSENT from the summary has true
    # count <= offset_total, so candidates provably cover the threshold
    # only when offset_total < thresh. The static k+1 > 1/phi guard does
    # not cover the floor() boundary (an item at exactly floor(phi*n) can
    # sit at n/(k+1) and be evicted) — this exact check does. Loud
    # failure beats a silently incomplete frequent set.
    if n > 0 and offset >= max(thresh, 1):
        raise ValueError(
            f"Misra-Gries k={k} cannot certify threshold {thresh} on this "
            f"stream (observed decrement bound {offset}); increase k")
    ub = mg.counts + offset
    keep = ub >= thresh
    spark = df.sparkSession
    # an Arrow table plans as a JVM LocalTableScan; a list of tuples would
    # be a Python-RDD scan that starts Python tasks on every collect
    cand = spark.createDataFrame(pa.table({
        "item_id": pa.array(mg.items[keep], pa.int64()),
        "mg_lower": pa.array(mg.counts[keep], pa.int64())}))
    toks_id = with_djb2(toks, "tok")
    exact = (
        toks_id.join(F.broadcast(cand), "item_id")
        .groupBy("tok", "mg_lower")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    return (
        exact.filter(F.col("exact_count") >= thresh)
        .select(
            F.col("tok").alias("token"),
            "exact_count",
            ((F.col("mg_lower") <= F.col("exact_count"))
             & (F.col("exact_count") <= F.col("mg_lower") + F.lit(int(offset))))
            .alias("mg_bound_ok"),
        )
        .orderBy(F.desc("exact_count"), "token")
    )


def mg_grouped_frequent_tokens(df, group_col: str, text_col: str,
                               k: int, phi: float) -> DataFrame:
    """EXACT per-group frequent tokens (threshold floor(phi * N_group))
    via one Misra-Gries summary per group on the generic grouped rails
    (sketch_agg.sketch_grouped: bounded per-(partition, group) partials,
    per-group merge — a hot group never concentrates raw rows).

    Candidates are pruned executor-side by each group's exact error bound
    (finalize_grouped — zero summary bytes reach the driver), then ONE
    recount scan joins the broadcast (group, candidate) set and applies
    each group's own threshold. Output = the exact per-group frequent
    set, partition-invariant, value-checkable against a per-group
    GROUP BY oracle."""
    from functools import partial

    from ..sketches.misra_gries import MisraGries
    from .sketch_agg import finalize_grouped, sketch_grouped_from_text

    if k + 1 <= 1.0 / phi:
        raise ValueError(f"k={k} too small for phi={phi}: need k+1 > 1/phi")
    toks = df.select(
        F.col(group_col).alias("group"),
        F.explode(F.split(text_col, " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    # doc-local grouped build: the summary scan moves (group, document)
    # rows through Arrow, never the exploded token stream (the exploded
    # `toks` DF above only feeds the candidate-bounded recount join)
    grouped = sketch_grouped_from_text(
        df.select(F.col(group_col).alias("group"), text_col),
        "group", text_col, partial(MisraGries, k), _mg_from_bytes)

    def emit_candidates(row: dict) -> list[tuple]:
        mg = MisraGries.from_bytes(row["sketch"])
        thr = int(phi * mg.n_total)
        off = mg.error_bound()
        # same certification as the ungrouped path, per group: absent
        # items have count <= off, so off must sit below the threshold
        if mg.n_total > 0 and off >= max(thr, 1):
            raise ValueError(
                f"Misra-Gries k cannot certify group {row['group']!r}: "
                f"threshold {thr}, decrement bound {off}; increase k")
        return [
            (row["group"], int(it), int(c), int(mg.n_total), int(off))
            for it, c in zip(mg.items.tolist(), mg.counts.tolist())
            if c + off >= thr
        ]

    cand = finalize_grouped(
        grouped, emit_candidates,
        "group STRING, item_id LONG, mg_lower LONG, n_g LONG, mg_offset LONG",
        pa.schema([("group", pa.string()), ("item_id", pa.int64()),
                   ("mg_lower", pa.int64()), ("n_g", pa.int64()),
                   ("mg_offset", pa.int64())]),
    )
    toks_id = with_djb2(toks, "tok")
    exact = (
        toks_id.join(F.broadcast(cand), ["group", "item_id"])
        .groupBy("group", "tok", "mg_lower", "n_g", "mg_offset")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    return (
        exact.filter(
            F.col("exact_count")
            >= F.floor(F.lit(float(phi)) * F.col("n_g")).cast("long"))
        .select(
            F.col("group").alias(group_col),
            F.col("tok").alias("token"),
            "exact_count",
            ((F.col("mg_lower") <= F.col("exact_count"))
             & (F.col("exact_count") <= F.col("mg_lower") + F.col("mg_offset")))
            .alias("mg_bound_ok"),
        )
        .orderBy(group_col, F.desc("exact_count"), "token")
    )
