"""Spark aggregation layer: the mergeable-UDAF emulation.

PySpark has no user-defined mergeable aggregate, so we implement the
partial/final pattern explicitly — the same two-level design as the
reference's per-rank partial sketch + MPI_Reduce merge
(src/mpi/mpiV2.c:131-175) and its OpenMP thread-private variant
(src/openmp/openmpV1.c:73-105):

  stage 1 (map):   ``mapInArrow`` over the item column; each task folds its
                   Arrow batches into ONE numpy sketch (np.bincount per hash
                   row — no per-row Python) and emits a single serialized
                   partial-sketch row (~tens of KB).
  stage 2 (reduce): associative element-wise merge of the partials — the
                   fan-in tree of ``sketch_agg.merge_sketch_partials``, like
                   the reduction tree MPI_Reduce runs internally.

At 100 TB the stage-1 output is one small row per input split, so the
"shuffle" is a few MB regardless of input size; the build is embarrassingly
parallel, which is what makes the >=0.8 N->4N scaling efficiency criterion
reachable.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa

from ..config import CMSConfig
from ..memtune import tune_allocator
from ._grouped_fold import GroupedFoldBase, salted_pre_shuffle
from .sketch_agg import merge_sketch_partials
from ..sketches.cms import CountMinSketch
from ..sketches.hashing import affine_hash, djb2_batch

# Bound per-call scratch memory in worker kernels: chunked processing keeps
# the first-touch page-fault cost per worker tiny and the working set in
# cache (see memtune.py for why this matters here).
CHUNK_TOKENS = 1 << 17

PARTIAL_SCHEMA = "partition_id INT, rows_seen LONG, total LONG, sketch BINARY"
_PARTIAL_PA = pa.schema(
    [
        ("partition_id", pa.int32()),
        ("rows_seen", pa.int64()),
        ("total", pa.int64()),
        ("sketch", pa.binary()),
    ]
)


def _partial_batch(pid: int, rows_seen: int, sk: CountMinSketch) -> pa.RecordBatch:
    return pa.RecordBatch.from_pydict(
        {
            "partition_id": [pid],
            "rows_seen": [rows_seen],
            "total": [sk.total],
            "sketch": [sk.to_bytes()],
        },
        schema=_PARTIAL_PA,
    )


def _task_partition_id() -> int:
    from pyspark import TaskContext

    ctx = TaskContext.get()
    return ctx.partitionId() if ctx is not None else -1


def _items_from_array(col: pa.Array, string_items: bool) -> np.ndarray:
    if string_items:
        return djb2_batch(col)
    return col.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)


def cms_partials(df, item_col: str, cfg: CMSConfig, *, weight_col: str | None = None,
                 string_items: bool = False, skip_partitions: frozenset[int] | None = None):
    """DataFrame[item(, weight)] -> DataFrame[partition_id, rows_seen, total, sketch]
    with exactly one row per input partition (the per-rank partial sketch,
    reference src/mpi/mpiV2.c:131-140). ``skip_partitions``: checkpointed
    partitions whose compute (and output row) is skipped on resume."""
    cols = [item_col] + ([weight_col] if weight_col else [])
    proj = df.select(*cols)

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tune_allocator()
        if skip_partitions and _task_partition_id() in skip_partitions:
            return
        sk = cfg.new_sketch()
        rows = 0
        for batch in batches:
            col = batch.column(0)
            if col.null_count or (weight_col and batch.column(1).null_count):
                import pyarrow.compute as pc

                keep = col.is_valid()
                if weight_col:
                    # null weight = no occurrences (SQL SUM semantics),
                    # not int64(nan) garbage
                    keep = pc.and_(keep, batch.column(1).is_valid())
                batch = batch.filter(keep)
                col = batch.column(0)
            weights_all = (
                batch.column(1).to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
                if weight_col
                else None
            )
            if weights_all is not None and (weights_all < 0).any():
                # same contract as the generic rails (_weighted_update):
                # negative counts would break the one-sided CMS guarantee
                raise ValueError("negative weights are not allowed in sketch builds")
            for lo in range(0, len(col), CHUNK_TOKENS):
                chunk = col.slice(lo, CHUNK_TOKENS)
                items = _items_from_array(chunk, string_items)
                weights = weights_all[lo:lo + CHUNK_TOKENS] if weight_col else None
                sk.update_batch(items, weights)
                rows += len(items)
        yield _partial_batch(_task_partition_id(), rows, sk)

    return proj.mapInArrow(fold, PARTIAL_SCHEMA)


def cms_text_partials(df, text_col: str, cfg: CMSConfig, *, sep: str = " ",
                      skip_partitions: frozenset[int] | None = None):
    """Sketch the token stream of a text column without a JVM-side explode:
    each Arrow batch's strings are tokenized in Arrow C kernels, then
    djb2-hashed as one vector. One partial row per partition."""
    import pyarrow.compute as pc

    proj = df.select(text_col)

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tune_allocator()
        if skip_partitions and _task_partition_id() in skip_partitions:
            return
        sk = cfg.new_sketch()
        rows = 0
        for batch in batches:
            col = batch.column(0)
            if col.null_count:
                col = col.drop_null()
            # tokenize + flatten + filter entirely in Arrow C kernels
            tokens = pc.list_flatten(pc.split_pattern(col, sep))
            if len(tokens):
                tokens = pc.filter(tokens, pc.not_equal(tokens, ""))
            if len(tokens) == 0:
                continue
            # collapse to (distinct token, count) in Arrow C before
            # hashing: djb2 + bincount then run once per DISTINCT token
            # per batch (Zipfian text: ~9k distinct vs ~400k occurrences
            # per batch), with the exact same weighted-update result
            vc = pc.value_counts(tokens)
            vals = vc.field("values")
            counts = vc.field("counts").to_numpy(zero_copy_only=False) \
                .astype(np.int64, copy=False)
            for lo in range(0, len(vals), CHUNK_TOKENS):
                chunk = vals.slice(lo, CHUNK_TOKENS)
                w = counts[lo:lo + CHUNK_TOKENS]
                sk.update_batch(djb2_batch(chunk), w)
                rows += int(w.sum())
        yield _partial_batch(_task_partition_id(), rows, sk)

    return proj.mapInArrow(fold, PARTIAL_SCHEMA)


def merge_partials(partials_df, cfg: CMSConfig) -> CountMinSketch:
    """Merge serialized CMS partials into one sketch (MPI_Reduce analog,
    src/mpi/mpiV2.c:163-175) through the shared fan-in merge; no partials
    give the zero sketch of ``cfg``."""
    eps, delta = cfg.epsilon, cfg.delta
    sk = merge_sketch_partials(
        partials_df, lambda b: CountMinSketch.from_bytes(b, eps, delta))
    return cfg.new_sketch() if sk is None else sk


def build_cms(df, item_col: str, cfg: CMSConfig, *, weight_col: str | None = None,
              string_items: bool = False) -> CountMinSketch:
    """End-to-end: partial sketches per partition -> fan-in merge -> sketch."""
    return merge_partials(
        cms_partials(df, item_col, cfg, weight_col=weight_col, string_items=string_items), cfg
    )


def build_cms_from_text(df, text_col: str, cfg: CMSConfig) -> CountMinSketch:
    return merge_partials(cms_text_partials(df, text_col, cfg), cfg)


# ---------------------------------------------------------------------------
# Per-group sketches (e.g. one CMS per lang / per host).
# Two-phase to stay skew-proof: phase 1 emits bounded per-(partition, group)
# partials; phase 2 shuffles only those small rows and merges per group —
# a hot group never concentrates raw rows on one task.
# ---------------------------------------------------------------------------
GROUPED_PARTIAL_SCHEMA = "group STRING, rows_seen LONG, total LONG, sketch BINARY"
_GROUPED_PA = pa.schema(
    [
        ("group", pa.string()),
        ("rows_seen", pa.int64()),
        ("total", pa.int64()),
        ("sketch", pa.binary()),
    ]
)


def iter_group_segments(batch: pa.RecordBatch, values: np.ndarray,
                        weights: np.ndarray | None = None):
    """Yield (group_key, value_slice, weight_slice_or_None) per distinct
    group of an Arrow batch whose column 0 holds the group key. Keys are
    dictionary-encoded so only UNIQUE key strings ever cross into Python;
    the segmenting argsort runs on int32 codes (matters for
    high-cardinality groups — host, file). Shared by the CMS grouped path
    and the generic sketch_agg grouped path."""
    import pyarrow.compute as pc

    enc = pc.dictionary_encode(batch.column(0))
    codes = enc.indices.to_numpy(zero_copy_only=False)
    key_by_code = enc.dictionary.to_pylist()
    order = np.argsort(codes, kind="stable")
    sorted_codes = codes[order]
    sorted_values = values[order]
    sorted_w = weights[order] if weights is not None else None
    uniq, starts = np.unique(sorted_codes, return_index=True)
    bounds = np.append(starts, len(sorted_codes))
    for code, lo, hi in zip(uniq, bounds[:-1], bounds[1:]):
        yield (key_by_code[code], sorted_values[lo:hi],
               sorted_w[lo:hi] if sorted_w is not None else None)


class GroupedCMSFold(GroupedFoldBase):
    """Task-level grouped-CMS accumulator, vectorized ACROSS groups.

    The per-group-segment fold (dict of sketches + ``iter_group_segments``)
    collapses at high group cardinality: a 10k-row Arrow batch spread over
    5k groups yields ~2-row segments, so per-segment Python overhead — not
    counter arithmetic — dominates (measured 5x slower than even a naive
    shuffle-by-group plan at 50M rows / 5k hosts). This class instead keeps
    ONE stacked ``(slot, depth, width)`` counter array for all groups the
    task has seen and scatter-adds every row of a batch in a single
    ``np.add.at`` call: cost is O(depth * rows) independent of how many
    groups the rows land in. Memory equals the dict-of-sketches layout
    (one (depth, width) table per distinct group in the partition), grown
    geometrically. Null filtering, the weighted protocol ('native': weights
    add into counters) and the group->slot mapping live in the shared
    ``_grouped_fold.GroupedFoldBase``.

    Counter updates commute with the per-sketch path bit-for-bit: the same
    int64 additions land in the same (depth, bucket) cells, so partials are
    byte-identical to the previous implementation (gated by the existing
    partition-invariance equality tests).
    """

    __slots__ = ("cfg", "depth", "width", "a", "b", "_tables", "_totals")

    def __init__(self, cfg: CMSConfig, *, string_items: bool = False,
                 weighted: bool = False):
        super().__init__(string_items=string_items, weighted=weighted)
        self.cfg = cfg
        self.depth, self.width = cfg.depth, cfg.width
        self.a, self.b = cfg.ab
        self._tables = np.zeros((0, self.depth, self.width), dtype=np.int64)
        self._totals = np.zeros(0, dtype=np.int64)

    def _capacity(self) -> int:
        return self._tables.shape[0]

    def _grow(self, new_cap: int) -> None:
        cap = self._tables.shape[0]
        tables = np.zeros((new_cap, self.depth, self.width), dtype=np.int64)
        tables[:cap] = self._tables
        self._tables = tables
        totals = np.zeros(new_cap, dtype=np.int64)
        totals[:cap] = self._totals
        self._totals = totals

    def _scatter(self, slots: np.ndarray, items: np.ndarray,
                 wts: np.ndarray | None) -> None:
        h = affine_hash(items, self.a, self.b, self.width)  # (depth, n)
        # flat scatter index: slot*(d*w) + j*w + h[j] for every (j, row)
        base = slots * np.int64(self.depth * self.width)
        idx = (base[None, :]
               + (np.arange(self.depth, dtype=np.int64) * self.width)[:, None]
               + h).ravel()
        flat = self._tables.reshape(-1)
        if wts is None:
            np.add.at(flat, idx, 1)
            np.add.at(self._totals, slots, 1)
        else:
            np.add.at(flat, idx,
                      np.broadcast_to(wts, (self.depth, wts.size)).ravel())
            np.add.at(self._totals, slots, wts)

    def result_batch(self) -> pa.RecordBatch | None:
        """One partial row per group seen: rows_seen == total for CMS
        (both count logical occurrences consumed)."""
        if not self._keys:
            return None
        n = len(self._keys)
        blobs = []
        for s in range(n):
            sk = CountMinSketch(self.cfg.epsilon, self.cfg.delta, self.cfg.seed,
                                table=self._tables[s], total=int(self._totals[s]))
            blobs.append(sk.to_bytes())
        totals = self._totals[:n].tolist()
        return pa.RecordBatch.from_pydict(
            {"group": self._keys, "rows_seen": totals,
             "total": totals, "sketch": blobs},
            schema=_GROUPED_PA,
        )


def cms_grouped_partials(df, group_col: str, item_col: str, cfg: CMSConfig, *,
                         string_items: bool = False,
                         weight_col: str | None = None):
    cols = [group_col, item_col] + ([weight_col] if weight_col else [])
    proj = df.select(*cols)

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tune_allocator()
        acc = GroupedCMSFold(cfg, string_items=string_items,
                             weighted=weight_col is not None)
        for batch in batches:
            acc.update(batch)
        out = acc.result_batch()
        if out is not None:
            yield out

    return proj.mapInArrow(fold, GROUPED_PARTIAL_SCHEMA)


def cms_grouped(df, group_col: str, item_col: str, cfg: CMSConfig, *,
                string_items: bool = False, weight_col: str | None = None,
                pre_shuffle_salt: int | None = None,
                n_partitions: int | None = None):
    """DataFrame[group, total, sketch]: one merged CMS per group value.
    ``weight_col`` feeds pre-aggregated (group, item, count) inputs through
    the native weighted CMS update — same dispatch as the ungrouped rail.

    Partial volume is (#partitions-that-see-a-group x #groups x sketch
    bytes). With FEW groups (lang: ~30) that is KBs and the default
    no-pre-shuffle plan is optimal: zero raw-row movement, perfectly
    skew-proof. With MANY groups spread over every scan partition (host:
    10^4+), every partition emits a partial for every group and the
    phase-2 shuffle becomes partitions x groups x 65KB — at that shape set
    ``pre_shuffle_salt=s``: one raw-row shuffle on hash(group, salt%s)
    first, so each group's rows land in at most s partitions, capping
    partials at groups x s while still splitting a hot group over s tasks
    (straggler bounded by hot_rows/s). The salt is a deterministic hash of
    the item column, so re-runs and retries repartition identically.
    Choice rule measured in BENCH/grouped_skew.json."""
    src = df
    if pre_shuffle_salt:
        src = salted_pre_shuffle(df, group_col, item_col, pre_shuffle_salt,
                                 n_partitions, cfg.seed)
    partials = cms_grouped_partials(src, group_col, item_col, cfg,
                                    string_items=string_items,
                                    weight_col=weight_col)
    eps, delta = cfg.epsilon, cfg.delta

    def merge_group(pdf):
        import pandas as pd

        merged = CountMinSketch.merge_blobs(pdf["sketch"], eps, delta)
        return pd.DataFrame(
            {
                "group": [pdf["group"].iloc[0]],
                "rows_seen": [int(pdf["rows_seen"].sum())],
                "total": [merged.total],
                "sketch": [merged.to_bytes()],
            }
        )

    return partials.groupBy("group").applyInPandas(merge_group, GROUPED_PARTIAL_SCHEMA)
