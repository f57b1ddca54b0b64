"""Generic mergeable-sketch aggregation over Spark.

Every kernel in ``sketches/`` implements the same protocol:
    update_batch(values) / merge(other) / to_bytes() / from_bytes(blob)
so one partial/final implementation serves CMS, HLL, Bloom, KLL and
t-digest alike (the north-star's "mergeable Arrow-vectorized aggregation"):
one serialized partial per partition via ``mapInArrow``, then an
associative fan-in merge (``merge_sketch_partials``). Element-wise-sum
merges (CMS), max merges (HLL), OR merges (Bloom) and compaction merges
(KLL/t-digest) all ride the same rails — only the kernel differs. This is
the reference's per-rank partial sketch + MPI_Reduce merge
(src/mpi/mpiV2.c:131-175); ``agg.py`` only binds a ``CMSConfig`` to it.
"""

from __future__ import annotations

import math
from typing import Callable, Iterator

import numpy as np
import pyarrow as pa

from ..memtune import tune_worker
from ..sketches.cms import CountMinSketch
from ..sketches.hashing import djb2_batch
from ..sketches.hll import HyperLogLog
from .. import _arrow_np as anp
from ._grouped_fold import GroupedFoldBase, items_from_array, iter_group_segments

PARTIAL_SCHEMA = "partition_id INT, rows_seen LONG, sketch BINARY"
_PARTIAL_PA = pa.schema(
    [("partition_id", pa.int32()), ("rows_seen", pa.int64()), ("sketch", pa.binary())]
)

_CHUNK = 1 << 15


def _task_partition_id() -> int:
    from pyspark import TaskContext

    ctx = TaskContext.get()
    return ctx.partitionId() if ctx is not None else -1


def _partial_batch(rows: int, sk) -> pa.RecordBatch:
    """The one partial row of this task: (partition_id, rows_seen, sketch)."""
    return anp.batch({"partition_id": [_task_partition_id()],
                      "rows_seen": [rows], "sketch": [sk.to_bytes()]},
                     _PARTIAL_PA)


def _weighted_update(sk, values: np.ndarray, weights: np.ndarray | None) -> int:
    """Dispatch a (values, weights) chunk by the kernel's WEIGHTED protocol:
      'native'    update_batch(values, weights) — CMS, t-digest
      'invariant' duplicates don't change the state (HLL, Bloom): weights
                  are dropped, which is EXACT for these kernels
      'repeat'    expand by repetition (KLL) — exact but O(sum(weights));
                  meant for modest pre-aggregated counts
    Zero-weight rows are dropped in EVERY mode (a count of 0 means the item
    never occurred — inserting it would corrupt HLL/Bloom); negative
    weights are rejected (they would break the CMS one-sided guarantee).
    Returns the logical row count consumed."""
    if weights is None:
        sk.update_batch(values)
        return len(values)
    if (weights < 0).any():
        raise ValueError("negative weights are not allowed in sketch builds")
    keep = weights > 0
    if not keep.all():
        values = values[keep]
        weights = weights[keep]
    if len(values) == 0:
        return 0
    mode = getattr(sk, "WEIGHTED", "repeat")
    if mode == "native":
        sk.update_batch(values, weights)
    elif mode == "invariant":
        sk.update_batch(values)
    else:
        _update_repeat_bounded(sk, values, weights)
    return int(weights.sum())


_REPEAT_CHUNK = 1 << 20  # cap any single np.repeat expansion (~8 MB int64)


def _update_repeat_bounded(sk, values: np.ndarray, weights: np.ndarray,
                           max_chunk: int = _REPEAT_CHUNK) -> None:
    """'repeat' weighted mode without unbounded allocation: pre-aggregated
    (item, count) inputs can carry counts whose sum is arbitrarily large,
    so np.repeat(values, weights) in one shot would allocate
    O(sum(weights)) elements. Expand in <=max_chunk slices instead —
    light rows grouped by running weight, heavy rows (weight >= max_chunk,
    rare by definition) streamed as repeats of a single reused buffer.

    Kernel contract: 'repeat'-mode update_batch must CONSUME its input (no
    retained references) — the heavy path feeds views of one reused
    mutable buffer, and every light chunk's array is freed right after the
    call. All in-tree kernels copy/fold their input (KLL buffers copies).
    """
    if int(weights.sum()) <= max_chunk:
        sk.update_batch(np.repeat(values, weights))
        return
    heavy = weights >= max_chunk
    if heavy.any():
        chunk = np.empty(max_chunk, dtype=values.dtype)  # one reused buffer
        for v, w in zip(values[heavy].tolist(), weights[heavy].tolist()):
            full, rem = divmod(int(w), max_chunk)
            chunk.fill(v)
            for _ in range(full):
                sk.update_batch(chunk)
            if rem:
                sk.update_batch(chunk[:rem])
        values, weights = values[~heavy], weights[~heavy]
    if len(values) == 0:
        return
    # group light rows into runs whose expanded size stays <= 2*max_chunk.
    # bins is NON-DECREASING (cumsum of non-negative weights), so each bin
    # is one contiguous run: slice by run bounds — O(n_rows) total — rather
    # than a boolean mask per bin, which is O(n_rows * n_bins) and blows up
    # when many rows carry weights just under max_chunk (one bin per row).
    bins = (np.cumsum(weights) - weights) // max_chunk
    _uniq, starts = np.unique(bins, return_index=True)
    bounds = np.append(starts, len(values))
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        sk.update_batch(np.repeat(values[lo:hi], weights[lo:hi]))


def fold_batches(sk, batches: Iterator[pa.RecordBatch], *, weighted: bool,
                 string_items: bool = False, as_float: bool = False) -> int:
    """Fold Arrow batches of ``(item[, weight])`` into ``sk`` through the
    weighted protocol (``_weighted_update``); returns the logical rows
    consumed. NULL items and NULL weights are dropped: a NULL weight is
    "no occurrences", like SQL SUM, not int64(nan) garbage."""
    rows = 0
    for batch in batches:
        c = batch.column(0)
        if c.null_count or (weighted and batch.column(1).null_count):
            import pyarrow.compute as pc

            keep = c.is_valid()
            if weighted:
                keep = pc.and_(keep, batch.column(1).is_valid())
            batch = batch.filter(keep)
            c = batch.column(0)
        w_all = anp.values(batch.column(1), np.int64) if weighted else None
        for lo in range(0, len(c), _CHUNK):
            values = items_from_array(c.slice(lo, _CHUNK), string_items, as_float)
            w = w_all[lo:lo + _CHUNK] if w_all is not None else None
            rows += _weighted_update(sk, values, w)
    return rows


def sketch_partials(df, col: str, make_sketch: Callable, *,
                    weight_col: str | None = None,
                    string_items: bool = False, as_float: bool = False):
    """DataFrame[partition_id, rows_seen, sketch] with exactly one row per
    input partition (the per-rank partial sketch, reference
    src/mpi/mpiV2.c:131-140). ``weight_col`` feeds pre-aggregated
    ``(item, count)`` inputs — the common production shape — through the
    same rails (exactness per kernel documented in ``_weighted_update``);
    ``rows_seen`` then counts logical mass."""
    cols = [col] + ([weight_col] if weight_col else [])
    proj = df.select(*cols)
    weighted = bool(weight_col)

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tune_worker()
        sk = make_sketch()
        rows = fold_batches(sk, batches, weighted=weighted,
                            string_items=string_items, as_float=as_float)
        yield _partial_batch(rows, sk)

    return proj.mapInArrow(fold, PARTIAL_SCHEMA)


FANIN = 16  # the driver folds at most this many partials, a merge task about as many
_BLOB_PA = pa.schema([("sketch", pa.binary())])


def fold_blobs(blobs, from_bytes: Callable, out=None):
    """Merge serialized sketches in iteration order into ``out`` (a sketch,
    or None to start from the first blob); None when both are empty."""
    for blob in blobs:
        sk = from_bytes(bytes(blob))
        out = sk if out is None else out.merge(sk)
    return out


def planned(df):
    """``df`` over its own planned JVM RDD (as ``Dataset.checkpoint``,
    without the checkpoint). Planning runs the shuffle stages AQE needs to
    size ``df``; every plan built on the result reads their output instead
    of recomputing them, so one aggregate can feed a sketch build and its
    probe with one scan. Nothing is persisted: each action re-runs only
    the final stage over the shuffle files the plan already wrote."""
    from pyspark.sql import DataFrame

    spark = df.sparkSession
    return DataFrame(spark._jsparkSession.internalCreateDataFrame(
        df._jdf.queryExecution().toRdd(), df._jdf.schema(), False), spark)


def sort_bounded(df, *cols):
    """``df`` totally ordered by ``cols`` in ONE partition, for results
    whose size the query bounds (a per-language row, a heavy-hitter set):
    the same order as ``orderBy`` without its ``RangePartitioner`` sampling
    job, which re-runs the plan under the sort. The stages under the
    single-partition exchange stay parallel. Never use it on a result that
    grows with the input."""
    return df.repartition(1).sortWithinPartitions(*cols)


def merge_sketch_partials(partials_df, from_bytes: Callable):
    """Fan-in merge of the ``sketch`` column of a partials DataFrame
    (MPI_Reduce analog, src/mpi/mpiV2.c:163-175); None when it has no rows.

    Up to ``FANIN`` partials are collected by the action that computes
    them and folded on the driver, so the merge adds no job and no Python
    pass. With more, ``repartition(ceil(P/FANIN))`` + ``mapInArrow``
    levels first fold the blobs about FANIN at a time, so neither a merge
    task nor the driver holds many more than FANIN sketches."""
    blobs = partials_df.select("sketch")
    # size the plan through its JVM RDD: no Python worker starts, and any
    # shuffle stage AQE runs to size it is reused by the collect of this
    # plan, or by merge levels planned over the RDD
    n = blobs._jdf.queryExecution().toRdd().getNumPartitions()
    if n > FANIN:
        blobs = planned(blobs)

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tune_worker()
        out = fold_blobs((b for batch in batches
                          for b in batch.column(0).to_pylist()), from_bytes)
        if out is not None:
            yield anp.batch({"sketch": [out.to_bytes()]}, _BLOB_PA)

    while n > FANIN:
        n = math.ceil(n / FANIN)
        blobs = blobs.repartition(n).mapInArrow(fold, "sketch BINARY")
    return fold_blobs((r[0] for r in blobs.collect()), from_bytes)


def build_sketch(df, col: str, make_sketch: Callable, from_bytes: Callable, *,
                 weight_col: str | None = None,
                 string_items: bool = False, as_float: bool = False):
    partials = sketch_partials(df, col, make_sketch, weight_col=weight_col,
                               string_items=string_items, as_float=as_float)
    sk = merge_sketch_partials(partials, from_bytes)
    return make_sketch() if sk is None else sk


def fold_token_counts(sk, vals: pa.Array, counts: np.ndarray) -> int:
    """Fold one ``(distinct tokens, counts)`` slice into ``sk`` through
    the WEIGHTED protocol, djb2-hashing ``_CHUNK`` tokens at a time;
    returns the token occurrences consumed."""
    rows = 0
    for lo in range(0, len(vals), _CHUNK):
        rows += _weighted_update(sk, djb2_batch(vals.slice(lo, _CHUNK)),
                                 counts[lo:lo + _CHUNK])
    return rows


def text_token_partials(df, text_col: str, make_sketch: Callable):
    """Kernel-generic doc-local token build: tokenize each Arrow batch in
    Arrow C kernels, collapse to (distinct token, count) with value_counts
    (``_arrow_np.token_counts``, in slices bounded by text bytes), djb2
    ONCE per distinct token per slice, and feed the kernel through the
    WEIGHTED protocol — no JVM-side explode, so the Arrow channel moves
    documents, not 100x as many single-token rows (measured 10x on the
    Misra-Gries build, BENCH/sketch_family_scale.json). Exact per kernel:
    'native' kernels take the counts, 'invariant' ones (distinct/
    membership) drop them, 'repeat'-mode kernels expand bounded."""
    proj = df.select(text_col)

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tune_worker()
        sk = make_sketch()
        rows = 0
        for batch in batches:
            for vals, counts in anp.token_counts(batch.column(0)):
                rows += fold_token_counts(sk, vals, counts)
        yield _partial_batch(rows, sk)

    return proj.mapInArrow(fold, PARTIAL_SCHEMA)


def build_sketch_from_text(df, text_col: str, make_sketch: Callable,
                           from_bytes: Callable):
    partials = text_token_partials(df, text_col, make_sketch)
    sk = merge_sketch_partials(partials, from_bytes)
    return make_sketch() if sk is None else sk


def _append_long(df, in_col: str, out_col: str, make_fn: Callable):
    """``df`` with a BIGINT ``out_col`` appended in one ``mapInArrow``
    pass: ``make_fn()``, called once per task, returns the function from
    each batch's ``in_col`` Arrow column to int64 numpy. A NULL ``in_col``
    gives a NULL ``out_col``; every other column passes through
    unchanged."""
    from pyspark.sql.types import LongType, StructField, StructType

    pos = df.columns.index(in_col)
    names = df.columns + [out_col]
    schema = StructType(df.schema.fields + [StructField(out_col, LongType())])

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tune_worker()
        fn = make_fn()
        for batch in batches:
            if batch.num_rows == 0:
                continue
            col = batch.column(pos)
            out = anp.array(fn(col), pa.int64(), valid=anp.valid(col))
            yield pa.RecordBatch.from_arrays(batch.columns + [out],
                                             names=names)

    return df.mapInArrow(kernel, schema)


def with_djb2(df, col: str, out: str = "item_id"):
    """``df`` with a BIGINT ``out`` appended: ``djb2_batch`` of the string
    column ``col`` (``''`` hashes to 5381, a NULL stays NULL). Every
    Spark-side string hash is ``djb2_batch``: the sketch folds call it
    directly, and every other string id (CMS probes, Misra-Gries
    recounts, fingerprint vocabularies, Bloom string keys) comes from
    this kernel, never from an interpreted SQL fold."""
    return _append_long(df, col, out, lambda: djb2_batch)


def probe_cms(df, sk, item_col: str, est_col: str = "cms_estimate"):
    """``df`` with a BIGINT ``est_col`` appended: the point query of ``sk``
    at djb2 of the string column ``item_col`` (NULL for a NULL item), in
    the ``with_djb2`` kernel; every other column passes through unchanged.

    ``sk`` is a ``CountMinSketch`` or a ``ConservativeCMS``: both answer
    min over the same hash rows, so either rides in the closure as one
    CMS1 blob (depth*width*8 bytes, 65 KB at the 3 x 2719 default). The
    probe side is never joined or shuffled against a sketch table."""
    blob = CountMinSketch(sk.epsilon, sk.delta, sk.seed, table=sk.table,
                          total=sk.total).to_bytes()
    eps, delta = sk.epsilon, sk.delta

    def make_probe():
        q = CountMinSketch.from_bytes(blob, eps, delta)
        return lambda col: q.point_query(djb2_batch(col))

    return _append_long(df, item_col, est_col, make_probe)


# ---------------------------------------------------------------------------
# Per-group sketches (one CMS per lang, one HLL per host, one KLL per day,
# ...). Two-phase to stay skew-proof: phase 1 emits bounded
# per-(partition, group) partials; phase 2 shuffles only those small rows
# and merges per group — a hot group never concentrates raw rows on one
# task.
# ---------------------------------------------------------------------------
GROUPED_SCHEMA = "group STRING, rows_seen LONG, sketch BINARY"
_GROUPED_PA = pa.schema(
    [("group", pa.string()), ("rows_seen", pa.int64()), ("sketch", pa.binary())]
)


def _grouped_batch(groups: list, rows: list, blobs: list) -> pa.RecordBatch:
    """One RecordBatch of (group, rows_seen, sketch) partial rows — ONE
    copy of the grouped emit contract for every grouped builder."""
    return anp.batch({"group": groups, "rows_seen": rows, "sketch": blobs},
                     _GROUPED_PA)


def _emit_grouped_partials(sketches: dict, counts: dict):
    """The tail of the per-group-segment builders (dict of sketches)."""
    if sketches:
        yield _grouped_batch(list(sketches), [counts[g] for g in sketches],
                             [sk.to_bytes() for sk in sketches.values()])


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
    byte-identical to a per-group sequential build (tested).
    """

    __slots__ = ("proto", "depth", "width", "_tables", "_totals")

    def __init__(self, proto: CountMinSketch, *, string_items: bool = False,
                 weighted: bool = False):
        super().__init__(string_items=string_items, weighted=weighted)
        self.proto = proto
        self.depth, self.width = proto.depth, proto.width
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
        h = self.proto.buckets(items)  # (depth, n)
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
        """One partial row per group seen; rows_seen is the group's
        logical mass, the sketch's own ``total``."""
        if not self._keys:
            return None
        p = self.proto
        totals = self._totals[:len(self._keys)].tolist()
        blobs = [CountMinSketch(p.epsilon, p.delta, p.seed, table=self._tables[s],
                                total=t).to_bytes()
                 for s, t in enumerate(totals)]
        return _grouped_batch(self._keys, totals, blobs)


class GroupedHLLFold(GroupedFoldBase):
    """Task-level grouped-HLL accumulator, vectorized ACROSS groups — the
    max-merge twin of :class:`GroupedCMSFold`. One stacked (slot, m)
    register array for every group the task has seen; each Arrow batch
    folds in a single ``np.maximum.at`` scatter, so cost is O(rows)
    independent of group cardinality (the per-group-segment fold degrades
    to tiny numpy calls once groups-per-batch is large). Register values
    from the scatter are bit-identical to the per-sketch path: the same
    max lands in the same (slot, bucket) cell.

    Null filtering, the weighted protocol ('invariant': weights ignored
    for register state, summed into rows_seen) and the group->slot
    mapping live in the shared ``_grouped_fold.GroupedFoldBase``."""

    __slots__ = ("proto", "m", "_regs", "_rows")

    def __init__(self, precision: int, seed: int, *, string_items: bool = False,
                 weighted: bool = False):
        super().__init__(string_items=string_items, weighted=weighted)
        self.proto = HyperLogLog(precision, seed)
        self.m = self.proto.m
        self._regs = np.zeros((0, self.m), dtype=np.int64)
        self._rows = np.zeros(0, dtype=np.int64)

    def _capacity(self) -> int:
        return self._regs.shape[0]

    def _grow(self, new_cap: int) -> None:
        cap = self._regs.shape[0]
        regs = np.zeros((new_cap, self.m), dtype=np.int64)
        regs[:cap] = self._regs
        self._regs = regs
        rows = np.zeros(new_cap, dtype=np.int64)
        rows[:cap] = self._rows
        self._rows = rows

    def _scatter(self, slots: np.ndarray, items: np.ndarray,
                 wts: np.ndarray | None) -> None:
        bucket, rho = self.proto._bucket_rho(items)
        np.maximum.at(self._regs.reshape(-1),
                      slots * np.int64(self.m) + bucket, rho)
        np.add.at(self._rows, slots, 1 if wts is None else wts)

    def result_batch(self) -> pa.RecordBatch | None:
        if not self._keys:
            return None
        n = len(self._keys)
        blobs = [HyperLogLog(self.proto.precision, self.proto.seed,
                             registers=self._regs[s]).to_bytes()
                 for s in range(n)]
        return _grouped_batch(self._keys, self._rows[:n].tolist(), blobs)


def _stacked_fold(sk, **kw) -> GroupedFoldBase | None:
    """The stacked accumulator for the kernel's EXACT type — scatter-add
    for CountMinSketch, scatter-max for HyperLogLog — or None, which
    selects the per-group-segment fold (any other kernel, or a subclass
    whose update may differ)."""
    if type(sk) is CountMinSketch:
        return GroupedCMSFold(sk, **kw)
    if type(sk) is HyperLogLog:
        return GroupedHLLFold(sk.precision, sk.seed, **kw)
    return None


def sketch_grouped_partials(df, group_col: str, col: str, make_sketch: Callable, *,
                            string_items: bool = False, as_float: bool = False,
                            weight_col: str | None = None):
    cols = [group_col, col] + ([weight_col] if weight_col else [])
    proj = df.select(*cols)
    weighted = weight_col is not None

    if not as_float and _stacked_fold(make_sketch()) is not None:

        def fold_stacked(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            tune_worker()
            acc = _stacked_fold(make_sketch(), string_items=string_items,
                                weighted=weighted)
            for batch in batches:
                acc.update(batch)
            out = acc.result_batch()
            if out is not None:
                yield out

        return proj.mapInArrow(fold_stacked, GROUPED_SCHEMA)

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        tune_worker()
        sketches: dict[str, object] = {}
        counts: dict[str, int] = {}
        for batch in batches:
            if any(batch.column(i).null_count for i in range(batch.num_columns)):
                keep = pc.and_(batch.column(0).is_valid(), batch.column(1).is_valid())
                if weight_col:
                    keep = pc.and_(keep, batch.column(2).is_valid())
                batch = batch.filter(keep)
            if batch.num_rows == 0:
                continue
            values = items_from_array(batch.column(1), string_items, as_float)
            w_all = anp.values(batch.column(2), np.int64) if weight_col else None
            for g, seg, wseg in iter_group_segments(batch, values, w_all):
                sk = sketches.get(g)
                if sk is None:
                    sk = make_sketch()
                    sketches[g] = sk
                    counts[g] = 0
                counts[g] += _weighted_update(sk, seg, wseg)
        yield from _emit_grouped_partials(sketches, counts)

    return proj.mapInArrow(fold, GROUPED_SCHEMA)


_MERGE_EMIT_BYTES = 1 << 26  # blob bytes per output batch, far below int32 offsets


def merge_grouped_partials(partials, from_bytes: Callable):
    """Phase 2 of every grouped build: shuffle only the small
    (partition, group) partial rows by group, sort each partition by
    (group, sketch) and fold every contiguous group segment with
    ``fold_blobs`` in one ``mapInArrow`` pass. The open segment carries
    across Arrow batches. The fixed in-group order (by blob bytes) makes
    order-sensitive merges (KLL, t-digest) reproducible."""

    def merge(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        tune_worker()
        key, rows, sk = None, 0, None  # the open group segment
        out: dict[str, list] = {"group": [], "rows_seen": [], "sketch": []}
        held = 0

        def close() -> int:
            out["group"].append(key)
            out["rows_seen"].append(rows)
            out["sketch"].append(sk.to_bytes())
            return len(out["sketch"][-1])

        for batch in batches:
            if batch.num_rows == 0:
                continue
            enc = pc.dictionary_encode(batch.column(0))
            codes = anp.values(enc.indices, np.int64, null=-1)
            groups = enc.dictionary.to_pylist() + [None]  # code -1: NULL
            starts = np.flatnonzero(np.r_[True, codes[1:] != codes[:-1]])
            bounds = np.append(starts, len(codes)).tolist()
            seg_rows = np.add.reduceat(
                anp.values(batch.column(1), np.int64, null=0), starts).tolist()
            blobs = batch.column(2).to_pylist()
            for i, lo in enumerate(bounds[:-1]):
                g = groups[codes[lo]]
                if sk is not None and g != key:
                    held += close()
                    rows, sk = 0, None
                key, rows = g, rows + seg_rows[i]
                sk = fold_blobs(blobs[lo:bounds[i + 1]], from_bytes, sk)
            if held >= _MERGE_EMIT_BYTES:
                yield anp.batch(out, _GROUPED_PA)
                out = {n: [] for n in out}
                held = 0
        if sk is not None:
            close()
        if out["group"]:
            yield anp.batch(out, _GROUPED_PA)

    return (partials.repartition("group")
            .sortWithinPartitions("group", "sketch")
            .mapInArrow(merge, GROUPED_SCHEMA))


def sketch_grouped(df, group_col: str, col: str, make_sketch: Callable,
                   from_bytes: Callable, *, string_items: bool = False,
                   as_float: bool = False, weight_col: str | None = None):
    """DataFrame[group, rows_seen, sketch]: one merged sketch per group.
    ``weight_col`` feeds pre-aggregated (group, item, count) inputs through
    the per-kernel WEIGHTED dispatch (``_weighted_update``).

    Phase 1 folds one partial per (scan partition, group); phase 2 merges
    them in one sorted fold (``merge_grouped_partials``). CMS/HLL/Bloom/KMV
    merge to identical state under any partitioning; KLL and t-digest
    state depends on how rows were grouped into partials (randomized
    compaction / centroid order), but their published error bounds hold
    regardless — same caveat as any repartition."""
    partials = sketch_grouped_partials(df, group_col, col, make_sketch,
                                       string_items=string_items,
                                       as_float=as_float, weight_col=weight_col)
    return merge_grouped_partials(partials, from_bytes)


def text_token_grouped_partials(df, group_col: str, text_col: str,
                                make_sketch: Callable):
    """Doc-local GROUPED token build: one partial sketch per
    (partition, group) over a text column, tokenizing inside Arrow C
    kernels — the grouped sibling of :func:`text_token_partials`. The
    Arrow channel moves (group, document) rows, never the exploded token
    stream; per batch each group's texts are segmented once
    (dictionary-coded argsort via ``iter_group_segments``), tokenized and
    collapsed with value_counts (``_arrow_np.token_counts``), djb2-hashed
    once per distinct token per slice and fed through the WEIGHTED
    protocol."""
    import pyarrow.compute as pc

    proj = df.select(group_col, text_col)

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tune_worker()
        sketches: dict[str, object] = {}
        counts: dict[str, int] = {}
        for batch in batches:
            if batch.column(0).null_count or batch.column(1).null_count:
                keep = pc.and_(batch.column(0).is_valid(),
                               batch.column(1).is_valid())
                batch = batch.filter(keep)
            if batch.num_rows == 0:
                continue
            text = batch.column(1)
            row_idx = np.arange(batch.num_rows, dtype=np.int64)
            for g, seg_idx, _w in iter_group_segments(batch, row_idx):
                seg = pc.take(text, anp.array(seg_idx))
                for vals, w in anp.token_counts(seg):
                    sk = sketches.get(g)
                    if sk is None:
                        sk = sketches[g] = make_sketch()
                        counts[g] = 0
                    counts[g] += fold_token_counts(sk, vals, w)
        yield from _emit_grouped_partials(sketches, counts)

    return proj.mapInArrow(fold, GROUPED_SCHEMA)


def sketch_grouped_from_text(df, group_col: str, text_col: str,
                             make_sketch: Callable, from_bytes: Callable):
    partials = text_token_grouped_partials(df, group_col, text_col, make_sketch)
    return merge_grouped_partials(partials, from_bytes)


def finalize_grouped(grouped_df, finalize_fn, out_schema: str,
                     out_pa_schema: pa.Schema):
    """Executor-side finalization of a grouped-sketch DataFrame: decode and
    probe each group's serialized sketch INSIDE ``mapInArrow`` and emit the
    result columns — zero sketch bytes ever reach the driver. At 10k+
    groups (per-host / per-domain sketches) the driver-side
    ``collect()`` + decode loop this replaces would pull gigabytes of blobs
    and serialize all estimate math on one process.

    ``finalize_fn(row: dict) -> list[tuple]`` is called once per group row
    (binary columns arrive as ``bytes``) and returns zero or more output
    tuples matching ``out_schema`` — probes may be row-expanding (e.g. one
    row per quantile)."""
    names = [f.name for f in out_pa_schema]

    def fin(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tune_worker()
        for batch in batches:
            rows: list[tuple] = []
            for row in batch.to_pylist():
                rows.extend(finalize_fn(row))
            if rows:
                yield anp.batch({n: [r[i] for r in rows]
                                 for i, n in enumerate(names)}, out_pa_schema)

    return grouped_df.mapInArrow(fin, out_schema)
