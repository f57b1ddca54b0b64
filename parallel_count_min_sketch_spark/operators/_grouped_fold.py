"""Shared scaffolding for the grouped sketch folds of ``sketch_agg``.

The stacked (vectorized-across-groups) accumulators
``sketch_agg.GroupedCMSFold`` (scatter-add counters) and
``sketch_agg.GroupedHLLFold`` (scatter-max registers) differ ONLY in their
per-batch scatter; everything around it (null filtering, the weighted
protocol, dictionary-encode -> slot mapping, geometric capacity growth,
item extraction) is this base class, so a protocol fix lands in exactly
one place. ``iter_group_segments`` is the per-group-segment split the
other grouped folds use.

Weighted protocol (both kernels): negative weights rejected loudly,
zero-weight rows dropped BEFORE item extraction (for string items the
djb2 byte fold is the most expensive per-row step and pre-aggregated
inputs can carry many zero-count rows). What surviving weights MEAN is
the subclass's business: CMS adds them into counters ('native'), HLL
ignores them for register state ('invariant') — both fold them into the
per-group row totals.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from ..sketches.hashing import djb2_batch
from .. import _arrow_np as anp


def items_from_array(col: pa.Array, string_items: bool,
                     as_float: bool = False) -> np.ndarray:
    """Sketch input values from an Arrow column: djb2 byte fold for
    strings (reference hash), float64 for value sketches (KLL, t-digest),
    plain int64 item ids otherwise."""
    if string_items:
        return djb2_batch(col)
    if as_float and pa.types.is_decimal(col.type):
        col = col.cast(pa.float64())
    return anp.values(col, np.float64 if as_float else np.int64)


def iter_group_segments(batch: pa.RecordBatch, values: np.ndarray,
                        weights: np.ndarray | None = None):
    """Yield (group_key, value_slice, weight_slice_or_None) per distinct
    group of an Arrow batch whose column 0 holds the group key. Keys are
    dictionary-encoded so only UNIQUE key strings ever cross into Python;
    the segmenting argsort runs on int32 codes (matters for
    high-cardinality groups — host, file)."""
    import pyarrow.compute as pc

    enc = pc.dictionary_encode(batch.column(0))
    codes = anp.values(enc.indices)
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


class GroupedFoldBase:
    """Task-level grouped accumulator core. Subclasses provide:

    - ``_capacity()``: current slot capacity of their stacked arrays
    - ``_grow(new_cap)``: reallocate those arrays to ``new_cap`` slots
    - ``_scatter(slots, items, wts)``: fold one batch's rows (``wts`` is
      None for unweighted inputs; zero/negative weights never reach it)
    """

    __slots__ = ("string_items", "weighted", "_slot", "_keys")

    def __init__(self, *, string_items: bool = False, weighted: bool = False):
        self.string_items = string_items
        self.weighted = weighted
        self._slot: dict = {}
        self._keys: list = []

    # -- subclass surface ----------------------------------------------------
    def _capacity(self) -> int:
        raise NotImplementedError

    def _grow(self, new_cap: int) -> None:
        raise NotImplementedError

    def _scatter(self, slots: np.ndarray, items: np.ndarray,
                 wts: np.ndarray | None) -> None:
        raise NotImplementedError

    # -- shared fold ----------------------------------------------------------
    def _ensure_capacity(self, n: int) -> None:
        cap = self._capacity()
        if n > cap:
            self._grow(max(n, cap * 2, 16))

    def update(self, batch: pa.RecordBatch) -> None:
        """Fold one Arrow batch of (group, item[, weight]) rows."""
        import pyarrow.compute as pc

        if any(batch.column(i).null_count for i in range(batch.num_columns)):
            keep = pc.and_(batch.column(0).is_valid(),
                           batch.column(1).is_valid())
            if self.weighted:
                keep = pc.and_(keep, batch.column(2).is_valid())
            batch = batch.filter(keep)
        if batch.num_rows == 0:
            return
        if self.weighted:
            wts = anp.values(batch.column(2), np.int64)
            if (wts < 0).any():
                raise ValueError(
                    "negative weights are not allowed in sketch builds")
            keep_w = wts > 0
            if not keep_w.all():
                wts = wts[keep_w]
                batch = batch.filter(anp.array(keep_w))
            if batch.num_rows == 0:
                return
        else:
            wts = None
        items = items_from_array(batch.column(1), self.string_items)

        # only UNIQUE group strings cross into Python; rows map to slots
        # through a numpy gather over the dictionary codes
        enc = pc.dictionary_encode(batch.column(0))
        codes = anp.values(enc.indices, np.int64)
        uniq = enc.dictionary.to_pylist()
        slot_of = self._slot
        keys = self._keys
        code_slot = np.empty(len(uniq), dtype=np.int64)
        for i, g in enumerate(uniq):
            s = slot_of.get(g)
            if s is None:
                s = len(keys)
                slot_of[g] = s
                keys.append(g)
            code_slot[i] = s
        self._ensure_capacity(len(keys))
        self._scatter(code_slot[codes], items, wts)

