"""Conservative-update Count-Min (CU sketch / Count-Min with conservative
update, Estan & Varghese, SIGCOMM 2002) — a beyond-reference variant of the
reference kernel (src/core/count_min_sketch.c:5-11 is the plain add-to-all
update) that only raises the cells that NEED raising:

    est      = min_j t[j][h_j(x)]
    t[j][h_j(x)] = max(t[j][h_j(x)], est + c)      for every row j

Per update, at least one row keeps its cell at exactly est + c, so the
point-query invariant  min_j t[j][h_j(x)] >= freq(x)  is preserved by
induction, while rows that were already "ahead" (polluted by collisions)
are left untouched — cell values are bounded ABOVE by the plain-CMS cells,
so every CU estimate lands in [freq(x), cms_estimate(x)]. In skewed webtext
streams the overestimate reduction is typically 2-10x for tail items.

Why the main engine still defaults to plain CMS: conservative update is a
read-modify-write of the CURRENT minimum, i.e. inherently sequential — it
cannot be expressed as a groupBy/sum and has no exact streaming merge. What
IS still true (and what makes the distributed build sound) is one-sidedness
under the partial/merge pattern:

  * within one partition, the sequential CU fold guarantees
    min_j t_p[j][h_j(x)] >= freq_p(x)  (the classic CU invariant);
  * element-wise SUM across partitions keeps it: for EVERY row j,
        sum_p t_p[j][h_j(x)]  >=  sum_p min_k t_p[k][h_k(x)]
                              >=  sum_p freq_p(x)  =  freq(x),
    so the merged min-over-rows is still >= freq(x);
  * each CU cell is <= the corresponding plain-CMS cell (same data, same
    hashes), and sums of smaller cells stay smaller, so the merged CU
    estimate is also <= the merged plain-CMS estimate.

The merged table is therefore NOT bit-stable across partitionings (unlike
plain CMS — the trade the reference's atomics experiment also ran into,
src/openmp/openmpV2.c), but every estimate it produces is sandwiched
between the exact count and the plain-CMS estimate regardless of how Spark
split the data. The contract query (plans/sketch_queries.py::
q_cms_cu_accuracy) gates exactly that sandwich, item by item.

Batches are pre-aggregated to (distinct item, total weight) and folded in
ascending-item order, so a partial sketch is a deterministic function of
the partition's batch MULTISETS (order within a batch does not matter).
"""

from __future__ import annotations

import struct

import numpy as np

from .cms import add_weighted_counts, dims
from .hashing import affine_hash, affine_params, djb2_batch

_MAGIC = b"CMU1"
_HEADER = struct.Struct("<4sIIqq")  # magic, depth, width, seed, total


class ConservativeCMS:
    """CU sketch with the same (eps, delta, seed) geometry — and therefore
    the same hash rows — as ``CountMinSketch``, so the two tables are
    directly comparable cell-for-cell."""

    WEIGHTED = "native"  # update_batch(items, counts) folds weight-exactly
    __slots__ = ("depth", "width", "seed", "epsilon", "delta", "a", "b",
                 "table", "total", "_rows")

    def __init__(self, epsilon: float = 0.001, delta: float = 0.1, seed: int = 1,
                 table: np.ndarray | None = None, total: int = 0):
        self.epsilon = float(epsilon)
        self.delta = float(delta)
        self.depth, self.width = dims(epsilon, delta)
        self.seed = int(seed)
        self.a, self.b = affine_params(self.seed, self.depth)
        if table is None:
            self.table = np.zeros((self.depth, self.width), dtype=np.int64)
        else:
            table = np.asarray(table, dtype=np.int64)
            if table.shape != (self.depth, self.width):
                raise ValueError(f"table shape {table.shape} != {(self.depth, self.width)}")
            self.table = table
        self.total = int(total)
        self._rows = np.arange(self.depth)

    def config_key(self) -> tuple[int, int, int]:
        return (self.depth, self.width, self.seed)

    def copy_empty(self) -> "ConservativeCMS":
        return ConservativeCMS(self.epsilon, self.delta, self.seed)

    # -- update --------------------------------------------------------------
    def update_batch(self, items, counts=None) -> None:
        """Fold a batch: pre-aggregate to distinct items (the hash work and
        the sequential walk run once per DISTINCT item), then conservative
        read-modify-write per item in ascending item order. The inner loop
        is per-DISTINCT-item Python over numpy rows — the price of CU's
        sequential dependence; plain CMS remains the vectorized hot path."""
        items = np.asarray(items, dtype=np.int64)
        if items.size == 0:
            return
        if counts is None:
            uniq, w = np.unique(items, return_counts=True)
            w = w.astype(np.int64, copy=False)
        else:
            counts = np.asarray(counts, dtype=np.int64)
            if (counts < 0).any():
                raise ValueError("negative weights are not allowed in sketch builds")
            uniq, inv = np.unique(items, return_inverse=True)
            w = np.zeros(uniq.size, dtype=np.int64)
            add_weighted_counts(w[None], inv[None], counts)
        h = affine_hash(uniq, self.a, self.b, self.width)  # [depth, m]
        t, rows = self.table, self._rows
        for i in range(uniq.size):
            wi = int(w[i])
            if wi == 0:
                continue
            cols = h[:, i]
            cur = t[rows, cols]
            t[rows, cols] = np.maximum(cur, int(cur.min()) + wi)
        self.total += int(w.sum())

    def update_strings(self, tokens, counts=None) -> None:
        self.update_batch(djb2_batch(tokens), counts)

    # -- queries -------------------------------------------------------------
    def point_query(self, items) -> np.ndarray:
        items = np.asarray(items, dtype=np.int64)
        h = affine_hash(items, self.a, self.b, self.width)
        return self.table[self._rows[:, None], h].min(axis=0)

    def point_query_strings(self, tokens) -> np.ndarray:
        return self.point_query(djb2_batch(tokens))

    # -- merge ---------------------------------------------------------------
    def merge(self, other: "ConservativeCMS") -> "ConservativeCMS":
        """Element-wise sum. Keeps one-sidedness and the <=-plain-CMS bound
        (module docstring proof) but is NOT equivalent to a sequential CU
        pass over the concatenated stream — merged estimates may exceed the
        single-pass CU values (never the plain-CMS ones)."""
        if self.config_key() != other.config_key():
            raise ValueError(f"incompatible sketches: {self.config_key()} vs {other.config_key()}")
        self.table += other.table
        self.total += other.total
        return self

    # -- serialization --------------------------------------------------------
    def to_bytes(self) -> bytes:
        return _HEADER.pack(_MAGIC, self.depth, self.width, self.seed, self.total) + \
            np.ascontiguousarray(self.table).tobytes()

    @classmethod
    def from_bytes(cls, data: bytes, epsilon: float = 0.001, delta: float = 0.1) -> "ConservativeCMS":
        magic, depth, width, seed, total = _HEADER.unpack_from(data, 0)
        if magic != _MAGIC:
            raise ValueError("not a CMU1 blob")
        table = np.frombuffer(data, dtype=np.int64, offset=_HEADER.size).reshape(depth, width).copy()
        sk = cls(epsilon, delta, seed, table=table, total=total)
        if (sk.depth, sk.width) != (depth, width):
            raise ValueError("(eps, delta) do not match serialized dims")
        return sk
