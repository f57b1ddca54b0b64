"""Count-Min Sketch: pure-numpy mergeable kernel (no Spark imports).

Parameters follow the reference exactly (src/core/count_min_sketch.c:98-99):
    width  w = ceil(e / epsilon)
    depth  d = ceil(ln(1 / delta))
with the published guarantee: point estimates are one-sided
(estimate >= true count) and exceed the true count by more than eps*N with
probability at most delta (reference accuracy harness:
src/core/count_min_sketch.c:205-242).

Counters are int64 (the reference's uint32, src/core/count_min_sketch.h:25-33,
would overflow at the 10^12-document target scale). Hash rows use the seeded
affine family from ``hashing.py``; because params are a pure function of the
seed, every Spark executor regenerates identical functions — the Spark-native
equivalent of the reference broadcasting rank 0's params (src/mpi/mpiV1.c:24-26).

Merge is element-wise matrix addition — associative and commutative — the
same operation the reference performs with MPI_Reduce(MPI_SUM)
(src/mpi/mpiV2.c:163-175). That associativity is what lets Spark compute
per-partition partials in any order and tree-merge them.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .hashing import LONG_PRIME, MERSENNE_PRIME, affine_hash, affine_params, djb2_batch

_MAGIC = b"CMS1"
_HEADER = struct.Struct("<4sIIqq")  # magic, depth, width, seed, total


def dims(epsilon: float, delta: float) -> tuple[int, int]:
    """(depth, width) from (eps, delta) — reference formulas
    (src/core/count_min_sketch.c:98-99). eps=0.001, delta=0.1 -> (3, 2719)."""
    if not (0.0 < epsilon < 1.0) or not (0.0 < delta < 1.0):
        raise ValueError("epsilon and delta must be in (0, 1)")
    width = math.ceil(math.e / epsilon)
    depth = math.ceil(math.log(1.0 / delta))
    return depth, width


def add_weighted_counts(table: np.ndarray, rows: np.ndarray, counts: np.ndarray) -> None:
    """``table[j] += np.bincount(rows[j], weights=counts)`` for every row j,
    exact in int64 for any int64 weights. The float64 ``bincount`` is exact
    while every partial sum stays below 2^53, which holds when the absolute
    mass does (checked against 2^52 so the check's own float rounding
    cannot cross 2^53); heavier batches accumulate with ``np.add.at``."""
    width = table.shape[1]
    if np.abs(counts, dtype=np.float64).sum() < 2.0 ** 52:
        weights = counts.astype(np.float64)
        for t, row in zip(table, rows):
            t += np.bincount(row, weights=weights, minlength=width).astype(np.int64)
    else:
        for t, row in zip(table, rows):
            np.add.at(t, row, counts)


class CountMinSketch:
    """Mergeable CMS with vectorized batch update / query.

    The whole update path is numpy: hashing a batch is one broadcasted
    affine expression, and the counter update is one bincount per row —
    the Spark-side Arrow UDFs call exactly this, so per-item Python never
    happens (input_hint requirement).
    """

    WEIGHTED = "native"  # update_batch(items, counts) is weight-exact
    __slots__ = ("depth", "width", "seed", "epsilon", "delta", "a", "b", "table", "total",
                 "_qcache")

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
        self._qcache = None  # lazily-built read-path cache for range_query

    # -- config identity ---------------------------------------------------
    def config_key(self) -> tuple[int, int, int]:
        return (self.depth, self.width, self.seed)

    def _check_compatible(self, other: "CountMinSketch") -> None:
        # reference cms_inner_product errors on shape mismatch
        # (src/core/count_min_sketch.c:65-83); we also require same seed,
        # since different hash params make counters incomparable.
        if self.config_key() != other.config_key():
            raise ValueError(f"incompatible sketches: {self.config_key()} vs {other.config_key()}")

    # -- update -------------------------------------------------------------
    def buckets(self, items: np.ndarray) -> np.ndarray:
        """int64[depth, n] bucket indices."""
        return affine_hash(items, self.a, self.b, self.width)

    def update_batch(self, items, counts=None) -> None:
        """Vectorized equivalent of a loop of cms_update_int
        (src/core/count_min_sketch.c:5-11): total += sum(c);
        table[j][h_j(x)] += c for every row j."""
        items = np.asarray(items, dtype=np.int64)
        if items.size == 0:
            return
        self._qcache = None
        h = self.buckets(items)
        if counts is None:
            for j in range(self.depth):
                self.table[j] += np.bincount(h[j], minlength=self.width)
            self.total += int(items.size)
        else:
            counts = np.asarray(counts, dtype=np.int64)
            add_weighted_counts(self.table, h, counts)
            self.total += int(counts.sum())

    def update_strings(self, tokens, counts=None) -> None:
        """cms_update_str analog (src/core/count_min_sketch.c:24-27):
        djb2 mod LONG_PRIME -> integer path."""
        self.update_batch(djb2_batch(tokens), counts)

    # -- queries ------------------------------------------------------------
    def point_query(self, items) -> np.ndarray:
        """min over rows (src/core/count_min_sketch.c:30-39), vectorized
        over a batch of query items -> int64[n]."""
        items = np.atleast_1d(np.asarray(items, dtype=np.int64))
        h = self.buckets(items)
        ests = self.table[np.arange(self.depth)[:, None], h]
        return ests.min(axis=0)

    def point_query_strings(self, tokens) -> np.ndarray:
        return self.point_query(djb2_batch(tokens))

    def _read_cache(self):
        """Python-int hash params + row lists for the scalar hot path.
        Built lazily; invalidated by update/merge (anyone poking ``table``
        directly must clear ``_qcache`` themselves)."""
        if self._qcache is None:
            self._qcache = list(zip(self.a.tolist(), self.b.tolist(), self.table.tolist()))
        return self._qcache

    def range_query(self, start: int, end: int) -> int:
        """Sum of point queries over [start, end] inclusive — the
        reference's naive O(range) semantics (src/core/count_min_sketch.c:47-53).

        Small ranges run as a pure-Python-int loop over cached row lists:
        in this sandbox a numpy ufunc call costs 1.5-3.5us in dispatch
        alone, so at 11 points the scalar loop (~9us) beats any vectorized
        formulation (~12-30us). Large ranges switch to the vectorized path.
        For query STREAMS use ``range_query_many`` — amortized it is ~100x
        faster per range, the honest comparison with the reference's
        repetition-loop benchmark (its 4.4us/query is one C loop iteration,
        csv_results/benchmark_1000m_linear.csv)."""
        if end < start:
            return 0
        # The scalar cache materializes the depth x width table as Python
        # ints; worth it only for modest tables (default 3 x 2719). A
        # fine-epsilon sketch (eps=1e-6 -> width ~2.7M) would pin hundreds
        # of MB to answer an 11-point range — use the vectorized path there.
        if end - start + 1 <= 64 and self.depth * self.width <= 262_144:
            w = self.width
            cache = self._read_cache()
            s = 0
            for x in range(start, end + 1):
                xm = x % MERSENNE_PRIME
                m = None
                for aj, bj, tj in cache:
                    v = tj[((aj * xm + bj) % MERSENNE_PRIME) % w]
                    if m is None or v < m:
                        m = v
                s += m
            return s
        return int(self.point_query(np.arange(start, end + 1, dtype=np.int64)).sum())

    def range_query_many(self, starts, ends) -> np.ndarray:
        """Vectorized batch of range queries: one hash/gather pass over the
        concatenated point domain + segment sums (np.add.reduceat). This is
        the shape Spark executors use — per-query dispatch cost amortizes
        to ~0."""
        starts = np.atleast_1d(np.asarray(starts, dtype=np.int64))
        ends = np.atleast_1d(np.asarray(ends, dtype=np.int64))
        if starts.shape != ends.shape:
            raise ValueError("starts/ends shape mismatch")
        lengths = np.maximum(ends - starts + 1, 0)
        total = int(lengths.sum())
        if total == 0:
            return np.zeros(starts.shape, dtype=np.int64)
        offsets = np.concatenate([[0], np.cumsum(lengths)[:-1]])
        idx = np.arange(total, dtype=np.int64)
        pts = idx - np.repeat(offsets, lengths) + np.repeat(starts, lengths)
        ests = self.point_query(pts)
        out = np.zeros(starts.shape, dtype=np.int64)
        nonempty = lengths > 0
        if nonempty.any():
            sums = np.add.reduceat(ests, offsets[nonempty])
            out[nonempty] = sums
        return out

    def multi_point_sum(self, tokens) -> int:
        """cms_range_query_str analog (src/core/count_min_sketch.c:55-61):
        sum of point queries over an explicit item list."""
        return int(self.point_query_strings(tokens).sum())

    def inner_product(self, other: "CountMinSketch") -> int:
        """Join-size estimate: min_j sum_w A[j]*B[j]
        (src/core/count_min_sketch.c:65-83)."""
        self._check_compatible(other)
        return int(np.einsum("dw,dw->d", self.table, other.table).min())

    def heavy_hitters(self, candidates, threshold: int):
        """(candidate, estimate) pairs with estimate >= threshold.
        Heavy hitters are not in the reference; candidates come from an
        exact distinct pass or per-partition candidate tracking."""
        candidates = np.asarray(candidates, dtype=np.int64)
        est = self.point_query(candidates)
        keep = est >= threshold
        return candidates[keep], est[keep]

    # -- merge --------------------------------------------------------------
    def merge(self, other: "CountMinSketch") -> "CountMinSketch":
        """In-place element-wise add (MPI_Reduce(MPI_SUM) analog,
        src/mpi/mpiV2.c:163-175). Associative + commutative."""
        self._check_compatible(other)
        self._qcache = None
        self.table += other.table
        self.total += other.total
        return self

    def copy_empty(self) -> "CountMinSketch":
        """cms_init_private analog (src/core/count_min_sketch_hybridV1.c:79-93):
        same config/hash params, zeroed counters."""
        return CountMinSketch(self.epsilon, self.delta, self.seed)

    # -- serialization -------------------------------------------------------
    def to_bytes(self) -> bytes:
        return _HEADER.pack(_MAGIC, self.depth, self.width, self.seed, self.total) + \
            np.ascontiguousarray(self.table).tobytes()

    @classmethod
    def from_bytes(cls, data: bytes, epsilon: float = 0.001, delta: float = 0.1) -> "CountMinSketch":
        magic, depth, width, seed, total = _HEADER.unpack_from(data, 0)
        if magic != _MAGIC:
            raise ValueError("not a CMS1 blob")
        table = np.frombuffer(data, dtype=np.int64, offset=_HEADER.size).reshape(depth, width).copy()
        sk = cls(epsilon, delta, seed, table=table, total=total)
        if (sk.depth, sk.width) != (depth, width):
            raise ValueError("(eps, delta) do not match serialized dims")
        return sk


__all__ = ["CountMinSketch", "dims", "LONG_PRIME", "MERSENNE_PRIME"]
