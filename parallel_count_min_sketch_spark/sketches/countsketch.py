"""Count-Sketch (AMS sketch; Charikar-Chen-Farach-Colton 2002) — the
UNBIASED complement to the reference's Count-Min (north-star addition,
SURVEY §2.8: the reference has only the one-sided CMS estimator,
src/core/count_min_sketch.c).

Where CMS always over-estimates (one-sided error eps*N), Count-Sketch's
signed updates give E[est] = true count with error ~ sqrt(F2)/sqrt(w) per
row, median-of-d rows — much tighter on heavy-tailed token streams, and
the same sketch yields the second frequency moment F2 (the AMS estimator),
which a pipeline uses for join-size / self-similarity estimation.

Design contract matches the other kernels: the per-row bucket hash is a
seeded affine (2-universal) function over the Mersenne prime; the SIGN
hash is a seeded CUBIC polynomial over the same prime (Horner form, every
intermediate < 2^62 so the evaluation is exact in int64 and in ANSI-SQL
BIGINT alike) — degree-3 polynomials over a prime field are 4-wise
independent, which is what the AMS F2 variance bound assumes (an affine
sign family is only 2-wise and silently weakens the guarantee). The
counter table is plain int64 sums, so a SQL oracle replays the whole
state as ``SUM(sign)`` grouped by (depth_row, bucket), and the
median-of-d point estimate as the middle element of d ordered integers
(d is odd by construction — no float interpolation anywhere).

Merge = element-wise sum (associative/commutative); weighted updates are
native (signed weight adds).
"""

from __future__ import annotations

import struct

import numpy as np

from .hashing import MERSENNE_PRIME, affine_params, djb2_batch

_MAGIC = b"CSK1"
_HEADER = struct.Struct("<4sIIq")  # magic, depth, width, seed


class CountSketch:
    WEIGHTED = "native"
    __slots__ = ("depth", "width", "seed", "a", "b", "sc", "table")

    def __init__(self, depth: int = 5, width: int = 2048, seed: int = 1,
                 table: np.ndarray | None = None):
        if depth % 2 == 0:
            raise ValueError("depth must be odd (exact integer median)")
        self.depth = int(depth)
        self.width = int(width)
        self.seed = int(seed)
        # rows 0..d-1: affine bucket hashes. Sign hashes: one cubic
        # polynomial per row, coefficients (c3, c2, c1, c0) with c3 != 0
        # (the a-draws are in [1, p-1]) so each row's sign family is
        # genuinely degree 3 -> 4-wise independent. Everything from one
        # seeded draw: the full parameter set is a pure function of
        # (seed, depth) and replays in oracle SQL as integer literals.
        a, b = affine_params(seed, 3 * depth)
        self.a, self.b = a[:depth], b[:depth]
        # sc[j] = (c3, c2, c1, c0) for depth row j
        self.sc = np.stack(
            [a[depth:2 * depth], b[depth:2 * depth],
             a[2 * depth:], b[2 * depth:]], axis=1)
        if table is None:
            self.table = np.zeros((depth, width), dtype=np.int64)
        else:
            table = np.asarray(table, dtype=np.int64)
            if table.shape != (depth, width):
                raise ValueError("table shape mismatch")
            self.table = table

    def config_key(self):
        return (self.depth, self.width, self.seed)

    # -- hashing -----------------------------------------------------------
    def _buckets_signs(self, items: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        x = np.asarray(items, dtype=np.int64) % MERSENNE_PRIME
        h = (self.a[:, None] * x[None, :] + self.b[:, None]) % MERSENNE_PRIME
        # cubic sign polynomial, Horner form: every intermediate is
        # (value < p) * (x < p) + coeff < 2^62 + 2^31 — exact in int64
        c3, c2, c1, c0 = (self.sc[:, i][:, None] for i in range(4))
        s = (c3 * x[None, :] + c2) % MERSENNE_PRIME
        s = (s * x[None, :] + c1) % MERSENNE_PRIME
        s = (s * x[None, :] + c0) % MERSENNE_PRIME
        return h % self.width, (s % 2) * 2 - 1  # sign in {-1, +1}

    # -- update ------------------------------------------------------------
    def update_batch(self, items, weights=None) -> None:
        items = np.asarray(items, dtype=np.int64)
        if items.size == 0:
            return
        w = (np.ones(len(items), dtype=np.int64) if weights is None
             else np.asarray(weights, dtype=np.int64))
        buckets, signs = self._buckets_signs(items)
        for j in range(self.depth):
            np.add.at(self.table[j], buckets[j], signs[j] * w)

    def update_strings(self, tokens, weights=None) -> None:
        self.update_batch(djb2_batch(tokens), weights)

    # -- query -------------------------------------------------------------
    def estimates_per_row(self, items) -> np.ndarray:
        """int64[depth, n]: the signed counter each row votes for."""
        items = np.asarray(items, dtype=np.int64)
        buckets, signs = self._buckets_signs(items)
        return np.stack([self.table[j, buckets[j]] * signs[j]
                         for j in range(self.depth)])

    def point_query(self, items) -> np.ndarray:
        """Median-of-depth point estimates (exact integer median — depth
        is odd, so this is the middle order statistic, no averaging)."""
        per_row = self.estimates_per_row(items)
        return np.sort(per_row, axis=0)[self.depth // 2]

    def point_query_strings(self, tokens) -> np.ndarray:
        return self.point_query(djb2_batch(tokens))

    def f2_estimate(self) -> int:
        """AMS second-moment estimate: median over rows of sum_c c^2.

        Computed in arbitrary-precision Python ints: an int64 sum of
        squares wraps silently once a row's mass concentrates past ~3e9
        in one counter — well inside a 100-TB corpus. depth*width is a
        few thousand scalars, so the driver-side exact sum is free."""
        per_row = sorted(
            sum(int(c) * int(c) for c in row) for row in self.table)
        return int(per_row[self.depth // 2])

    # -- merge -------------------------------------------------------------
    def merge(self, other: "CountSketch") -> "CountSketch":
        if self.config_key() != other.config_key():
            raise ValueError("incompatible CountSketch configs")
        self.table += other.table
        return self

    def copy_empty(self) -> "CountSketch":
        return CountSketch(self.depth, self.width, self.seed)

    # -- serialization -----------------------------------------------------
    def to_bytes(self) -> bytes:
        return _HEADER.pack(_MAGIC, self.depth, self.width, self.seed) + \
            self.table.astype("<i8").tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "CountSketch":
        magic, depth, width, seed = _HEADER.unpack_from(data, 0)
        if magic != _MAGIC:
            raise ValueError("not a CSK1 blob")
        table = np.frombuffer(data, dtype="<i8", offset=_HEADER.size) \
            .astype(np.int64).reshape(depth, width)
        return cls(depth, width, seed, table=table)
