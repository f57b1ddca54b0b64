"""KLL quantile sketch: mergeable rank/quantile kernel (north-star addition;
the reference has no quantile operator — SURVEY §2.8).

Standard KLL (Karnin-Lang-Liberty 2016) with geometrically-decaying level
capacities: items enter level 0 with weight 1; a full level is sorted and
compacted by keeping every other item (offset chosen by a seeded,
state-keyed coin), promoting survivors to the next level with doubled
weight. Merge concatenates levels pairwise then re-compacts — the same
partial/final protocol as CMS, but merge is NOT an element-wise sum
(SURVEY §7 hard part (d)), so tests assert the rank-error guarantee after
merging rather than byte-equality.

All randomness is derived from (seed, level, compaction counter): the
sketch is a deterministic function of the multiset of inserted chunks and
the merge tree shape — reproducible run-to-run at fixed partitioning.
"""

from __future__ import annotations

import struct

import numpy as np

_MAGIC = b"KLL1"
_C = 2.0 / 3.0  # capacity decay


def _level_capacity(k: int, level: int, num_levels: int) -> int:
    depth = num_levels - level - 1
    return max(2, int(np.ceil(k * (_C ** depth))))


class KLLSketch:
    WEIGHTED = "repeat"  # weighted insert = repeat expansion (exact, O(sum w))
    __slots__ = ("k", "seed", "levels", "n", "_compactions")

    def __init__(self, k: int = 200, seed: int = 1):
        self.k = int(k)
        self.seed = int(seed)
        self.levels: list[np.ndarray] = [np.empty(0, dtype=np.float64)]
        self.n = 0
        self._compactions = 0

    # -- update ------------------------------------------------------------
    def update_batch(self, values) -> None:
        values = np.asarray(values, dtype=np.float64)
        values = values[~np.isnan(values)]
        if values.size == 0:
            return
        self.levels[0] = np.concatenate([self.levels[0], values])
        self.n += int(values.size)
        self._compress()

    def _coin(self, level: int) -> int:
        self._compactions += 1
        rng = np.random.default_rng((self.seed * 1_000_003 + level * 7_919 + self._compactions) & 0x7FFFFFFF)
        return int(rng.integers(0, 2))

    def _compress(self) -> None:
        while True:
            num = len(self.levels)
            total_cap = sum(_level_capacity(self.k, l, num) for l in range(num))
            if sum(len(v) for v in self.levels) <= total_cap:
                return
            for level in range(num):
                cap = _level_capacity(self.k, level, num)
                if len(self.levels[level]) > cap:
                    buf = np.sort(self.levels[level])
                    offset = self._coin(level)
                    promoted = buf[offset::2]
                    self.levels[level] = np.empty(0, dtype=np.float64)
                    if level + 1 == len(self.levels):
                        self.levels.append(np.empty(0, dtype=np.float64))
                    self.levels[level + 1] = np.concatenate([self.levels[level + 1], promoted])
                    break
            else:
                return

    # -- merge ----------------------------------------------------------------
    def merge(self, other: "KLLSketch") -> "KLLSketch":
        if self.k != other.k:
            raise ValueError("incompatible KLL k")
        while len(self.levels) < len(other.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
        for level, vals in enumerate(other.levels):
            if vals.size:
                self.levels[level] = np.concatenate([self.levels[level], vals])
        self.n += other.n
        self._compactions = max(self._compactions, other._compactions) + 1
        self._compress()
        return self

    def copy_empty(self) -> "KLLSketch":
        return KLLSketch(self.k, self.seed)

    # -- queries ------------------------------------------------------------
    def _weighted(self) -> tuple[np.ndarray, np.ndarray]:
        vals, weights = [], []
        for level, v in enumerate(self.levels):
            if v.size:
                vals.append(v)
                weights.append(np.full(v.size, 1 << level, dtype=np.int64))
        if not vals:
            return np.empty(0), np.empty(0, dtype=np.int64)
        v = np.concatenate(vals)
        w = np.concatenate(weights)
        order = np.argsort(v, kind="stable")
        return v[order], w[order]

    def quantile(self, q) -> np.ndarray:
        """Value(s) at normalized rank(s) q in [0, 1]."""
        qs = np.atleast_1d(np.asarray(q, dtype=np.float64))
        v, w = self._weighted()
        if v.size == 0:
            return np.full(qs.shape, np.nan)
        cum = np.cumsum(w)
        targets = np.clip(qs, 0.0, 1.0) * cum[-1]
        idx = np.searchsorted(cum, targets, side="left")
        idx = np.minimum(idx, v.size - 1)
        return v[idx]

    def rank(self, value: float) -> float:
        """Approximate normalized rank of ``value``."""
        v, w = self._weighted()
        if v.size == 0:
            return float("nan")
        idx = np.searchsorted(v, value, side="right")
        return float(w[:idx].sum() / w.sum())

    def cdf_error_bound(self) -> float:
        """Theoretical normalized rank error ~ O(1/k)."""
        return 1.7 / self.k

    # -- serialization ----------------------------------------------------------
    def to_bytes(self) -> bytes:
        parts = [struct.pack("<4sIqqI", _MAGIC, self.k, self.seed, self.n, len(self.levels))]
        parts.append(struct.pack("<q", self._compactions))
        for v in self.levels:
            parts.append(struct.pack("<q", v.size))
            parts.append(v.tobytes())
        return b"".join(parts)

    @classmethod
    def from_bytes(cls, data: bytes) -> "KLLSketch":
        magic, k, seed, n, num_levels = struct.unpack_from("<4sIqqI", data, 0)
        if magic != _MAGIC:
            raise ValueError("not a KLL1 blob")
        off = struct.calcsize("<4sIqqI")
        (compactions,) = struct.unpack_from("<q", data, off)
        off += 8
        sk = cls(k, seed)
        sk.n = n
        sk._compactions = compactions
        sk.levels = []
        for _ in range(num_levels):
            (size,) = struct.unpack_from("<q", data, off)
            off += 8
            sk.levels.append(np.frombuffer(data, dtype=np.float64, offset=off, count=size).copy())
            off += size * 8
        return sk
