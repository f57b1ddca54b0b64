"""t-digest: mergeable quantile kernel tuned for tail accuracy
(north-star addition; no quantile operator exists in the reference).

Dunning's merging t-digest: a bounded list of (mean, weight) centroids;
inserts buffer raw points; compression sorts by mean and greedily merges
adjacent centroids while the k1 scale function allows — centroids near the
extreme quantiles stay tiny, giving relative tail accuracy. Merge = union
of centroid lists + recompress (same partial/final protocol as CMS; not an
element-wise sum, so tests assert quantile accuracy, not byte equality).
Deterministic: no randomness anywhere.
"""

from __future__ import annotations

import struct

import numpy as np

_MAGIC = b"TDG1"
_BUFFER_FACTOR = 5


class TDigest:
    WEIGHTED = "native"  # update_batch(values, weights) is weight-exact
    __slots__ = ("compression", "means", "weights", "n", "_buf_vals", "_buf_weights")

    def __init__(self, compression: float = 100.0):
        self.compression = float(compression)
        self.means = np.empty(0, dtype=np.float64)
        self.weights = np.empty(0, dtype=np.float64)
        self.n = 0.0
        self._buf_vals: list[np.ndarray] = []
        self._buf_weights: list[np.ndarray] = []

    # -- k1 scale function ----------------------------------------------------
    def _k(self, q: np.ndarray) -> np.ndarray:
        return self.compression / (2.0 * np.pi) * np.arcsin(2.0 * np.clip(q, 0.0, 1.0) - 1.0)

    # -- update ------------------------------------------------------------
    def update_batch(self, values, weights=None) -> None:
        values = np.asarray(values, dtype=np.float64)
        mask = ~np.isnan(values)
        values = values[mask]
        if values.size == 0:
            return
        w = (np.asarray(weights, dtype=np.float64)[mask]
             if weights is not None else np.ones(values.size))
        self._buf_vals.append(values)
        self._buf_weights.append(w)
        self.n += float(w.sum())
        if sum(v.size for v in self._buf_vals) >= _BUFFER_FACTOR * self.compression:
            self._compress()

    def _compress(self) -> None:
        if not self._buf_vals and self.means.size <= self.compression:
            return
        vals = np.concatenate([self.means] + self._buf_vals) if self._buf_vals else self.means
        ws = np.concatenate([self.weights] + self._buf_weights) if self._buf_weights else self.weights
        self._buf_vals, self._buf_weights = [], []
        if vals.size == 0:
            return
        order = np.argsort(vals, kind="stable")
        vals, ws = vals[order], ws[order]
        total = ws.sum()
        out_means, out_weights = [], []
        cur_mean, cur_w = float(vals[0]), float(ws[0])
        cum = 0.0
        for v, w in zip(vals[1:], ws[1:]):
            q0 = cum / total
            q2 = (cum + cur_w + w) / total
            if self._k(np.array([q2]))[0] - self._k(np.array([q0]))[0] <= 1.0:
                cur_mean = (cur_mean * cur_w + v * w) / (cur_w + w)
                cur_w += w
            else:
                out_means.append(cur_mean)
                out_weights.append(cur_w)
                cum += cur_w
                cur_mean, cur_w = float(v), float(w)
        out_means.append(cur_mean)
        out_weights.append(cur_w)
        self.means = np.array(out_means)
        self.weights = np.array(out_weights)

    # -- merge ----------------------------------------------------------------
    def merge(self, other: "TDigest") -> "TDigest":
        if self.compression != other.compression:
            raise ValueError("incompatible t-digest compression")
        other._compress()
        if other.means.size:
            self._buf_vals.append(other.means)
            self._buf_weights.append(other.weights)
        self.n += other.n
        self._compress()
        return self

    def copy_empty(self) -> "TDigest":
        return TDigest(self.compression)

    # -- queries ------------------------------------------------------------
    def quantile(self, q) -> np.ndarray:
        self._compress()
        qs = np.atleast_1d(np.asarray(q, dtype=np.float64))
        if self.means.size == 0:
            return np.full(qs.shape, np.nan)
        if self.means.size == 1:
            return np.full(qs.shape, self.means[0])
        cum = np.cumsum(self.weights) - self.weights / 2.0
        targets = np.clip(qs, 0.0, 1.0) * self.weights.sum()
        return np.interp(targets, cum, self.means)

    def cdf(self, value: float) -> float:
        self._compress()
        if self.means.size == 0:
            return float("nan")
        cum = np.cumsum(self.weights) - self.weights / 2.0
        return float(np.interp(value, self.means, cum / self.weights.sum(),
                               left=0.0, right=1.0))

    # -- serialization ----------------------------------------------------------
    def to_bytes(self) -> bytes:
        self._compress()
        head = struct.pack("<4sdqd", _MAGIC, self.compression, self.means.size, self.n)
        return head + self.means.tobytes() + self.weights.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "TDigest":
        magic, compression, size, n = struct.unpack_from("<4sdqd", data, 0)
        if magic != _MAGIC:
            raise ValueError("not a TDG1 blob")
        off = struct.calcsize("<4sdqd")
        td = cls(compression)
        td.means = np.frombuffer(data, dtype=np.float64, offset=off, count=size).copy()
        off += size * 8
        td.weights = np.frombuffer(data, dtype=np.float64, offset=off, count=size).copy()
        td.n = n
        return td
