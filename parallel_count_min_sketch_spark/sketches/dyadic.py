"""Dyadic Count-Min: O(log U) range queries.

The reference's range query is a naive sum of point queries over every
integer in [lo, hi] (src/core/count_min_sketch.c:47-53) — O(range·d).
The standard dyadic construction (Cormode & Muthukrishnan, "An improved
data stream summary: the count-min sketch and its applications") keeps one
CMS per resolution level l, sketching item // base^l; a range decomposes
into at most 2·(base−1)·levels aligned intervals, each answered by one
point query — O(base·log_base(U)) regardless of range width.

Trade-off: update cost ×levels (one bincount batch per level) and memory
×levels (~65 KB per level at reference eps/delta). Merge stays level-wise
element-wise addition — same associativity as plain CMS, same partial/final
Spark execution.

Per-level hash params derive from (seed, level), so executors and the
DuckDB oracle replay them exactly.
"""

from __future__ import annotations

import struct

import numpy as np

from .cms import CountMinSketch

_MAGIC = b"DYA1"
_LEVEL_SEED_STRIDE = 7919


def level_seed(seed: int, level: int) -> int:
    return seed + _LEVEL_SEED_STRIDE * level


def decompose(lo: int, hi: int, base: int, levels: int) -> list[tuple[int, int]]:
    """Disjoint cover of [lo, hi] by aligned intervals -> [(level, key)]
    where (level, key) denotes [key*base^level, (key+1)*base^level - 1]."""
    if hi < lo:
        return []
    out: list[tuple[int, int]] = []
    l = 0
    step = 1
    while lo <= hi:
        if l + 1 >= levels:
            out.extend((l, k) for k in range(lo // step, hi // step + 1))
            break
        nxt = step * base
        while lo % nxt != 0 and lo <= hi:
            out.append((l, lo // step))
            lo += step
        while (hi + 1) % nxt != 0 and lo <= hi:
            out.append((l, hi // step))
            hi -= step
        l += 1
        step = nxt
    return out


class DyadicCMS:
    __slots__ = ("epsilon", "delta", "seed", "base", "levels", "sketches")

    # update_batch(items, counts) takes native pre-aggregated counts (each
    # level's CMS consumes them as weights) — without this the generic
    # rails' _weighted_update would fall back to O(sum(weights)) repeat
    # expansion for weighted dyadic builds.
    WEIGHTED = "native"

    def __init__(self, epsilon: float = 0.001, delta: float = 0.1, seed: int = 1,
                 *, base: int = 16, levels: int = 8):
        if base < 2 or levels < 1:
            raise ValueError("base >= 2, levels >= 1 required")
        self.epsilon, self.delta, self.seed = float(epsilon), float(delta), int(seed)
        self.base, self.levels = int(base), int(levels)
        self.sketches = [
            CountMinSketch(epsilon, delta, level_seed(seed, l)) for l in range(levels)
        ]

    def config_key(self):
        return (self.sketches[0].depth, self.sketches[0].width, self.seed,
                self.base, self.levels)

    @property
    def total(self) -> int:
        return self.sketches[0].total

    def update_batch(self, items, counts=None) -> None:
        items = np.asarray(items, dtype=np.int64)
        if items.size == 0:
            return
        keys = items
        for l in range(self.levels):
            self.sketches[l].update_batch(keys, counts)
            keys = keys // self.base

    def point_query(self, items) -> np.ndarray:
        return self.sketches[0].point_query(items)

    def range_query(self, lo: int, hi: int) -> int:
        """O(base * levels) point queries regardless of range width."""
        parts = decompose(lo, hi, self.base, self.levels)
        if not parts:
            return 0
        total = 0
        by_level: dict[int, list[int]] = {}
        for l, k in parts:
            by_level.setdefault(l, []).append(k)
        for l, keys in by_level.items():
            total += int(self.sketches[l].point_query(np.array(keys, dtype=np.int64)).sum())
        return total

    def merge(self, other: "DyadicCMS") -> "DyadicCMS":
        if self.config_key() != other.config_key():
            raise ValueError("incompatible dyadic configs")
        for mine, theirs in zip(self.sketches, other.sketches):
            mine.merge(theirs)
        return self

    def copy_empty(self) -> "DyadicCMS":
        return DyadicCMS(self.epsilon, self.delta, self.seed,
                         base=self.base, levels=self.levels)

    def to_bytes(self) -> bytes:
        head = struct.pack("<4sqII", _MAGIC, self.seed, self.base, self.levels)
        blobs = [sk.to_bytes() for sk in self.sketches]
        sizes = struct.pack(f"<{len(blobs)}q", *[len(b) for b in blobs])
        return head + sizes + b"".join(blobs)

    @classmethod
    def from_bytes(cls, data: bytes, epsilon: float = 0.001, delta: float = 0.1) -> "DyadicCMS":
        magic, seed, base, levels = struct.unpack_from("<4sqII", data, 0)
        if magic != _MAGIC:
            raise ValueError("not a DYA1 blob")
        off = struct.calcsize("<4sqII")
        sizes = struct.unpack_from(f"<{levels}q", data, off)
        off += 8 * levels
        out = cls(epsilon, delta, seed, base=base, levels=levels)
        for l, size in enumerate(sizes):
            out.sketches[l] = CountMinSketch.from_bytes(data[off:off + size], epsilon, delta)
            off += size
        return out
