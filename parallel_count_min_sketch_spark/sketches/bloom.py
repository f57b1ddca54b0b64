"""Bloom filter: mergeable membership kernel (north-star addition).

k seeded affine hash rows over the Mersenne prime (same family as CMS, so
the DuckDB oracle replays membership bit-for-bit in BIGINT SQL). Bits are
kept as a uint8 0/1 array in memory (vectorized np ops) and bit-packed for
serialization. Merge = bitwise OR — associative, commutative, idempotent.

Sizing: m = ceil(-n*ln(fpp) / ln(2)^2), k = round(m/n * ln 2).
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .hashing import affine_hash, affine_params, djb2_batch

_MAGIC = b"BLM1"
_HEADER = struct.Struct("<4sIIqq")  # magic, m_bits, k, seed, n_added


def bloom_dims(expected_items: int, fpp: float) -> tuple[int, int]:
    if not (0.0 < fpp < 1.0) or expected_items <= 0:
        raise ValueError("bad bloom params")
    m = math.ceil(-expected_items * math.log(fpp) / (math.log(2) ** 2))
    k = max(1, round(m / expected_items * math.log(2)))
    return m, k


class BloomFilter:
    WEIGHTED = "invariant"  # duplicate inserts are no-ops (bit OR)
    __slots__ = ("m", "k", "seed", "a", "b", "bits", "n_added")

    def __init__(self, expected_items: int = 10_000, fpp: float = 0.01, seed: int = 1,
                 *, m: int | None = None, k: int | None = None,
                 bits: np.ndarray | None = None, n_added: int = 0):
        if m is None or k is None:
            m, k = bloom_dims(expected_items, fpp)
        self.m, self.k, self.seed = int(m), int(k), int(seed)
        self.a, self.b = affine_params(seed, self.k)
        self.bits = np.zeros(self.m, dtype=np.uint8) if bits is None else bits
        if self.bits.shape != (self.m,):
            raise ValueError("bits shape mismatch")
        self.n_added = int(n_added)

    def config_key(self):
        return (self.m, self.k, self.seed)

    def _positions(self, items) -> np.ndarray:
        return affine_hash(np.asarray(items, dtype=np.int64), self.a, self.b, self.m)

    def add_batch(self, items) -> None:
        items = np.asarray(items, dtype=np.int64)
        if items.size == 0:
            return
        pos = self._positions(items)
        self.bits[pos.ravel()] = 1
        self.n_added += int(items.size)

    def add_strings(self, tokens) -> None:
        self.add_batch(djb2_batch(tokens))

    # protocol aliases: every sketch kernel exposes update_batch/update_strings
    def update_batch(self, items) -> None:
        self.add_batch(items)

    def update_strings(self, tokens) -> None:
        self.add_strings(tokens)

    def contains_batch(self, items) -> np.ndarray:
        items = np.asarray(items, dtype=np.int64)
        pos = self._positions(items)
        return self.bits[pos].all(axis=0)

    def contains_strings(self, tokens) -> np.ndarray:
        return self.contains_batch(djb2_batch(tokens))

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        if self.config_key() != other.config_key():
            raise ValueError("incompatible bloom configs")
        np.bitwise_or(self.bits, other.bits, out=self.bits)
        self.n_added += other.n_added
        return self

    def copy_empty(self) -> "BloomFilter":
        return BloomFilter(seed=self.seed, m=self.m, k=self.k)

    def fill_ratio(self) -> float:
        return float(self.bits.mean())

    def to_bytes(self) -> bytes:
        return _HEADER.pack(_MAGIC, self.m, self.k, self.seed, self.n_added) + \
            np.packbits(self.bits).tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "BloomFilter":
        magic, m, k, seed, n_added = _HEADER.unpack_from(data, 0)
        if magic != _MAGIC:
            raise ValueError("not a BLM1 blob")
        packed = np.frombuffer(data, dtype=np.uint8, offset=_HEADER.size)
        bits = np.unpackbits(packed)[:m].astype(np.uint8)
        return cls(seed=seed, m=m, k=k, bits=bits, n_added=n_added)
