"""Pure-Python sequential Count-Min Sketch — the in-repo analog of the
reference's sequential implementation (src/sequential/cms_linear.c).

Deliberately scalar (one item at a time, like the reference's fgets loop,
src/sequential/cms_linear.c:26-42) and sharing ONLY the seed with the numpy
kernel. Same seed => identical hash params => byte-identical counter
matrices. The oracle of ``test_cms_kernel.py``: it proves the vectorized
kernel computes exactly what the sequential reference computes.
"""

from __future__ import annotations

import math

import numpy as np

from parallel_count_min_sketch_spark.sketches.hashing import (
    DJB2_INIT, LONG_PRIME, MERSENNE_PRIME, affine_params)


class SequentialCMS:
    def __init__(self, epsilon: float = 0.001, delta: float = 0.1, seed: int = 1):
        self.width = math.ceil(math.e / epsilon)
        self.depth = math.ceil(math.log(1.0 / delta))
        self.seed = seed
        a, b = affine_params(seed, self.depth)
        self.a = [int(v) for v in a]
        self.b = [int(v) for v in b]
        self.table = [[0] * self.width for _ in range(self.depth)]
        self.total = 0

    def _hash(self, j: int, item: int) -> int:
        return ((self.a[j] * (item % MERSENNE_PRIME) + self.b[j]) % MERSENNE_PRIME) % self.width

    @staticmethod
    def hash_str(token: str) -> int:
        h = DJB2_INIT
        for ch in token.encode("utf-8"):
            h = (h * 33 + ch) % LONG_PRIME
        return h

    def update(self, item: int, count: int = 1) -> None:
        # cms_update_int (src/core/count_min_sketch.c:5-11)
        self.total += count
        for j in range(self.depth):
            self.table[j][self._hash(j, item)] += count

    def update_str(self, token: str, count: int = 1) -> None:
        self.update(self.hash_str(token), count)

    def point_query(self, item: int) -> int:
        # cms_point_query_int (src/core/count_min_sketch.c:30-39)
        return min(self.table[j][self._hash(j, item)] for j in range(self.depth))

    def range_query(self, start: int, end: int) -> int:
        # cms_range_query_int (src/core/count_min_sketch.c:47-53)
        return sum(self.point_query(x) for x in range(start, end + 1))

    def inner_product(self, other: "SequentialCMS") -> int:
        # cms_inner_product (src/core/count_min_sketch.c:65-83)
        if (self.depth, self.width) != (other.depth, other.width):
            raise ValueError("shape mismatch")
        return min(
            sum(x * y for x, y in zip(self.table[j], other.table[j]))
            for j in range(self.depth)
        )

    def matrix(self) -> np.ndarray:
        return np.array(self.table, dtype=np.int64)
