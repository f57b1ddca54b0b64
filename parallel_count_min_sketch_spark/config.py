"""Sketch configurations: pure functions of (epsilon, delta, seed).

Everything any executor (or the DuckDB oracle) needs to evaluate the hash
family is derivable from the config — the Spark-native replacement for the
reference's broadcast of rank 0's hash params (src/mpi/mpiV1.c:24-26).

``bucket_sql`` emits the bucket expression as ANSI SQL using only BIGINT
arithmetic, valid verbatim in BOTH Spark SQL and DuckDB — this is how the
correctness oracles replay the sketch math value-for-value.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from .sketches.cms import dims
from .sketches.hashing import DJB2_INIT, LONG_PRIME, MERSENNE_PRIME, affine_params

# Reference defaults (src/core/count_min_sketch.h:13-14)
DEFAULT_EPSILON = 0.001
DEFAULT_DELTA = 0.1
DEFAULT_SEED = 12345


@dataclass(frozen=True)
class CMSConfig:
    epsilon: float = DEFAULT_EPSILON
    delta: float = DEFAULT_DELTA
    seed: int = DEFAULT_SEED
    depth: int = field(init=False)
    width: int = field(init=False)

    def __post_init__(self):
        d, w = dims(self.epsilon, self.delta)
        object.__setattr__(self, "depth", d)
        object.__setattr__(self, "width", w)

    @property
    def ab(self) -> tuple[np.ndarray, np.ndarray]:
        return affine_params(self.seed, self.depth)

    def new_sketch(self):
        from .sketches.cms import CountMinSketch

        return CountMinSketch(self.epsilon, self.delta, self.seed)

    def from_bytes(self, blob: bytes):
        from .sketches.cms import CountMinSketch

        return CountMinSketch.from_bytes(blob, self.epsilon, self.delta)

    # ---- SQL emission (shared by Spark SQL and DuckDB oracles) ----------
    def bucket_sql(self, row: int, item_expr: str) -> str:
        """h_row(item) as pure BIGINT SQL: ((a*(x%p)+b)%p)%w."""
        a, b = self.ab
        return affine_bucket_sql(int(a[row]), int(b[row]), self.width, item_expr)

    def bucket_sql_all_rows(self, item_expr: str) -> list[str]:
        return [self.bucket_sql(j, item_expr) for j in range(self.depth)]


def affine_bucket_sql(a: int, b: int, width: int, item_expr: str) -> str:
    """((a*(x%p)+b)%p)%width in pure BIGINT SQL — valid in Spark SQL and
    DuckDB alike; mirrors hashing.affine_hash exactly."""
    return (
        f"((({a} * (({item_expr}) % {MERSENNE_PRIME}) + {b})"
        f" % {MERSENNE_PRIME}) % {width})"
    )


def affine_sql(a: int, b: int, item_expr: str) -> str:
    """(a*(x%p)+b)%p in pure BIGINT SQL."""
    return f"(({a} * (({item_expr}) % {MERSENNE_PRIME}) + {b}) % {MERSENNE_PRIME})"


def cubic_sql(c3: int, c2: int, c1: int, c0: int, item_expr: str) -> str:
    """Degree-3 polynomial (c3*x^3+c2*x^2+c1*x+c0) mod p in Horner form,
    pure BIGINT SQL (Spark and DuckDB alike) — every intermediate is
    < 2^62 + 2^31, exact in int64 even under ANSI mode. 4-wise
    independent sign family for Count-Sketch; mirrors
    sketches/countsketch.CountSketch._buckets_signs exactly."""
    x = f"(({item_expr}) % {MERSENNE_PRIME})"
    h = f"(({c3} * {x} + {c2}) % {MERSENNE_PRIME})"
    h = f"(({h} * {x} + {c1}) % {MERSENNE_PRIME})"
    return f"(({h} * {x} + {c0}) % {MERSENNE_PRIME})"


def _djb2_step_sql(h: str, u: str, intdiv: str) -> str:
    """One step of the DuckDB oracles' djb2 fold (``djb2_sql_duckdb``):
    expand code point ``u`` to its UTF-8 bytes arithmetically and fold
    each byte in (h*33+byte), taking mod p once per character — exact,
    since the pre-mod intermediate stays < 2^55 in int64.

    This makes the SQL fold byte-identical to the numpy kernel
    (sketches/hashing.djb2_batch hashes UTF-8 *bytes*) while keeping the
    fast per-character substring scan. Handles 1-4 byte code points.
    """
    d = intdiv
    return (
        f"CASE WHEN {u} < 128 THEN ({h} * 33 + {u}) % {LONG_PRIME} "
        f"WHEN {u} < 2048 THEN (({h} * 33 + (192 + {u} {d} 64)) * 33 "
        f"+ (128 + {u} % 64)) % {LONG_PRIME} "
        f"WHEN {u} < 65536 THEN ((({h} * 33 + (224 + {u} {d} 4096)) * 33 "
        f"+ (128 + ({u} {d} 64) % 64)) * 33 + (128 + {u} % 64)) % {LONG_PRIME} "
        f"ELSE (((({h} * 33 + (240 + {u} {d} 262144)) * 33 "
        f"+ (128 + ({u} {d} 4096) % 64)) * 33 + (128 + ({u} {d} 64) % 64)) * 33 "
        f"+ (128 + {u} % 64)) % {LONG_PRIME} END"
    )


def djb2_sql_duckdb(col_expr: str) -> str:
    """djb2-over-UTF-8-bytes mod LONG_PRIME as DuckDB SQL (list_reduce
    over ord code points, each expanded to its UTF-8 bytes): the oracles'
    replay of ``djb2_batch``, equal to it on any unicode input, ``''``
    included (reference hash: src/core/count_min_sketch.c:14-21)."""
    return (
        f"list_reduce(list_prepend(CAST({DJB2_INIT} AS BIGINT), "
        f"list_transform(range(1, length({col_expr}) + 1), i -> "
        f"CAST(ord(substring({col_expr}, i, 1)) AS BIGINT))), "
        f"(h, u) -> {_djb2_step_sql('h', 'u', '//')})"
    )
