"""KMV (k-minimum-values / bottom-k theta) distinct sketch with set
operations (north-star addition; the reference has no distinct or set-op
operator — SURVEY §2.8).

Unlike HLL, a KMV sketch supports UNION **and INTERSECTION** estimates
between sketches built independently (per language, per host, per split),
which is exactly the shape a training-data pipeline needs for corpus
overlap audits ("how many users/documents do splits A and B share?").

Design contract matches the other kernels: state is a sorted int64 array
of the k smallest DISTINCT values of a seeded hash into the ~62-bit
space [0, p1*p2), p1 = 2^31-1 and p2 = 2^31-19 (distinct primes):
h(x) = h1(x mod p1) * p2 + h2(x mod p2), each hi an independent affine
over its own prime. A single 31-bit affine hash would collapse the item
space to ~2.1e9 values, so past ~10^7 true distincts birthday collisions
bias every estimate low (standard KMV/theta sketches use a 64-bit hash
space for exactly this reason). The two residues MUST come from
DIFFERENT primes: two affines of the SAME residue x mod p are fully
correlated (each is a bijection of that one residue — they collide
together, leaving the ceiling at ~2^31). With distinct primes the CRT
gives x mod p1 and x mod p2 jointly determining x mod p1*p2, so two
items collide only when they are congruent mod p1*p2 ~ 4.6e18 — at most
three other preimages across the whole int64 domain (regression-tested:
x and x + p1 hash apart). Every intermediate stays < 2^62 — exact in
int64 and in the BIGINT SQL the DuckDB oracle replays literally as
``SELECT DISTINCT h ... ORDER BY h LIMIT k`` (estimator intermediates
(k-1)*p1*p2 exceed int64, so the oracle folds them in HUGEINT and the
Python side in arbitrary-precision ints).

Math (standard KMV / theta-sketch estimators, Beyer et al. 2007 /
Dasgupta et al. 2016), over the hash space P = p^2:
  theta     = P when fewer than k distinct hashes were seen (sketch is
              EXACT: it holds every distinct hash), else the k-th
              smallest hash value.
  distinct  = n_kept (exact case) or (k-1) * P / theta.
  A ∩ B     : theta_ab = min(theta_a, theta_b);
              C = {h in kept_A ∩ kept_B : h < theta_ab};
              est = |C| * P / theta_ab  (exact when both sides exact).
  A ∪ B     : merge (union of kept sets, re-truncate to bottom-k), then
              the single-sketch estimator.
Merge is associative, commutative and idempotent; duplicates never change
the state, so WEIGHTED = "invariant" on the shared aggregation rails.
"""

from __future__ import annotations

import struct

import numpy as np

from .hashing import MERSENNE_PRIME, affine_params, djb2_batch

# second hash prime (2^31 - 19): must differ from MERSENNE_PRIME so the
# two residues are CRT-independent — see the module docstring
KMV_SECOND_PRIME = 2_147_483_629
# hash space: h1(x mod p1) * p2 + h2(x mod p2) ranges over [0, p1*p2)
KMV_HASH_SPACE = MERSENNE_PRIME * KMV_SECOND_PRIME  # ~4.6e18 < 2^62

_MAGIC = b"KMV1"
_HEADER = struct.Struct("<4sIq")  # magic, k, seed


class KMVSketch:
    WEIGHTED = "invariant"  # duplicates never change a distinct sketch
    __slots__ = ("k", "seed", "a", "b", "a2", "b2", "values")

    def __init__(self, k: int = 512, seed: int = 1,
                 values: np.ndarray | None = None):
        if k < 2:
            raise ValueError("k must be >= 2")
        self.k = int(k)
        self.seed = int(seed)
        a, b = affine_params(seed, 2)
        self.a, self.b = int(a[0]), int(b[0])
        self.a2, self.b2 = int(a[1]) % KMV_SECOND_PRIME, \
            int(b[1]) % KMV_SECOND_PRIME
        if self.a2 == 0:  # a2 drawn in [1, p1): only a2 == p2 folds to 0
            self.a2 = 1   # keep h2 a bijection of x mod p2
        if values is None:
            self.values = np.empty(0, dtype=np.int64)
        else:
            values = np.asarray(values, dtype=np.int64)
            if len(values) > self.k:
                raise ValueError("more than k values")
            self.values = values

    def config_key(self):
        return (self.k, self.seed)

    # -- update ------------------------------------------------------------
    def _hash(self, items: np.ndarray) -> np.ndarray:
        x = np.asarray(items, dtype=np.int64)
        # residues from TWO distinct primes: jointly they determine
        # x mod p1*p2 (CRT) — a single shared residue would leave the
        # hash space at ~2^31 no matter how many affines consume it
        h1 = (self.a * (x % MERSENNE_PRIME) + self.b) % MERSENNE_PRIME
        h2 = (self.a2 * (x % KMV_SECOND_PRIME) + self.b2) % KMV_SECOND_PRIME
        # h1 < p1 ~ 2^31 so h1*p2 < 2^62: exact in int64 (and BIGINT SQL)
        return h1 * KMV_SECOND_PRIME + h2

    def update_batch(self, items) -> None:
        items = np.asarray(items, dtype=np.int64)
        if items.size == 0:
            return
        h = self._hash(items)
        merged = np.unique(np.concatenate([self.values, h]))
        self.values = merged[: self.k]

    def update_strings(self, tokens) -> None:
        self.update_batch(djb2_batch(tokens))

    # -- query -------------------------------------------------------------
    @property
    def theta(self) -> int:
        """Hash-space threshold: every distinct hash < theta is in the
        kept set. p^2 (exact sketch) until the k-th value arrives."""
        if len(self.values) < self.k:
            return KMV_HASH_SPACE
        return int(self.values[-1])

    def estimate_portable(self) -> tuple[int, int, float]:
        """(n_kept, theta, estimate) — integers plus one float division,
        replayable in SQL."""
        n = len(self.values)
        if n < self.k:
            return n, KMV_HASH_SPACE, float(n)
        th = int(self.values[-1])
        return n, th, (self.k - 1) * KMV_HASH_SPACE / th

    def estimate(self) -> float:
        return self.estimate_portable()[2]

    # -- set operations ----------------------------------------------------
    @staticmethod
    def pair_stats(sa: "KMVSketch", sb: "KMVSketch") -> dict:
        """Integer-exact pair state + estimates for A∩B / A∪B / Jaccard.

        All counts are computed below theta = min(theta_a, theta_b), the
        region where BOTH sketches are complete samples of the hash space;
        the estimates are single float divisions over those integers.
        """
        if sa.config_key() != sb.config_key():
            raise ValueError("incompatible KMV configs")
        p = KMV_HASH_SPACE
        theta = min(sa.theta, sb.theta)
        a_below = sa.values[sa.values < theta]
        b_below = sb.values[sb.values < theta]
        n_common = int(np.intersect1d(a_below, b_below).size)
        n_union_below = int(np.union1d(a_below, b_below).size)
        inter_est = n_common * p / theta
        union_sk = sa.copy_with_values().merge(sb.copy_with_values())
        _, u_theta, union_est = union_sk.estimate_portable()
        jaccard = n_common / n_union_below if n_union_below else 0.0
        return {
            "theta": int(theta),
            "n_common": n_common,
            "n_union_below_theta": n_union_below,
            "inter_est": float(inter_est),
            "union_theta": int(u_theta),
            "union_est": float(union_est),
            "jaccard_est": float(jaccard),
        }

    # -- merge -------------------------------------------------------------
    def merge(self, other: "KMVSketch") -> "KMVSketch":
        if self.config_key() != other.config_key():
            raise ValueError("incompatible KMV configs")
        merged = np.unique(np.concatenate([self.values, other.values]))
        self.values = merged[: self.k]
        return self

    def copy_empty(self) -> "KMVSketch":
        return KMVSketch(self.k, self.seed)

    def copy_with_values(self) -> "KMVSketch":
        return KMVSketch(self.k, self.seed, values=self.values.copy())

    # -- serialization -----------------------------------------------------
    def to_bytes(self) -> bytes:
        return _HEADER.pack(_MAGIC, self.k, self.seed) + \
            self.values.astype("<i8").tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "KMVSketch":
        magic, k, seed = _HEADER.unpack_from(data, 0)
        if magic != _MAGIC:
            raise ValueError("not a KMV1 blob")
        vals = np.frombuffer(data, dtype="<i8", offset=_HEADER.size).astype(np.int64)
        return cls(k, seed, values=vals)
