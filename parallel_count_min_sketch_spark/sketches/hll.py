"""HyperLogLog: mergeable approximate-distinct kernel (north-star addition;
the reference has no distinct-count operator — SURVEY §2.8).

Same design contract as the CMS kernel: all hash params derive from a seed;
registers are computed with two independent affine 31-bit hashes so the
register table is replayable in pure BIGINT SQL (bucket = h1 mod m,
rho = trailing_zeros(h2) + 1, computable as log2(h2 & -h2) + 1):
the DuckDB oracle checks the REGISTERS exactly; the float estimator is
validated separately against exact distinct counts in pytest.

Merge = element-wise register max — associative, commutative, idempotent.
Standard error ~= 1.04 / sqrt(2^precision).
"""

from __future__ import annotations

import struct

import numpy as np

from .hashing import MERSENNE_PRIME, affine_params, djb2_batch

_MAGIC = b"HLL1"
_HEADER = struct.Struct("<4sIq")  # magic, precision, seed

# rho comes from a 31-bit value; 0 maps past the top bit
_MAX_RHO = 32

# Fixed-point scale for the portable estimator: sum(2^-reg) is computed as
# the exact integer sum(2^(SCALE_BITS - reg)); every term is integral since
# reg <= 32 < 48, and the total stays < 2^60 for m <= 2^12 registers.
HLL_SCALE_BITS = 48


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


class HyperLogLog:
    WEIGHTED = "invariant"  # duplicates never change registers (max-merge)
    __slots__ = ("precision", "m", "seed", "a", "b", "registers")

    def __init__(self, precision: int = 12, seed: int = 1,
                 registers: np.ndarray | None = None):
        if not (4 <= precision <= 18):
            raise ValueError("precision must be in [4, 18]")
        self.precision = precision
        self.m = 1 << precision
        self.seed = int(seed)
        # two independent affine hashes: row 0 -> bucket, row 1 -> rho bits
        self.a, self.b = affine_params(seed, 2)
        if registers is None:
            self.registers = np.zeros(self.m, dtype=np.int64)
        else:
            registers = np.asarray(registers, dtype=np.int64)
            if registers.shape != (self.m,):
                raise ValueError("register shape mismatch")
            self.registers = registers

    def config_key(self):
        return (self.precision, self.seed)

    # -- update ------------------------------------------------------------
    def _bucket_rho(self, items: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        x = np.asarray(items, dtype=np.int64) % MERSENNE_PRIME
        h1 = (self.a[0] * x + self.b[0]) % MERSENNE_PRIME
        h2 = (self.a[1] * x + self.b[1]) % MERSENNE_PRIME
        bucket = h1 % self.m
        low = h2 & -h2  # lowest set bit; 0 stays 0
        rho = np.where(h2 == 0, _MAX_RHO, np.log2(np.maximum(low, 1)).astype(np.int64) + 1)
        return bucket, rho.astype(np.int64)

    def update_batch(self, items) -> None:
        items = np.asarray(items, dtype=np.int64)
        if items.size == 0:
            return
        bucket, rho = self._bucket_rho(items)
        np.maximum.at(self.registers, bucket, rho)

    def update_strings(self, tokens) -> None:
        self.update_batch(djb2_batch(tokens))

    # -- query ---------------------------------------------------------------
    def estimate(self) -> float:
        m = self.m
        est = _alpha(m) * m * m / np.power(2.0, -self.registers.astype(np.float64)).sum()
        if est <= 2.5 * m:
            zeros = int((self.registers == 0).sum())
            if zeros:
                est = m * np.log(m / zeros)
        return float(est)

    def estimate_portable(self) -> tuple[int, int, float]:
        """(scaled_inverse_sum, zero_registers, estimate) with the inverse
        sum computed as the EXACT integer sum(2^(SCALE_BITS - reg)) — every
        term is integral because reg <= 32 < SCALE_BITS — so a SQL oracle
        can replay S and V exactly and the float estimate deterministically
        (two IEEE rounding steps + one libm log, identical op order to the
        SQL emitted by the driver queries)."""
        regs = self.registers
        m = self.m
        s = int((1 << (HLL_SCALE_BITS - regs.astype(np.int64))).sum())
        v = int((regs == 0).sum())
        raw = _alpha(m) * (m * m) * float(1 << HLL_SCALE_BITS) / s
        if raw <= 2.5 * m and v > 0:
            import math

            est = float(m) * math.log(float(m) / v)
        else:
            est = raw
        return s, v, est

    # -- merge ----------------------------------------------------------------
    def merge(self, other: "HyperLogLog") -> "HyperLogLog":
        if self.config_key() != other.config_key():
            raise ValueError("incompatible HLL configs")
        np.maximum(self.registers, other.registers, out=self.registers)
        return self

    def copy_empty(self) -> "HyperLogLog":
        return HyperLogLog(self.precision, self.seed)

    # -- serialization ----------------------------------------------------------
    def to_bytes(self) -> bytes:
        return _HEADER.pack(_MAGIC, self.precision, self.seed) + \
            self.registers.astype(np.uint8).tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "HyperLogLog":
        magic, precision, seed = _HEADER.unpack_from(data, 0)
        if magic != _MAGIC:
            raise ValueError("not an HLL1 blob")
        regs = np.frombuffer(data, dtype=np.uint8, offset=_HEADER.size).astype(np.int64)
        return cls(precision, seed, registers=regs)
