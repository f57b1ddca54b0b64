"""Frequent Directions — the mergeable MATRIX sketch (Liberty, KDD 2013;
Ghashami et al., SIAM J. Comput. 2016): a deterministic rank-ℓ summary
B (ℓ x d) of a tall matrix A (n x d) with the covariance guarantee

    0  ⪯  AᵀA − BᵀB  ⪯  (‖A‖_F² / ℓ) · I        (psd order)

i.e. every direction's squared mass is preserved to within ‖A‖_F²/ℓ.
This is the embedding-era member of the sketch family: covariance /
principal-subspace estimation over an `array<float>` embedding column
at corpus scale, in one pass, mergeable — partial sketches merge
associatively like CMS/HLL/KLL (reference merge analog
src/mpi/mpiV2.c:163-175).

Mechanics: maintain a 2ℓ-row buffer; when full, SVD, subtract the
(ℓ+1)-th squared singular value from every σ², keep the top-ℓ shrunken
rows (Σ'·Vᵀ). MERGE = stack the two sketches' rows and shrink once more
— the guarantee composes additively across merges (Ghashami et al. §3),
which is what makes a merge of per-partition partials correct for ANY
partitioning.

The sketch is NOT byte-deterministic across merge orders (SVD of
different intermediate stacks) — only the GUARANTEE is order-invariant.
That is exactly the published contract; the tests gate the psd bound and
the Frobenius mass bookkeeping under several merge splits rather than
byte equality, and there is deliberately no SQL oracle (no DuckDB SVD):
this operator is pytest-gated, like the streaming near-dedup sink.
"""

from __future__ import annotations

import struct

import numpy as np

_HDR = struct.Struct("<III d")  # ell, dim, n_rows_buffered, frob_sq


class FrequentDirections:
    """Deterministic FD sketch with a 2ℓ-row buffer (float64)."""

    def __init__(self, ell: int, dim: int):
        if ell < 1 or dim < 1:
            raise ValueError("ell and dim must be positive")
        self.ell = int(ell)
        self.dim = int(dim)
        self.rows = np.zeros((0, dim), dtype=np.float64)
        self.frob_sq = 0.0  # running ||A||_F^2 (exact bookkeeping)

    # -- core ---------------------------------------------------------
    def _shrink(self) -> None:
        if self.rows.shape[0] <= self.ell:
            return
        # economy SVD of the buffer; delta = sigma_{ell+1}^2
        _, s, vt = np.linalg.svd(self.rows, full_matrices=False)
        k = min(self.ell, s.shape[0])
        delta = float(s[k] ** 2) if s.shape[0] > k else 0.0
        shrunk = np.sqrt(np.maximum(s[:k] ** 2 - delta, 0.0))
        self.rows = shrunk[:, None] * vt[:k]
        keep = shrunk > 0
        self.rows = self.rows[keep]

    def update(self, batch: np.ndarray) -> "FrequentDirections":
        """Absorb an (m x dim) batch of rows."""
        batch = np.asarray(batch, dtype=np.float64).reshape(-1, self.dim)
        self.frob_sq += float((batch * batch).sum())
        # ℓ-row chunks keep every SVD at most (2ℓ x d) — the classic
        # buffer schedule; any schedule keeps the bound (total shrinkage
        # sums to <= frob_sq/ell; Ghashami et al. Thm 1.1)
        for i in range(0, batch.shape[0], self.ell):
            self.rows = np.vstack([self.rows, batch[i:i + self.ell]])
            self._shrink()
        return self

    def merge(self, other: "FrequentDirections") -> "FrequentDirections":
        if (other.ell, other.dim) != (self.ell, self.dim):
            raise ValueError("sketch shapes differ")
        out = FrequentDirections(self.ell, self.dim)
        out.frob_sq = self.frob_sq + other.frob_sq
        out.rows = np.vstack([self.rows, other.rows])
        out._shrink()
        return out

    # -- queries ------------------------------------------------------
    def cov_estimate(self) -> np.ndarray:
        """BᵀB — the AᵀA estimate the guarantee speaks about."""
        return self.rows.T @ self.rows

    def error_bound(self) -> float:
        """The published additive bound ‖A‖_F²/ℓ (merges compose: after
        any merge tree the bound still holds against the TOTAL mass)."""
        return self.frob_sq / self.ell

    def principal_directions(self, k: int) -> np.ndarray:
        _, _, vt = np.linalg.svd(self.rows, full_matrices=False)
        return vt[:k]

    # -- serialization (partial/merge rails) --------------------------
    def to_bytes(self) -> bytes:
        hdr = _HDR.pack(self.ell, self.dim, self.rows.shape[0], self.frob_sq)
        return hdr + np.ascontiguousarray(self.rows).tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "FrequentDirections":
        ell, dim, n, frob = _HDR.unpack_from(blob, 0)
        out = cls(ell, dim)
        out.frob_sq = frob
        out.rows = np.frombuffer(blob, dtype=np.float64,
                                 offset=_HDR.size).reshape(n, dim).copy()
        return out
