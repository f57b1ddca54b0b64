"""Frequent Directions matrix sketch: the psd covariance bound under any
partitioning, merge composition and serialization."""

from __future__ import annotations

import numpy as np
import pytest

from parallel_count_min_sketch_spark.sketches.frequent_directions import (
    FrequentDirections,
)


def _check_bound(sk, A):
    exact = A.T @ A
    est = sk.cov_estimate()
    diff = exact - est
    eig = np.linalg.eigvalsh((diff + diff.T) / 2)
    bound = sk.error_bound()
    # 0 <= A^T A - B^T B <= (||A||_F^2 / ell) I  (psd order)
    assert eig.min() >= -1e-6 * max(1.0, bound), eig.min()
    assert eig.max() <= bound + 1e-6 * max(1.0, bound), (eig.max(), bound)
    assert abs(sk.frob_sq - (A * A).sum()) < 1e-6 * (A * A).sum()


def test_fd_bound_single_stream():
    rng = np.random.default_rng(3)
    # low-rank + noise: the regime FD is for
    A = rng.normal(size=(3000, 4)) @ rng.normal(size=(4, 16)) \
        + 0.05 * rng.normal(size=(3000, 16))
    sk = FrequentDirections(8, 16).update(A)
    _check_bound(sk, A)
    assert sk.rows.shape[0] <= 8


def test_fd_merge_composes_bound():
    rng = np.random.default_rng(5)
    A = rng.normal(size=(4000, 12))
    parts = np.array_split(A, 7)
    sks = [FrequentDirections(10, 12).update(p) for p in parts]
    merged = sks[0]
    for s in sks[1:]:
        merged = merged.merge(s)
    _check_bound(merged, A)
    # a different merge tree also satisfies the bound (order-invariant
    # GUARANTEE, not byte equality)
    import functools
    merged2 = functools.reduce(
        lambda a, b: a.merge(b),
        [FrequentDirections(10, 12).update(p) for p in reversed(parts)])
    _check_bound(merged2, A)


def test_fd_roundtrip_and_validation():
    rng = np.random.default_rng(7)
    A = rng.normal(size=(100, 6))
    sk = FrequentDirections(5, 6).update(A)
    back = FrequentDirections.from_bytes(sk.to_bytes())
    assert np.allclose(back.rows, sk.rows) and back.frob_sq == sk.frob_sq
    with pytest.raises(ValueError):
        sk.merge(FrequentDirections(5, 7))
    with pytest.raises(ValueError):
        FrequentDirections(0, 4)
