"""Seeded hash families shared by every sketch.

Design contract (mirrors the reference's distributed invariant): every
executor must evaluate *identical* hash functions, or merged sketches are
meaningless. The reference enforces this by broadcasting rank 0's hash
params (reference: src/mpi/mpiV1.c:24-26). We instead derive all params as a
pure function of an explicit integer seed, so every executor — and the
DuckDB oracle SQL — can regenerate them independently.

Two families:

1. Affine 2-universal family over the Mersenne prime p = 2^31 - 1
   (reference constant PRIME, src/core/count_min_sketch.h:15):
       h_j(x) = ((a_j * (x mod p) + b_j) mod p) mod width
   Reducing x mod p first keeps every product < 2^62, so the whole
   evaluation is exact in int64 — in numpy AND in ANSI-SQL BIGINT
   arithmetic (the DuckDB oracles replay it literally). The reference's
   evaluation (src/core/count_min_sketch.c:136-138) wraps a*x in uint32,
   an artifact we deliberately do not replicate; we keep the *contract*
   (seeded shared affine family), not the overflow bug.

2. djb2 string hash folded modulo LONG_PRIME = 4294967311 at every step
   (reference: src/core/count_min_sketch.c:14-21 computes djb2 in uint64
   then reduces once; we fold mod p each step so the value is computable
   without 64-bit overflow in both numpy and SQL `list_reduce`). This maps
   tokens/URLs into the integer item domain.
"""

from __future__ import annotations

import functools

import numpy as np

MERSENNE_PRIME = 2_147_483_647  # 2^31 - 1, reference PRIME
LONG_PRIME = 4_294_967_311  # reference LONG_PRIME (smallest prime > 2^32)
DJB2_INIT = 5381

# Maximum token byte-length supported by the vectorized djb2 kernel.
_MAX_TOKEN_LEN = 4096
# Most UTF-8 bytes djb2_batch hashes at once (its per-byte temporaries).
_BLOCK_BYTES = 1 << 16
_POW33 = np.empty(_MAX_TOKEN_LEN + 1, dtype=np.int64)
_POW33[0] = 1
for _i in range(1, _MAX_TOKEN_LEN + 1):
    _POW33[_i] = (_POW33[_i - 1] * 33) % LONG_PRIME


@functools.lru_cache(maxsize=1024)
def affine_params(seed: int, depth: int) -> tuple[np.ndarray, np.ndarray]:
    """Derive ``depth`` (a, b) pairs from ``seed``.

    a in [1, p-1], b in [0, p-1] — same ranges as the reference's
    universal_hash_init (src/core/count_min_sketch.c:121-133), but drawn
    from a seeded PCG64 instead of C rand() so they are reproducible
    everywhere (and embeddable as literals into oracle SQL).

    Memoized (every sketch constructor and ``from_bytes`` calls this; a
    fresh PCG64 costs more than decoding a sketch), so the arrays are shared
    and read-only.
    """
    rng = np.random.default_rng(seed)
    a = rng.integers(1, MERSENNE_PRIME, size=depth, dtype=np.int64)
    b = rng.integers(0, MERSENNE_PRIME, size=depth, dtype=np.int64)
    a.flags.writeable = False
    b.flags.writeable = False
    return a, b


def affine_hash(items: np.ndarray, a: np.ndarray, b: np.ndarray, width: int) -> np.ndarray:
    """Vectorized h_j(x) for all rows j at once -> int64[depth, n].

    Exact in int64: x is reduced mod p (< 2^31) before the multiply.
    """
    x = np.asarray(items, dtype=np.int64) % MERSENNE_PRIME
    return ((a[:, None] * x[None, :] + b[:, None]) % MERSENNE_PRIME) % np.int64(width)


def djb2_py(token: str | bytes) -> int:
    """Scalar djb2 mod LONG_PRIME (pure-Python reference path)."""
    data = token.encode("utf-8") if isinstance(token, str) else token
    h = DJB2_INIT
    for ch in data:
        h = (h * 33 + ch) % LONG_PRIME
    return h


def djb2_batch(tokens) -> np.ndarray:
    """Vectorized djb2 mod LONG_PRIME over a sequence/Series of strings.

    Folding mod p each step equals evaluating the polynomial
    ``5381*33^n + sum(c_i * 33^(n-1-i))`` mod p, which vectorizes:
    weight each UTF-8 byte by 33^(distance from token end) and
    segment-sum with np.add.reduceat. No per-row Python.

    The per-byte temporaries (about five int64 arrays per byte) are held
    for at most ``_BLOCK_BYTES`` of input at a time: the tokens are cut
    into blocks at token boundaries, each hashed into its slice of one
    output array, so a call costs O(rows) + O(_BLOCK_BYTES) memory
    whatever the total string bytes. A token longer than the block bound
    (up to ``_MAX_TOKEN_LEN``) is a block of its own.
    """
    import pyarrow as pa

    from .._arrow_np import from_list, offsets, valid

    if isinstance(tokens, pa.ChunkedArray):
        arr = tokens.combine_chunks()
    elif isinstance(tokens, pa.Array):
        arr = tokens
    else:
        arr = from_list(tokens, pa.string())
    offs = offsets(arr)
    lengths = np.diff(offs)
    if lengths.max(initial=0) > _MAX_TOKEN_LEN:
        raise ValueError(f"token longer than {_MAX_TOKEN_LEN} bytes")
    out = np.full(len(arr), DJB2_INIT % LONG_PRIME, dtype=np.int64)
    if int(offs[-1]) > int(offs[0]):
        data = np.frombuffer(arr.buffers()[2], dtype=np.uint8, count=int(offs[-1]))
        lo, n = 0, len(arr)
        while lo < n:
            end = min(int(offs[lo]) + _BLOCK_BYTES, int(offs[-1]))
            hi = max(int(np.searchsorted(offs, end, "right")) - 1, lo + 1)
            _djb2_block(data, offs[lo:hi + 1].astype(np.int64), out[lo:hi])
            lo = hi
    if arr.null_count:  # a NULL hashes as the empty string
        out[~valid(arr)] = DJB2_INIT % LONG_PRIME
    return out


def _djb2_block(data: np.ndarray, offs: np.ndarray, out: np.ndarray) -> None:
    """Hash the tokens ``data[offs[i]:offs[i + 1]]`` into ``out[i]``."""
    first = int(offs[0])
    nbytes = int(offs[-1]) - first
    if nbytes == 0:
        return
    starts = offs[:-1] - first
    lengths = np.diff(offs)
    # distance-from-end exponent for every byte position
    exp = np.repeat(offs[1:] - first - 1, lengths)
    exp -= np.arange(nbytes, dtype=np.int64)
    terms = _POW33[exp]
    terms *= data[first:first + nbytes]
    # segment sums at token starts (np.add.reduceat needs non-empty
    # segments), with no per-byte modulo: each term is 33^e mod p (< 2^33)
    # times a byte (< 2^8), so < 2^41, and a segment holds at most
    # _MAX_TOKEN_LEN = 2^12 of them -> < 2^53, exact in int64.
    nonempty = lengths > 0
    seg = np.add.reduceat(terms, starts[nonempty])
    out[nonempty] = (DJB2_INIT * _POW33[lengths[nonempty]] + seg) % LONG_PRIME
