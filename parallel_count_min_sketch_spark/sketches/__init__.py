from .bloom import BloomFilter, bloom_dims
from .cms import CountMinSketch, dims
from .dyadic import DyadicCMS
from .hashing import LONG_PRIME, MERSENNE_PRIME, affine_hash, affine_params, djb2_batch, djb2_py
from .hll import HyperLogLog
from .kll import KLLSketch
from .kmv import KMVSketch
from .tdigest import TDigest

__all__ = [
    "BloomFilter",
    "CountMinSketch",
    "DyadicCMS",
    "HyperLogLog",
    "KLLSketch",
    "KMVSketch",
    "TDigest",
    "bloom_dims",
    "dims",
    "affine_hash",
    "affine_params",
    "djb2_batch",
    "djb2_py",
    "LONG_PRIME",
    "MERSENNE_PRIME",
]
