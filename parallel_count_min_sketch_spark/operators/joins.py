"""Bloom-filter runtime semi-join pushdown.

The classic large-cluster join optimization (Spark's own
``spark.sql.optimizer.runtime.bloomFilter.enabled``, Trino's dynamic
filtering): build a Bloom filter over the *small* side's join keys, ship
it to every scan task of the *big* side, and drop non-matching rows
BEFORE the shuffle. At 100 TB the win is the shuffle you never pay:
with selectivity s, the exchange moves s·|big| rows instead of |big|,
while the filter itself is a few MB of broadcast bits even when the key
set has millions of entries (a 100M-key set at 1% fpp is ~120 MB of
bits vs ~800 MB+ of raw keys in a hash-join build table).

Construction rides the generic mergeable-sketch rails
(``sketch_agg.build_sketch``: one Arrow partial per partition +
fan-in OR-merge) — notably the build needs NO distinct/shuffle
on the small side, because duplicate inserts are idempotent bit-ORs.
The prefilter is an Arrow-vectorized ``mapInArrow`` predicate over the
broadcast bits (k affine hash rows over the Mersenne prime, the same
seeded family every sketch here uses, so a DuckDB oracle replays
membership bit-for-bit in BIGINT SQL).

Bloom membership is one-sided: no false negatives ever (every true
match survives the prefilter), false positives at rate ~fpp. An exact
semi-join after the prefilter removes the false positives, so
``bloom_semi_join`` is EXACT — the Bloom stage only reduces the rows
that reach the join.

The reference engine has no join operators (it is a pure CMS kernel,
src/serial/cms.c); this module is part of the training-data-pipeline
extension family, reusing the reference's hash construction
(universal_hash_init / hash_val, src/serial/cms.c:35-52) for the
filter's probes.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from .. import _arrow_np as anp
from ..memtune import tune_worker
from ..sketches.bloom import BloomFilter
from ..sketches.hashing import djb2_batch
from .sketch_agg import build_sketch


def _bloom_from_bytes(b):
    # module-level wrapper: pickles by reference (a bound classmethod
    # would serialize the class by value and trip over struct.Struct)
    return BloomFilter.from_bytes(b)


def build_key_bloom(small: DataFrame, key_col: str, make_bloom: Callable[[], BloomFilter],
                    *, string_keys: bool = False) -> BloomFilter:
    """Distributed Bloom build over ``small[key_col]`` — no distinct
    needed (bit-OR inserts are idempotent), one partial per partition."""
    return build_sketch(small, key_col, make_bloom, _bloom_from_bytes,
                        string_items=string_keys)


def _key_batches(batch: pa.RecordBatch, string_keys: bool) -> tuple[np.ndarray, np.ndarray]:
    """(int64 key values, validity mask) for column 0 of an Arrow batch.
    Invalid (null) keys get a placeholder value and valid=False — SQL join
    semantics say a NULL key matches nothing, so they must neither pass
    the filter nor count as matches."""
    col = batch.column(0)
    keys = djb2_batch(col) if string_keys else anp.values(col, np.int64, null=0)
    return keys, anp.valid(col)


def bloom_flag(big: DataFrame, key_col: str, bloom: BloomFilter, *,
               flag_col: str = "bloom_pass", string_keys: bool = False) -> DataFrame:
    """``big`` + a boolean column: does ``key_col`` pass the Bloom probe?
    Diagnostic form of the prefilter (keeps every row). Vectorized over
    Arrow batches; the bits ship once per executor via Spark broadcast."""
    from pyspark.sql.types import BooleanType, StructField, StructType

    bits = big.sparkSession.sparkContext.broadcast(bloom.to_bytes())
    # fresh StructType: StructType.add MUTATES, which would poison the
    # input DataFrame's cached schema object
    schema = StructType(
        list(big.schema.fields) + [StructField(flag_col, BooleanType(), False)]
    )
    idx = big.columns.index(key_col)

    def probe(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tune_worker()
        bf = BloomFilter.from_bytes(bits.value)
        for batch in batches:
            key_only = pa.RecordBatch.from_arrays([batch.column(idx)], names=[key_col])
            keys, valid = _key_batches(key_only, string_keys)
            member = bf.contains_batch(keys) & valid
            arrays = [batch.column(i) for i in range(batch.num_columns)]
            arrays.append(anp.array(member))
            yield pa.RecordBatch.from_arrays(arrays, names=batch.schema.names + [flag_col])

    return big.mapInArrow(probe, schema)


def bloom_prefilter(big: DataFrame, key_col: str, bloom: BloomFilter, *,
                    string_keys: bool = False) -> DataFrame:
    """Drop ``big`` rows whose key cannot be in the filter (the pushdown
    itself). Row-reducing form of :func:`bloom_flag`."""
    bits = big.sparkSession.sparkContext.broadcast(bloom.to_bytes())
    idx = big.columns.index(key_col)

    def keep(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tune_worker()
        bf = BloomFilter.from_bytes(bits.value)
        for batch in batches:
            key_only = pa.RecordBatch.from_arrays([batch.column(idx)], names=[key_col])
            keys, valid = _key_batches(key_only, string_keys)
            member = bf.contains_batch(keys) & valid
            if member.all():
                yield batch
            elif member.any():
                yield batch.filter(anp.array(member))

    return big.mapInArrow(keep, big.schema)


def bloom_semi_join(big: DataFrame, big_key: str, small: DataFrame, small_key: str,
                    make_bloom: Callable[[], BloomFilter], *,
                    string_keys: bool = False, broadcast_exact: bool = True) -> DataFrame:
    """EXACT left-semi join of ``big`` against ``small``'s keys with a
    Bloom prefilter in front: build filter on the small side (no
    shuffle), prefilter the big side's scan, then an exact semi-join
    removes the ~fpp false positives. At test scale the exact join is
    broadcast; at 100 TB with a non-broadcastable small side it becomes
    a shuffle join over the ~s·|big| surviving rows — the prefilter
    slots in identically, which is the point."""
    bf = build_key_bloom(small, small_key, make_bloom, string_keys=string_keys)
    pre = bloom_prefilter_auto(big, big_key, bf, string_keys=string_keys)
    keys = small.select(small_key).distinct()
    if broadcast_exact:
        keys = F.broadcast(keys)
    return pre.join(keys, on=pre[big_key] == keys[small_key], how="leftsemi")


# ---------------------------------------------------------------------------
# JVM-side prefilter: the bit test as a Catalyst expression.
# ---------------------------------------------------------------------------
# The Arrow prefilter above pays a Python round-trip for every big-side
# row — measured at 50M rows that costs MORE than the narrow-int shuffle
# it avoids (BENCH/bloom_join.json, plain 2.4 s vs arrow-bloomed 6.8 s on
# one VM). Bloom membership is just k affine hashes + a bit probe, so for
# filters up to _MAX_JVM_BITS the bits ship as a literal long-array in
# the plan and the whole test runs inside whole-stage codegen — the same
# shape Spark's own runtime bloom filters use (BloomFilterMightContain
# with a literal-serialized filter). Bigger filters fall back to Arrow.
_MAX_JVM_BITS = 1 << 22  # 4M bits -> 64k-long literal (~512 KB in-plan)


def _bloom_words(bloom: BloomFilter) -> list[int]:
    """Bitmap packed into little-endian 64-bit words (bit pos -> word
    pos>>6, bit pos&63) — matches the x86 view the numpy kernel uses."""
    packed = np.packbits(bloom.bits, bitorder="little")
    pad = (-len(packed)) % 8
    if pad:
        packed = np.concatenate([packed, np.zeros(pad, dtype=np.uint8)])
    return packed.view(np.int64).tolist()


def bloom_member_column(df: DataFrame, key_col: str, bloom: BloomFilter, *,
                        string_keys: bool = False):
    """(df + temp cols, membership Column, temp col names). The k probes
    are pure int64 arithmetic (pmod keeps parity with numpy % on any
    sign) + element_at into the literal word array — codegen'd JVM
    expressions, zero Python in the row path for integer keys. A string
    key is first hashed by the numpy ``djb2_batch`` (``with_djb2``)."""
    from ..sketches.hashing import MERSENNE_PRIME
    from .sketch_agg import with_djb2

    tmp = []
    out = df
    if string_keys:
        # before the word array joins the row: the kernel's Arrow rows
        # carry every column
        out = with_djb2(out, key_col, "_bloom_h_")
        tmp.append("_bloom_h_")
        key_sql = "_bloom_h_"
    else:
        key_sql = f"CAST({key_col} AS BIGINT)"
    words = F.array(*[F.lit(w) for w in _bloom_words(bloom)])
    out = out.withColumn("_bloom_words_", words)
    tmp.append("_bloom_words_")
    out = out.withColumn("_bloom_x_", F.expr(f"pmod({key_sql}, {MERSENNE_PRIME})"))
    tmp.append("_bloom_x_")
    tests = []
    for j in range(bloom.k):
        pos = (f"pmod({int(bloom.a[j])} * _bloom_x_ + {int(bloom.b[j])}, "
               f"{MERSENNE_PRIME}) % {bloom.m}")
        out = out.withColumn(f"_bloom_p{j}_", F.expr(pos))
        tmp.append(f"_bloom_p{j}_")
        tests.append(F.expr(
            f"(shiftright(element_at(_bloom_words_, "
            f"CAST(shiftright(_bloom_p{j}_, 6) AS INT) + 1), "
            f"CAST(_bloom_p{j}_ & 63 AS INT)) & 1) = 1"))
    member = tests[0]
    for t in tests[1:]:
        member = member & t
    if string_keys:
        member = member & F.col(key_col).isNotNull()
    return out, member, tmp


def bloom_prefilter_jvm(big: DataFrame, key_col: str, bloom: BloomFilter, *,
                        string_keys: bool = False) -> DataFrame:
    """Row-reducing prefilter, JVM/codegen path (no Python round-trip)."""
    staged, member, tmp = bloom_member_column(big, key_col, bloom,
                                              string_keys=string_keys)
    return staged.filter(member).drop(*tmp)


def bloom_prefilter_auto(big: DataFrame, key_col: str, bloom: BloomFilter, *,
                         string_keys: bool = False) -> DataFrame:
    """JVM expression filter when the bitmap fits in-plan, Arrow beyond."""
    if bloom.m <= _MAX_JVM_BITS:
        return bloom_prefilter_jvm(big, key_col, bloom, string_keys=string_keys)
    return bloom_prefilter(big, key_col, bloom, string_keys=string_keys)
