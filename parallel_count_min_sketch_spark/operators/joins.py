"""Bloom-filter probe of a join's big side.

The classic large-cluster join optimization (Spark's own
``spark.sql.optimizer.runtime.bloomFilter.enabled``, Trino's dynamic
filtering) builds a Bloom filter over the *small* side's join keys and
ships it to every scan task of the *big* side. This module holds its two
halves, which ``plans/sketch_queries.q_bloom_semijoin_stats`` composes
with an exact broadcast join to measure the filter's verdicts:

- ``build_key_bloom``: the filter, built on the generic mergeable-sketch
  rails (``sketch_agg.build_sketch``: one Arrow partial per partition +
  fan-in OR-merge). The build needs NO distinct/shuffle on the small
  side, because duplicate inserts are idempotent bit-ORs.
- ``bloom_flag``: an Arrow-vectorized ``mapInArrow`` probe of the
  broadcast bits that appends each big-side row's verdict (k affine hash
  rows over the Mersenne prime, the same seeded family every sketch here
  uses, so a DuckDB oracle replays membership bit-for-bit in BIGINT SQL).

Bloom membership is one-sided: no false negatives ever (every true match
passes), false positives at rate ~fpp. A NULL key matches nothing under
SQL join semantics, so it never passes.

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
from pyspark.sql import DataFrame

from .. import _arrow_np as anp
from ..memtune import tune_worker
from ..sketches.bloom import BloomFilter
from .sketch_agg import build_sketch


def _bloom_from_bytes(b):
    # module-level wrapper: pickles by reference (a bound classmethod
    # would serialize the class by value and trip over struct.Struct)
    return BloomFilter.from_bytes(b)


def build_key_bloom(small: DataFrame, key_col: str,
                    make_bloom: Callable[[], BloomFilter]) -> BloomFilter:
    """Distributed Bloom build over the integer ``small[key_col]`` — no
    distinct needed (bit-OR inserts are idempotent), one partial per
    partition."""
    return build_sketch(small, key_col, make_bloom, _bloom_from_bytes)


def bloom_flag(big: DataFrame, key_col: str, bloom: BloomFilter) -> DataFrame:
    """``big`` + a boolean ``bloom_pass`` column: does the integer
    ``key_col`` pass the Bloom probe? Keeps every row. A NULL key never
    passes. Vectorized over Arrow batches; the bits ship once per executor
    via Spark broadcast."""
    from pyspark.sql.types import BooleanType, StructField, StructType

    bits = big.sparkSession.sparkContext.broadcast(bloom.to_bytes())
    # fresh StructType: StructType.add MUTATES, which would poison the
    # input DataFrame's cached schema object
    schema = StructType(
        list(big.schema.fields) + [StructField("bloom_pass", BooleanType(), False)]
    )
    idx = big.columns.index(key_col)

    def probe(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tune_worker()
        bf = BloomFilter.from_bytes(bits.value)
        for batch in batches:
            col = batch.column(idx)
            member = bf.contains_batch(anp.values(col, np.int64, null=0)) & anp.valid(col)
            arrays = [batch.column(i) for i in range(batch.num_columns)]
            arrays.append(anp.array(member))
            yield pa.RecordBatch.from_arrays(arrays, names=batch.schema.names + ["bloom_pass"])

    return big.mapInArrow(probe, schema)
