"""PySpark-native distributed sketch / approximate-aggregation library.

A from-scratch re-expression of the capabilities of the reference
``DavidePedrotti/Parallel-Count-Min-Sketch`` (an MPI/OpenMP C kernel) as
idiomatic PySpark: mergeable, Arrow-vectorized sketch aggregations
(Count-Min, HyperLogLog, Bloom, KLL, t-digest) over DataFrames, with the
partial-sketch -> associative-merge execution model that both MPI_Reduce
and Spark's partial/final aggregation share.

Layout:
- ``sketches/``   pure numpy kernels (no Spark imports)
- ``_arrow_np``   pandas-free Arrow <-> numpy conversions for worker code
- ``operators/``  Spark aggregation layer (mapInArrow partials, merges,
                  grouped sketches, checkpoint/lineage, dedup, similarity)
- ``functions/``  column-level helpers (tokenize, hashing exprs, text quality,
                  language id, fingerprints)
- ``sources/``    deterministic synthetic web-page generator + table loaders
- ``plans/``      driver-contract query builders and DuckDB oracle SQL
- ``streaming/``  Structured Streaming sketch accumulation
- ``multimodal/`` binary-column plumbing (decode steps stubbed)
"""

__version__ = "0.1.0"
