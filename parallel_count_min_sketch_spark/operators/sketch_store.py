"""One durable store for persisted partial sketches.

Every persisted partial in the package (the per-file checkpoint, the
per-day rollup, the stream-maintained rollup, the streaming token CMS) is
a row ``(key columns..., [row key,] rows_seen, sketch)`` and is answered by folding
blobs — one sketch per immutable dataset, unioned at query time, the
design of *Approximate Distinct Counts for Billions of Datasets* (SIGMOD
2019) and the reference's associative reduce of partial sketches
(src/mpi/mpiV2.c:163-175).

Layout of a store dir:
    meta.json   binding: kernel class, digest of its empty sketch, key
                columns, row key, and the streaming checkpoint of a
                stream writer
    data/       parquet partitioned by the key columns; the optional row
                key is a data column naming a row inside a partition
                (the checkpoint's input file: a partition dir per file
                would make every read list one dir per file)

The empty sketch's bytes encode the kernel's whole config (CMS depth,
width and seed; HLL precision and seed; KLL k and seed; MG k), so a store
opened under another config, another kernel or another key layout is
refused before any compute: merging blobs hashed under another config
would answer silently wrong. A stream writer also binds the store to its
streaming checkpoint, because batch ids restart at 0 under a new one and
the ``batch_id`` overwrite would then drop or double-count batches.
``meta.json`` is plain file IO, so a store lives on a local or mounted
filesystem.
"""

from __future__ import annotations

import hashlib
import json
import os
from typing import Callable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame

from .sketch_agg import fold_blobs


def _abs(path: str) -> str:
    return path if "://" in path else os.path.abspath(path)


class SketchStore:
    """Opening a store checks it: an existing store must match this
    kernel, config, keys and row key (and ``stream_checkpoint``, when a
    stream writes it) or the constructor raises ``ValueError``. Opening
    creates nothing; the first ``write`` records the binding, so a reader
    that opens a new path first (it passes no checkpoint and is not
    checked against one) leaves it unbound."""

    def __init__(self, path: str, keys: Sequence[str], make_sketch: Callable,
                 from_bytes: Callable, *, row_key: str | None = None,
                 stream_checkpoint: str | None = None):
        self.path = path
        self.keys = tuple(keys)
        self.columns = self.keys + ((row_key,) if row_key else ())
        self.make_sketch = make_sketch
        self.from_bytes = from_bytes
        self.data_dir = os.path.join(path, "data")
        self.meta_path = os.path.join(path, "meta.json")
        empty = make_sketch()
        digest = hashlib.sha256(empty.to_bytes()).hexdigest()
        self.binding = {"kernel": type(empty).__name__,
                        "config_sha256": digest, "keys": list(self.keys),
                        "row_key": row_key}
        if stream_checkpoint is not None:
            self.binding["stream_checkpoint"] = _abs(stream_checkpoint)
        if os.path.exists(self.meta_path):
            with open(self.meta_path) as f:
                have = json.load(f)
            if {k: have.get(k) for k in self.binding} != self.binding:
                raise ValueError(
                    f"sketch store {path} is bound to {have}, not "
                    f"{self.binding}; use a new store dir")
        elif os.path.exists(self.data_dir):
            raise ValueError(f"sketch store {path} holds data without a "
                             f"meta.json, so its config is unknown; not "
                             f"{self.binding}")

    def write(self, df: DataFrame) -> None:
        """Persist ``df[keys..., row_key, rows_seen, sketch]``. Per-writer
        dynamic partition overwrite replaces only the keys ``df`` holds,
        so a retried or replayed write is idempotent and other keys stay.
        The first write records the binding before any data lands."""
        if not os.path.exists(self.meta_path):
            os.makedirs(self.path, exist_ok=True)
            tmp = self.meta_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.binding, f, indent=2)
            os.replace(tmp, self.meta_path)
        (df.select(*self.columns, "rows_seen", "sketch")
         .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
         .partitionBy(*self.keys).parquet(self.data_dir))

    def read(self, spark) -> DataFrame:
        """DataFrame[keys..., row_key, rows_seen, sketch] with every key
        read back as STRING (partition inference would make ISO days DATE
        and batch ids INT). A key predicate on it is a partition filter.
        A store with no write yet reads as empty."""
        if not os.path.exists(self.data_dir):
            return spark.createDataFrame(pa.schema(
                [(k, pa.string()) for k in self.columns]
                + [("rows_seen", pa.int64()), ("sketch", pa.binary())]
            ).empty_table())
        schema = ", ".join([f"`{k}` STRING" for k in self.columns]
                           + ["rows_seen BIGINT", "sketch BINARY"])
        return spark.read.schema(schema).parquet(self.data_dir)

    def fold(self, spark, where=None):
        """Fold the sketches of the rows matching the Column ``where`` (all
        rows when None) on the driver, in key order, so order-sensitive
        merges (MG) give the same bytes on every read; ``make_sketch()``
        when no row matches."""
        df = self.read(spark)
        if where is not None:
            df = df.filter(where)
        rows = sorted(df.select(*self.columns, "sketch").collect(),
                      key=lambda r: tuple(r[k] or "" for k in self.columns))
        sk = fold_blobs((r["sketch"] for r in rows), self.from_bytes)
        return self.make_sketch() if sk is None else sk
