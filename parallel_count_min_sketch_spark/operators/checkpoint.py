"""Checkpointed sketch builds: file-granular lineage + resume.

Because sketch merge is associative and order-independent (the
reference's MPI_Reduce, src/mpi/mpiV2.c:131-175), a build can resume from
any subset of stored partials: compute only the missing ones and merge
everything — the result is bit-identical to an
uninterrupted build (asserted in tests).

The unit of lineage is the input FILE: one partial sketch per immutable
data file, unioned at query time — the design of *Approximate Distinct
Counts for Billions of Datasets* (SIGMOD 2019) and the granularity of an
Iceberg snapshot. A run lists the input's files and scans only those with
no partial yet, so a resume prunes the scan itself, not just the compute.
Appended files are a plain resume; partials of files the input no longer
lists (an overwritten dataset) are ignored.

Layout of a checkpoint dir:
    meta.json                 sketch config: epsilon, delta, seed
    file_partials/*.parquet   rows (group = input file URI, rows_seen, sketch)

Partials are durable per write job, not per task: the default parquet
commit protocol publishes a job's output only at job commit, so a failed
run leaves none of its partials behind and the next run rescans its files.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.errors import AnalysisException

from ..config import CMSConfig
from ..sketches.cms import CountMinSketch
from .sketch_agg import fold_blobs, sketch_grouped_from_text


def _norm_uri(uri: str) -> str:
    """Normalize file URIs: input_file_name() and inputFiles() may disagree
    on scheme slashes (file:/ vs file:///)."""
    from urllib.parse import unquote, urlparse

    parsed = urlparse(uri)
    return unquote(parsed.path) if parsed.scheme else uri


class CheckpointedCMSBuild:
    """One partial CMS per input file of a parquet dataset; a run computes
    the files that have no partial yet and merges every listed file's."""

    def __init__(self, cfg: CMSConfig, checkpoint_dir: str):
        self.cfg = cfg
        self.dir = checkpoint_dir
        self.partials_dir = os.path.join(checkpoint_dir, "file_partials")
        self.meta_path = os.path.join(checkpoint_dir, "meta.json")
        self.metrics: dict = {}

    def _bind_config(self) -> None:
        """Tie the checkpoint dir to this config before any compute: a
        partial built under another (epsilon, delta, seed) hashes into other
        buckets and must never be merged."""
        cfg = {"epsilon": self.cfg.epsilon, "delta": self.cfg.delta,
               "seed": self.cfg.seed}
        if os.path.exists(self.meta_path):
            with open(self.meta_path) as f:
                meta = json.load(f)
            if {k: meta.get(k) for k in cfg} != cfg:
                raise ValueError(
                    f"checkpoint {self.dir} was built with a different config "
                    f"({meta}); use a new checkpoint dir for {cfg}")
            return
        # partials without a meta.json have no known config
        shutil.rmtree(self.partials_dir, ignore_errors=True)
        os.makedirs(self.dir, exist_ok=True)
        with open(self.meta_path, "w") as f:
            json.dump(cfg, f, indent=2)

    def _stored(self, spark, *cols) -> list:
        if not os.path.isdir(self.partials_dir):
            return []
        try:
            return spark.read.parquet(self.partials_dir).select(*cols).collect()
        except AnalysisException:  # empty dir: nothing completed yet
            return []

    def run(self, spark, input_path: str, text_col: str = "text") -> CountMinSketch:
        """Build (or resume) the sketch of the tokens of ``text_col`` over
        the parquet dataset at ``input_path``."""
        from pyspark.sql import functions as F

        self._bind_config()
        files = {_norm_uri(f): f for f in spark.read.parquet(input_path).inputFiles()}
        done = {_norm_uri(r["group"]) for r in self._stored(spark, "group")}
        todo = sorted(p for p in files if p not in done)

        t0 = time.perf_counter()
        if todo:
            # scan ONLY the remaining files — the resume prunes I/O, not
            # just compute
            df = spark.read.parquet(*(files[p] for p in todo)) \
                .withColumn("__file", F.input_file_name())
            sketch_grouped_from_text(df, "__file", text_col, self.cfg.new_sketch,
                                     self.cfg.from_bytes) \
                .write.mode("append").parquet(self.partials_dir)
        compute_sec = time.perf_counter() - t0

        # dedupe on the NORMALIZED path (raw URIs can vary in scheme slashes
        # across runs and merging both would double-count that file); the
        # partial set is O(n_files), fine driver-side
        by_path: dict[str, object] = {}
        for r in self._stored(spark, "group", "rows_seen", "sketch"):
            by_path.setdefault(_norm_uri(r["group"]), r)
        # a file this run's committed write scanned without emitting a
        # partial holds no tokens; any other listed file must have one
        missing = set(files) - set(by_path) - set(todo)
        if missing:
            raise RuntimeError(f"checkpoint incomplete after run: missing {sorted(missing)}")
        rows = [by_path[p] for p in files if p in by_path]
        merged = fold_blobs((r["sketch"] for r in rows), self.cfg.from_bytes)
        if merged is None:
            merged = self.cfg.new_sketch()
        self.metrics = {
            "n_files": len(files),
            "files_skipped": len(files) - len(todo),
            "files_computed": len(todo),
            "rows_seen": int(sum(r["rows_seen"] for r in rows)),
            "total_mass": merged.total,
            "compute_sec": round(compute_sec, 3),
        }
        return merged
