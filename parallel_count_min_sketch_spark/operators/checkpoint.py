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

The checkpoint dir is a ``SketchStore`` with the input file URI as its
row key, so it refuses another config before any compute. Each run that
computes files writes them under its own ``run`` partition (a digest of
the files it computes), so reads list one dir per run, not per file, and
a retried run replaces its own partition. Partials are
durable per write job, not per task: the parquet commit protocol
publishes a job's output only at job commit, so a failed run leaves none
of its partials behind and the next run rescans its files.
"""

from __future__ import annotations

import hashlib
import time

from pyspark.sql import functions as F

from ..config import CMSConfig
from ..sketches.cms import CountMinSketch
from .sketch_agg import sketch_grouped_from_text
from .sketch_store import SketchStore


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
        self.store = SketchStore(checkpoint_dir, ("run",), cfg.new_sketch,
                                 cfg.from_bytes, row_key="file")
        self.metrics: dict = {}

    def run(self, spark, input_path: str, text_col: str = "text") -> CountMinSketch:
        """Build (or resume) the sketch of the tokens of ``text_col`` over
        the parquet dataset at ``input_path``."""
        files = {_norm_uri(f): f for f in spark.read.parquet(input_path).inputFiles()}
        done = {_norm_uri(r["file"])
                for r in self.store.read(spark).select("file").collect()}
        todo = sorted(p for p in files if p not in done)

        t0 = time.perf_counter()
        if todo:
            # scan ONLY the remaining files — the resume prunes I/O, not
            # just compute
            df = spark.read.parquet(*(files[p] for p in todo)) \
                .withColumn("__file", F.input_file_name())
            run_id = hashlib.sha1("\n".join(todo).encode()).hexdigest()
            self.store.write(
                sketch_grouped_from_text(df, "__file", text_col,
                                         self.cfg.new_sketch, self.cfg.from_bytes)
                .select(F.lit(run_id).alias("run"), F.col("group").alias("file"),
                        "rows_seen", "sketch"))
        compute_sec = time.perf_counter() - t0

        # dedupe on the NORMALIZED path (raw URIs can vary in scheme slashes
        # across runs and merging both would double-count that file); the
        # partial set is O(n_files), fine driver-side
        by_path: dict[str, object] = {}
        for r in self.store.read(spark).select("file", "rows_seen").collect():
            by_path.setdefault(_norm_uri(r["file"]), r)
        # a file this run's committed write scanned without emitting a
        # partial holds no tokens; any other listed file must have one
        missing = set(files) - set(by_path) - set(todo)
        if missing:
            raise RuntimeError(f"checkpoint incomplete after run: missing {sorted(missing)}")
        rows = [by_path[p] for p in files if p in by_path]
        merged = self.store.fold(spark, F.col("file").isin([r["file"] for r in rows]))
        self.metrics = {
            "n_files": len(files),
            "files_skipped": len(files) - len(todo),
            "files_computed": len(todo),
            "rows_seen": int(sum(r["rows_seen"] for r in rows)),
            "total_mass": merged.total,
            "compute_sec": round(compute_sec, 3),
        }
        return merged
