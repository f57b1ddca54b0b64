"""Checkpointed sketch builds: per-partition lineage + resume.

North-rule requirement: "resumable from checkpoint with per-partition
sketch lineage + metrics". Because sketch merge is associative and
order-independent, a build can be resumed from any subset of completed
per-partition partials: recompute only the missing partitions and merge
everything — the result is bit-identical to an uninterrupted build
(asserted in tests).

Layout of a checkpoint dir:
    meta.json            sketch config + n_partitions + input fingerprint
    partials/*.parquet   rows (partition_id, rows_seen, sketch)

Lineage granularity is the input partition (Spark's unit of recomputation).
On a real Iceberg deployment the natural extension is file-level lineage
(record input_file_name() per partial and prune completed files from the
scan); in this sandbox we skip the *compute* for completed partitions —
the dominant cost — while the scan itself is re-planned by Spark.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.errors import AnalysisException

from ..config import CMSConfig
from ..sketches.cms import CountMinSketch
from .agg import cms_grouped
from .sketch_agg import fold_blobs, sketch_partials, text_token_partials


def _norm_uri(uri: str) -> str:
    """Normalize file URIs: input_file_name() and inputFiles() may disagree
    on scheme slashes (file:/ vs file:///)."""
    from urllib.parse import unquote, urlparse

    parsed = urlparse(uri)
    return unquote(parsed.path) if parsed.scheme else uri


class CheckpointedCMSBuild:
    def __init__(self, cfg: CMSConfig, checkpoint_dir: str):
        self.cfg = cfg
        self.dir = checkpoint_dir
        self.partials_dir = os.path.join(checkpoint_dir, "partials")
        self.meta_path = os.path.join(checkpoint_dir, "meta.json")
        self.metrics: dict = {}

    # -- lineage bookkeeping -------------------------------------------------
    @staticmethod
    def _fingerprint(df) -> dict:
        """Identity of the input's partition layout. Partition-id lineage is
        only sound when partition CONTENTS are reproducible across runs:
        same source files AND no shuffle between scan and partials (a
        repartition keyed on nondeterministic ids — e.g. salted_repartition's
        monotonically_increasing_id — shifts contents with core count while
        keeping the partition count fixed)."""
        files = sorted(_norm_uri(f) for f in df.inputFiles())
        # walk the optimized logical plan's NODE names (a substring match on
        # the rendered plan would false-positive on paths/columns that merely
        # contain the word "Repartition")
        unstable_nodes = {"Repartition", "RepartitionByExpression", "RebalancePartitions"}
        stable = True
        stack = [df._jdf.queryExecution().optimizedPlan()]
        while stack:
            node = stack.pop()
            name = node.nodeName()
            # a global Sort range-partitions on SAMPLED boundaries, so
            # partition contents are not reproducible across runs either
            # (sortWithinPartitions, global=false, keeps contents stable)
            if name in unstable_nodes or (
                    name == "Sort" and getattr(node, "global")()):
                stable = False
                break
            children = node.children()
            for i in range(children.size()):
                stack.append(children.apply(i))
        return {"files": files, "scan_stable": stable}

    def _write_meta(self, n_partitions: int, input_desc: str,
                    fingerprint: dict) -> None:
        os.makedirs(self.dir, exist_ok=True)
        meta = {
            "epsilon": self.cfg.epsilon,
            "delta": self.cfg.delta,
            "seed": self.cfg.seed,
            "depth": self.cfg.depth,
            "width": self.cfg.width,
            "n_partitions": n_partitions,
            "input": input_desc,
            "fingerprint": fingerprint,
        }
        with open(self.meta_path, "w") as f:
            json.dump(meta, f, indent=2)

    def _read_meta(self) -> dict | None:
        if not os.path.exists(self.meta_path):
            return None
        with open(self.meta_path) as f:
            return json.load(f)

    def completed_partitions(self, spark) -> set[int]:
        if not os.path.isdir(self.partials_dir):
            return set()
        try:
            rows = spark.read.parquet(self.partials_dir).select("partition_id").collect()
        except AnalysisException:  # empty dir: nothing completed yet
            return set()
        return {r["partition_id"] for r in rows}

    # -- build ---------------------------------------------------------------
    def run(self, df, col: str, *, text_mode: bool = True, string_items: bool = False,
            input_desc: str = "", resume: bool = True) -> CountMinSketch:
        """Build (or resume) the sketch; persists partials as it goes."""
        spark = df.sparkSession
        n_partitions = df.rdd.getNumPartitions()
        fingerprint = self._fingerprint(df)
        if not fingerprint["scan_stable"]:
            raise ValueError(
                "partition-id lineage is unsound downstream of a "
                "repartition/rebalance or global sort (partition contents "
                "shift with parallelism or sampled range boundaries while "
                "the count stays fixed); checkpoint the plain scan — use "
                "sortWithinPartitions instead of orderBy if ordering is "
                "needed — or use FileCheckpointedCMSBuild for file-granular "
                "lineage"
            )
        meta = self._read_meta() if resume else None
        if meta is not None:
            if meta.get("fingerprint", {}).get("files") != fingerprint["files"]:
                raise ValueError(
                    "input files changed since the checkpoint was taken; "
                    "partition ids no longer line up — pass resume=False"
                )
            if (meta["epsilon"], meta["delta"], meta["seed"]) != (
                self.cfg.epsilon, self.cfg.delta, self.cfg.seed
            ) or meta["n_partitions"] != n_partitions:
                raise ValueError(
                    "checkpoint is for a different config/partitioning; "
                    "pass resume=False to start over"
                )
            done = self.completed_partitions(spark)
        else:
            # fresh start (resume=False or no meta): stale partials from a
            # previous run must not survive — the dedupe would otherwise
            # arbitrarily keep old-input partials next to new ones
            import shutil

            if os.path.isdir(self.partials_dir):
                shutil.rmtree(self.partials_dir)
            done = set()
            self._write_meta(n_partitions, input_desc, fingerprint)

        t0 = time.perf_counter()
        if len(done) < n_partitions:
            skips = frozenset(done) if done else None
            todo = (
                text_token_partials(df, col, self.cfg.new_sketch,
                                    skip_partitions=skips)
                if text_mode
                else sketch_partials(df, col, self.cfg.new_sketch,
                                     string_items=string_items,
                                     skip_partitions=skips)
            )
            # one parquet file per task -> each partial is durable as soon as
            # its task finishes (executor loss loses only in-flight partitions)
            todo.write.mode("append").parquet(self.partials_dir)
        compute_sec = time.perf_counter() - t0

        partials = spark.read.parquet(self.partials_dir) \
            .dropDuplicates(["partition_id"])
        rows = partials.collect()
        if {r["partition_id"] for r in rows} != set(range(n_partitions)):
            missing = set(range(n_partitions)) - {r["partition_id"] for r in rows}
            raise RuntimeError(f"checkpoint incomplete after run: missing {missing}")
        merged = fold_blobs((r["sketch"] for r in rows), self.cfg.from_bytes)
        self.metrics = {
            "n_partitions": n_partitions,
            "partitions_skipped": len(done),
            "partitions_computed": n_partitions - len(done),
            "rows_seen": int(sum(r["rows_seen"] for r in rows)),
            "total_mass": merged.total,
            "compute_sec": round(compute_sec, 3),
        }
        return merged


class FileCheckpointedCMSBuild:
    """File-granular lineage: one partial sketch per INPUT FILE, resume by
    scanning only the files that have no partial yet.

    This is the scale-correct resume: unlike partition-id lineage (which
    can only skip compute while Spark still plans the full scan), pruning
    the file list prunes the SCAN itself — on Iceberg, the exact analog is
    planning only the data files absent from the lineage table. Requires
    the input to be a multi-file dataset (every parquet/Iceberg table is).

    Partials are produced with the grouped two-phase aggregation keyed on
    input_file_name(), so one pass yields every file's sketch regardless
    of how Spark packs files into splits.
    """

    def __init__(self, cfg: CMSConfig, checkpoint_dir: str):
        self.cfg = cfg
        self.dir = checkpoint_dir
        self.partials_dir = os.path.join(checkpoint_dir, "file_partials")
        self.metrics: dict = {}

    def completed_files(self, spark) -> set[str]:
        if not os.path.isdir(self.partials_dir):
            return set()
        try:
            rows = spark.read.parquet(self.partials_dir).select("group").collect()
        except AnalysisException:  # empty dir: nothing completed yet
            return set()
        return {r["group"] for r in rows}

    @staticmethod
    def _norm(uri: str) -> str:
        return _norm_uri(uri)

    def run(self, spark, input_path: str, text_col: str = "text") -> CountMinSketch:
        from pyspark.sql import functions as F

        all_files = sorted(spark.read.parquet(input_path).inputFiles())
        done = {self._norm(f) for f in self.completed_files(spark)}
        todo = [f for f in all_files if self._norm(f) not in done]

        t0 = time.perf_counter()
        if todo:
            # scan ONLY the remaining files — the resume prunes I/O, not
            # just compute
            df = spark.read.parquet(*todo).select(text_col) \
                .withColumn("__file", F.input_file_name())
            toks = df.select(
                "__file", F.explode(F.split(text_col, " ")).alias("tok")
            ).filter(F.col("tok") != "")
            partials = cms_grouped(toks, "__file", "tok", self.cfg, string_items=True)
            partials.write.mode("append").parquet(self.partials_dir)
        compute_sec = time.perf_counter() - t0

        # dedupe on the NORMALIZED path (raw URIs can vary in scheme slashes
        # across runs — file:/ vs file:/// — and merging both would double-
        # count that file); the partial set is O(n_files), fine driver-side
        by_path: dict[str, object] = {}
        for r in spark.read.parquet(self.partials_dir).collect():
            by_path.setdefault(self._norm(r["group"]), r)
        wanted = {self._norm(f) for f in all_files}
        missing = wanted - set(by_path)
        if missing:
            raise RuntimeError(f"lineage incomplete after run: {missing}")
        merged = fold_blobs(
            (r["sketch"] for p, r in by_path.items() if p in wanted),
            self.cfg.from_bytes,
        )
        self.metrics = {
            "n_files": len(all_files),
            "files_skipped": len(all_files) - len(todo),
            "files_computed": len(todo),
            "total_mass": merged.total,
            "compute_sec": round(compute_sec, 3),
        }
        return merged


