"""Grouped HLL build at high group cardinality: per-group-segment fold
(the old generic rail) vs GroupedHLLFold (stacked registers, one
np.maximum.at scatter per batch).

Same input shape as grouped_skew_bench: 5k hosts, hottest host ~20% of
rows. Evidence for the round-5 dispatch in sketch_agg.sketch_grouped_
partials (HLL kernels now always take the stacked fold).

Output: BENCH/grouped_hll.json
"""

from __future__ import annotations

import json
import os
import sys
import time
from typing import Iterator

import numpy as np
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_ROWS = int(os.environ.get("SKEW_BENCH_ROWS", str(50_000_000)))
N_HOSTS = 5_000
HOT_SHARE = 0.2
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PRECISION, SEED = 12, 12345

OUT_SCHEMA = "task_sec DOUBLE, n_rows LONG, n_groups LONG"
_OUT_PA = pa.schema([("task_sec", pa.float64()), ("n_rows", pa.int64()),
                     ("n_groups", pa.int64())])


def get_spark():
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("grouped-hll-bench")
        .config("spark.sql.shuffle.partitions", str(CPUS))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "24g")
        .getOrCreate()
    )


def skewed_df(spark):
    from pyspark.sql import functions as F

    df = spark.range(0, N_ROWS, 1, CPUS * 2)
    u = (F.abs(F.xxhash64("id")) % 1_000_000) / 1_000_000.0
    host_idx = F.when(u < HOT_SHARE, F.lit(0)).otherwise(
        (F.abs(F.xxhash64("id", F.lit(1))) % (N_HOSTS - 1)) + 1)
    item = F.abs(F.xxhash64("id", F.lit(2))) % 10_000_000
    return df.select(
        F.concat(F.lit("h"), host_idx.cast("string")).alias("host"),
        item.alias("item"))


def _emit(t0, rows, n_groups):
    return pa.RecordBatch.from_pydict(
        {"task_sec": [time.perf_counter() - t0], "n_rows": [rows],
         "n_groups": [n_groups]}, schema=_OUT_PA)


def _timed_segment_fold(df):
    """The pre-round-5 generic path: one HyperLogLog per group, per-batch
    group segmentation, update_batch per segment."""
    from parallel_count_min_sketch_spark.operators._grouped_fold import iter_group_segments
    from parallel_count_min_sketch_spark.sketches.hll import HyperLogLog

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        t0 = time.perf_counter()
        sketches: dict = {}
        rows = 0
        for batch in batches:
            vals = batch.column(1).to_numpy(zero_copy_only=False).astype(np.int64)
            rows += len(vals)
            for g, seg, _w in iter_group_segments(batch, vals, None):
                sk = sketches.get(g)
                if sk is None:
                    sk = HyperLogLog(PRECISION, SEED)
                    sketches[g] = sk
                sk.update_batch(seg)
        yield _emit(t0, rows, len(sketches))

    return df.mapInArrow(fold, OUT_SCHEMA)


def _timed_stacked_fold(df):
    """The round-5 rail: GroupedHLLFold, one np.maximum.at per batch."""
    from parallel_count_min_sketch_spark.operators.sketch_agg import GroupedHLLFold

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        t0 = time.perf_counter()
        acc = GroupedHLLFold(PRECISION, SEED)
        rows = 0
        for batch in batches:
            rows += batch.num_rows
            acc.update(batch)
        out = acc.result_batch()
        yield _emit(t0, rows, out.num_rows if out is not None else 0)

    return df.mapInArrow(fold, OUT_SCHEMA)


def main() -> None:
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    df = skewed_df(spark).persist()
    n = df.count()

    results = {}
    for name, fn in (("segment_fold", _timed_segment_fold),
                     ("stacked_fold", _timed_stacked_fold)):
        runs, per_task = [], None
        for _ in range(3):
            t0 = time.perf_counter()
            rows = [r.asDict() for r in fn(df).collect()]
            runs.append(round(time.perf_counter() - t0, 2))
            per_task = rows
        xs = sorted(r["task_sec"] for r in per_task)
        results[name] = {
            "wall_runs_sec": runs,
            "wall_median_sec": sorted(runs)[1],
            "tasks": len(xs),
            "median_task_sec": round(xs[len(xs) // 2], 3),
            "max_task_sec": round(xs[-1], 3),
        }

    df.unpersist()
    out = {
        "bench": "grouped_hll",
        "rows": int(n),
        "hosts": N_HOSTS,
        "precision": PRECISION,
        "cpus": CPUS,
        "plans": results,
        "note": ("distinct-items-per-host shape (5k hosts, hot host 20%); "
                 "stacked fold cost is O(rows) regardless of group count "
                 "and register state is bit-identical to per-group "
                 "sketches (gated by test_sketches_kernels + "
                 "test_sketch_agg_generic)"),
    }
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/grouped_hll.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
