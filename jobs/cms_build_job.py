"""spark-submit entry point: the full sketch pipeline over a web-pages table.

    spark-submit --master local[32] \
        --py-files pcms_spark.zip \
        jobs/cms_build_job.py \
        --input /path/web_pages.parquet --output /path/out \
        --eps 0.001 --delta 0.1 --seed 12345 \
        [--checkpoint /path/ckpt | --salt-partitions 256] [--reps 3]

Pipeline: parquet/Iceberg scan (text column pruned from html by Catalyst)
-> optional salted repartition (defuses host/language skew before the
sketch stage) -> CMS build (Arrow-kernel partials, ``build_cms_from_text``)
-> sketch blob + metrics written to the output dir. Prints one JSON metrics
line to stdout.

With --checkpoint the build keeps one partial sketch per input file in the
checkpoint dir; a rerun scans only the files that have none yet (appended
files, or files of a run that failed), then merges every file's partial.

Build the --py-files archive with:
    python -c "import shutil; shutil.make_archive('pcms_spark', 'zip', '.', 'parallel_count_min_sketch_spark')"
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--eps", type=float, default=0.001)
    ap.add_argument("--delta", type=float, default=0.1)
    ap.add_argument("--seed", type=int, default=12345)
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--salt-partitions", type=int, default=0,
                    help="salted repartition width (0 = keep scan partitioning)")
    ap.add_argument("--reps", type=int, default=1,
                    help="repeat the build and report best warm wall (the "
                         "reference's own benchmark averages repeated runs; "
                         "rep 1 is JVM/page-cache warmup). Plain builds "
                         "only — checkpointed builds are single-run by nature")
    args = ap.parse_args()
    if args.reps < 1:
        ap.error("--reps must be >= 1")
    if args.checkpoint and args.reps > 1:
        ap.error("--reps applies to plain builds only")
    if args.checkpoint and args.salt_partitions:
        ap.error("--checkpoint and --salt-partitions conflict: the "
                 "checkpointed build scans --input file by file, so a salted "
                 "repartition would be ignored")

    from pyspark.sql import SparkSession

    from parallel_count_min_sketch_spark.config import CMSConfig
    from parallel_count_min_sketch_spark.operators.agg import build_cms_from_text
    from parallel_count_min_sketch_spark.operators.checkpoint import CheckpointedCMSBuild
    from parallel_count_min_sketch_spark.operators.skew import salted_repartition

    spark = SparkSession.builder.appName("pcms-build").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    cfg = CMSConfig(args.eps, args.delta, args.seed)

    t0 = time.perf_counter()
    if args.checkpoint:
        build = CheckpointedCMSBuild(cfg, args.checkpoint)
        sk = build.run(spark, args.input, args.text_col)
        metrics = build.metrics
    else:
        df = spark.read.parquet(args.input).select(args.text_col)
        if args.salt_partitions:
            df = salted_repartition(df, args.salt_partitions, seed=args.seed)
        walls = []
        for _ in range(args.reps):
            r0 = time.perf_counter()
            sk = build_cms_from_text(df, args.text_col, cfg)
            walls.append(time.perf_counter() - r0)
        metrics = {"wall_sec_runs": [round(w, 3) for w in walls]} if args.reps > 1 else {}
    wall = min(walls) if not args.checkpoint else time.perf_counter() - t0

    os.makedirs(args.output, exist_ok=True)
    with open(os.path.join(args.output, "sketch.bin"), "wb") as f:
        f.write(sk.to_bytes())
    out = {
        "path": "checkpoint-arrow" if args.checkpoint else "arrow",
        "wall_sec": round(wall, 3),
        "total_mass": sk.total,
        "tokens_per_sec": round(sk.total / wall, 1),
        "depth": cfg.depth,
        "width": cfg.width,
        **metrics,
    }
    with open(os.path.join(args.output, "metrics.json"), "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
