"""Time-rollup scale evidence -> BENCH/rollup_scale.json.

Synthesizes an events-shaped stream (user_id, ts) spread uniformly over
--days calendar days — deterministic seeded affine PRNG, generated
JVM-side from spark.range, no I/O — then measures the rollup economics
the operator claims:

  build_sec       one scan building the per-day CMS bucket table
                  (operators/rollup.sketch_time_buckets)
  rollup_query    a --range-days range query answered by merging ONLY the
                  covered KB-sized bucket blobs (buckets persisted — the
                  materialized-rollup serving mode)
  direct_query    the same query answered the naive way: rescan + rebuild
                  over the date-filtered rows

The point at 100 TB: rollup_query touches O(days-covered) KB blobs and is
independent of corpus size, while direct_query rescans the corpus — the
measured speedup is the amortization every additional range query earns.
Estimates are asserted identical between the two paths (CMS linearity).

Both build plans are timed: per-occurrence (one Arrow row per event) and
distinct-first / pre_aggregate (JVM groupBy(day,item) count, one weighted
Arrow row per distinct pair). Which wins is decided by
distinct_day_item_pairs vs rows — reported so the verdict is data-driven:

  random arrival + 1M universe  -> pairs ~ rows, pre-agg adds a shuffle
                                   for nothing (loses)
  clustered (log-ingest) arrival + hot universe -> per-split distinct
                                   collapses, pre-agg wins

Usage: python scripts/rollup_bench.py [--rows 100000000] [--days 365]
         [--range-days 30] [--reps 3] [--universe 1000000] [--clustered]
         [--out rollup_scale.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=100_000_000)
    ap.add_argument("--days", type=int, default=365)
    ap.add_argument("--range-days", type=int, default=30)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--universe", type=int, default=1_000_000,
                    help="cold user-id universe size (hot set is 1000)")
    ap.add_argument("--clustered", action="store_true",
                    help="time-ordered arrival: day increases monotonically "
                         "with row id (the realistic log-ingest shape — each "
                         "input split covers a few days, so per-partition "
                         "(day,item) distinct collapses)")
    ap.add_argument("--out", default="rollup_scale.json",
                    help="output filename under BENCH/")
    args = ap.parse_args()

    import numpy as np
    from pyspark.sql import functions as F

    import bench
    from parallel_count_min_sketch_spark.config import CMSConfig
    from parallel_count_min_sketch_spark.operators.agg import build_cms
    from parallel_count_min_sketch_spark.operators.rollup import (
        sketch_rollup_range,
        sketch_time_buckets,
    )
    from parallel_count_min_sketch_spark.sources.items import _u

    spark = bench.get_spark(bench.CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    cfg = CMSConfig(epsilon=0.005, delta=0.1, seed=2024)

    # events-shaped stream: skewed user ids (90% uniform --universe tail,
    # 10% a 1k-universe hot set); day either hashed per row (--clustered
    # off: worst case for pre-aggregation, every split touches every day)
    # or monotone in row id (--clustered: log-ingest order, each split
    # covers ~days/splits days)
    if args.clustered:
        day = f"(CAST(id * {args.days} / {args.rows} AS BIGINT))"
    else:
        day = f"({_u('id', 11, 99)} % {args.days})"
    from parallel_count_min_sketch_spark.sketches.hashing import MERSENNE_PRIME

    r = f"(CAST({_u('id', 12, 99)} AS DOUBLE) / {MERSENNE_PRIME}.0)"
    uid = (f"CASE WHEN {r} < 0.1 THEN CAST({_u('id', 13, 99)} % 1000 AS BIGINT) "
           f"ELSE CAST({_u('id', 14, 99)} % {args.universe} AS BIGINT) END")
    ev = spark.range(0, args.rows, 1, bench.CPUS * 4).select(
        F.expr(uid).alias("user_id"),
        F.expr(
            f"timestampadd(DAY, {day}, TIMESTAMP '2024-01-01 00:00:00')"
        ).alias("ts"),
    )

    lo = "2024-03-01"
    hi_expr = F.date_add(F.lit(lo).cast("date"), args.range_days - 1)
    hi = str(
        spark.range(1).select(hi_expr.cast("string").alias("h")).first()["h"]
    )

    def timed(fn):
        runs = []
        out = None
        for _ in range(args.reps):
            t0 = time.perf_counter()
            out = fn()
            runs.append(round(time.perf_counter() - t0, 3))
        return out, runs

    # warm the generator path once (page-fault warmup dominates cold runs)
    ev.select(F.count("*")).collect()

    buckets = None

    def mk_build(pre: bool):
        def build():
            nonlocal buckets
            if buckets is not None:
                buckets.unpersist()
            buckets = sketch_time_buckets(ev, "ts", "user_id", cfg.new_sketch,
                                          cfg.from_bytes,
                                          pre_aggregate=pre).persist()
            buckets.count()  # materialize the rollup table
            return buckets

        return build

    _, build_pre_runs = timed(mk_build(True))
    _, build_runs = timed(mk_build(False))

    def rollup_query():
        return sketch_rollup_range(buckets, lo, hi, cfg.new_sketch,
                                   cfg.from_bytes)

    sk_roll, roll_runs = timed(rollup_query)

    in_range = (F.col("ts").cast("date") >= F.lit(lo).cast("date")) & (
        F.col("ts").cast("date") <= F.lit(hi).cast("date")
    )

    def direct_query():
        return build_cms(ev.filter(in_range), "user_id", cfg)

    sk_direct, direct_runs = timed(direct_query)

    assert sk_roll.to_bytes() == sk_direct.to_bytes(), "linearity violated"
    # the quantity that decides which build plan wins: pre-aggregation
    # moves O(pairs) rows through Arrow instead of O(rows), at the cost
    # of one (day,item) shuffle
    n_pairs = int(
        ev.dropna().select("user_id", F.col("ts").cast("date")).distinct().count()
    )
    probes = np.array([0, 1, 500, 999_983], dtype=np.int64)
    ests = [int(x) for x in sk_roll.point_query(probes)]

    build_sec = bench._clean_median(build_runs)
    build_pre_sec = bench._clean_median(build_pre_runs)
    roll_sec = bench._clean_median(roll_runs)
    direct_sec = bench._clean_median(direct_runs)
    res = {
        "rows": args.rows,
        "days": args.days,
        "range_days": args.range_days,
        "reps": args.reps,
        "universe": args.universe,
        "clustered_arrival": bool(args.clustered),
        "distinct_day_item_pairs": n_pairs,
        "build_sec": build_sec,
        "build_rows_per_sec": round(args.rows / build_sec),
        "build_runs": build_runs,
        "build_pre_aggregate_sec": build_pre_sec,
        "build_pre_aggregate_rows_per_sec": round(args.rows / build_pre_sec),
        "build_pre_aggregate_runs": build_pre_runs,
        "rollup_query_sec": roll_sec,
        "rollup_query_runs": roll_runs,
        "direct_query_sec": direct_sec,
        "direct_query_runs": direct_runs,
        "speedup_rollup_vs_direct": round(direct_sec / roll_sec, 2),
        "range_events": int(sk_roll.total),
        "probe_estimates": ests,
        "bit_identical": True,
        "cpus": bench.CPUS,
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", args.out), "w") as f:
        json.dump(res, f, indent=1)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
