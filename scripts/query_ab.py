"""Interleaved parent/change timing of registry queries: construct + collect.

    python3 scripts/query_ab.py PARENT CHANGE --sf /root/testdata/sf0.01 \\
        --sf /root/testdata/sf0.1 --rounds 6 --reps 3 \\
        --out BENCH/<tag>_queries.json mg_frequent_tokens simhash

Both commits are exported with ``git archive`` (``perfbench_ab.export``),
and each side runs in its own process with its cwd at its export's root,
so Spark's Python workers import that side's package. Round k runs the
parent first when k is even and the change first when k is odd. A side's
process starts one ``local[N]`` session (N = ``SPARK_GRAFT_CPUS``, default
4), collects every query once per sf as a warm-up, then times ``reps``
repetitions of each query: ``construct_s`` is the query function's wall
(building the DataFrame, including any jobs it runs eagerly) and
``collect_s`` the ``collect()`` after it.

The output keeps every raw repetition and, per (sf, query), the median
construct + collect of each side, the pairs (round, rep) where the change
was faster, and the change of the median.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from perfbench_ab import SIDES, export  # noqa: E402

_WORKER = r"""
import json, os, sys, time
sys.path.insert(0, os.getcwd())
from pyspark.sql import SparkSession
import __spark_entry__ as entry

sfs, names, reps = json.loads(sys.argv[1])
cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
spark = (SparkSession.builder.master(f"local[{cpus}]")
         .config("spark.sql.shuffle.partitions", str(cpus))
         .config("spark.default.parallelism", str(cpus))
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "4g").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
qs = entry.queries()
out = {}
for sf in sfs:
    for name in names:
        qs[name](spark, sf).collect()
    runs = out[sf] = {name: [] for name in names}
    for _ in range(reps):
        for name in names:
            t0 = time.perf_counter()
            df = qs[name](spark, sf)
            t1 = time.perf_counter()
            rows = df.collect()
            t2 = time.perf_counter()
            runs[name].append({"construct_s": round(t1 - t0, 4),
                               "collect_s": round(t2 - t1, 4),
                               "rows": len(rows)})
spark.stop()
print(json.dumps(out))
"""


def run_side(checkout: str, sfs, names, reps: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "-c", _WORKER, json.dumps([sfs, names, reps])],
        cwd=checkout, capture_output=True, text=True, check=False)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"query run failed in {checkout}:\n"
                           f"{proc.stderr[-3000:]}")
    return json.loads(lines[-1])


def summarize(rounds, sfs, names) -> dict:
    summary = {}
    for sf in sfs:
        for name in names:
            tot = {side: [] for side in SIDES}
            for rnd in rounds:
                for side in SIDES:
                    tot[side] += [r["construct_s"] + r["collect_s"]
                                  for r in rnd[side][sf][name]]
            pm = statistics.median(tot["parent"])
            cm = statistics.median(tot["change"])
            better = sum(c < p for p, c in zip(tot["parent"], tot["change"]))
            summary[f"{os.path.basename(sf)}/{name}"] = {
                "parent_median_s": round(pm, 4),
                "change_median_s": round(cm, 4),
                "median_change_frac": round(cm / pm - 1.0, 4),
                "change_better_pairs": f"{better}/{len(tot['parent'])}",
            }
    return summary


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", action="append", required=True)
    ap.add_argument("--rounds", type=int, default=6)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    with tempfile.TemporaryDirectory(prefix="query_ab_") as tmp:
        trees = {side: os.path.join(tmp, side) for side in SIDES}
        commits = {side: export(c, trees[side])
                   for side, c in zip(SIDES, (args.parent, args.change))}
        rounds = []
        for k in range(args.rounds):
            rnd = {}
            for side in (SIDES if k % 2 == 0 else SIDES[::-1]):
                rnd[side] = run_side(trees[side], args.sf, args.names,
                                     args.reps)
            rounds.append(rnd)
            out = {"commits": commits, "host": platform.node(),
                   "cpus": os.environ.get("SPARK_GRAFT_CPUS", "4"),
                   "nproc": os.cpu_count(), "rounds": rounds,
                   "summary": summarize(rounds, args.sf, args.names)}
            with open(args.out, "w") as f:
                json.dump(out, f, indent=1)
            print(json.dumps(out["summary"]), flush=True)


if __name__ == "__main__":
    main()
