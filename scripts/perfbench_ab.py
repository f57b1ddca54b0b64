"""Interleaved parent/change A/B of the perfbench workloads.

    python3 scripts/perfbench_ab.py PARENT CHANGE --seeds 901-910 \\
        --out BENCH/<tag>_ab.json

Both commits are exported with ``git archive`` into a scratch directory, and
every run of ``perfbench/run.py`` starts with its cwd at its own export's
root: Spark's Python workers import the package from the driver's cwd
first, so running both sides from one tree would time that tree twice.

Pair order: pair k (seed A+k) runs the parent first when k is even and the
change first when k is odd; the workloads of ``BENCHMARK.json`` alternate
within each k. After the untraced pairs, one traced pair per workload runs
on seed B+1 (``--trace 1``) for the per-layer metrics; ``--traced-extra W``
adds one traced pair of a workload outside the manifest (``host_groups``).

The output keeps every raw run, and a ``summary`` per workload: quartiles of
each end-to-end metric on both sides, pairs where the change is better, the
median change against the parent's IQR, and whether it stays within the
metric's ``BENCHMARK.json`` bound. The file is rewritten after every run,
so an interrupted A/B keeps the pairs it finished.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("parent", "change")
NO_REGRESSION_RULE = ("change median - parent median <= BENCHMARK.json bound "
                      "x parent median, for each end-to-end metric on each "
                      "workload")
GAIN_RULE = ("change better in >= 9/10 pairs and parent median - change "
             "median > parent IQR (q3 - q1)")


def parse_seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    lo, hi = int(lo), int(hi or lo)
    if hi < lo:
        raise argparse.ArgumentTypeError(f"empty seed range {text!r}")
    return list(range(lo, hi + 1))


def export(commit: str, dest: str) -> str:
    """``git archive`` of ``commit`` extracted into ``dest``; returns the
    full commit hash."""
    full = subprocess.run(["git", "rev-parse", "--verify", commit + "^{commit}"],
                          cwd=ROOT, check=True, capture_output=True,
                          text=True).stdout.strip()
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "archive", full], cwd=ROOT,
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait() != 0:
        raise RuntimeError(f"git archive {commit} failed")
    return full


def pair_order(seeds, workloads):
    """(seed, workload, side) in the documented interleaving."""
    for k, seed in enumerate(seeds):
        sides = SIDES if k % 2 == 0 else SIDES[::-1]
        wls = workloads if k % 2 == 0 else workloads[::-1]
        for wl in wls:
            for side in sides:
                yield seed, wl, side


def run_one(checkout: str, side: str, workload: str, seed: int,
            seconds: float, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    wall = time.perf_counter() - t0
    run = {"side": side, "workload": workload, "seed": seed, "trace": trace,
           "returncode": proc.returncode, "wall_s": round(wall, 1)}
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    try:
        result = json.loads(lines[-1])
        report = json.loads(lines[-2])["report"]
    except (IndexError, ValueError, KeyError):
        run.update(correct=False, attempted=0, failed=0, metrics={},
                   stderr_tail=proc.stderr[-2000:])
        return run
    run.update(correct=result["correct"], attempted=result["attempted"],
               failed=result["failed"],
               metrics={k: v["value"] for k, v in result["metrics"].items()},
               report=report)
    return run


def _quartiles(vals):
    q1, med, q3 = statistics.quantiles(vals, n=4, method="inclusive")
    return {"q1": round(q1, 4), "median": round(med, 4), "q3": round(q3, 4)}


def _compare(pairs, bound, lower_better=True):
    """Summary of one metric over (parent, change) value pairs."""
    par = [p for p, _ in pairs]
    chg = [c for _, c in pairs]
    out = {"parent": _quartiles(par), "change": _quartiles(chg)}
    sign = 1 if lower_better else -1
    better = sum(1 for p, c in pairs if sign * (c - p) < 0)
    pm, cm = out["parent"]["median"], out["change"]["median"]
    iqr = out["parent"]["q3"] - out["parent"]["q1"]
    out["change_better_pairs"] = better
    out["median_change_frac"] = round(cm / pm - 1.0, 4) if pm else None
    out["parent_iqr_frac"] = round(iqr / pm, 4) if pm else None
    out["meets_gain_rule"] = (better >= 0.9 * len(pairs)
                              and sign * (pm - cm) > iqr)
    if bound is not None:
        out["bound"] = bound
        out["within_bound"] = sign * (cm - pm) <= bound * pm
    return out


def summarize(runs, manifest) -> dict:
    summary = {}
    e2e = {m["name"]: m for m in manifest["end_to_end"]}
    for wl in (w["name"] for w in manifest["workloads"]):
        timed = [r for r in runs if r["workload"] == wl and not r["trace"]]
        by = {(r["seed"], r["side"]): r for r in timed}
        seeds = sorted({s for s, side in by if (s, "parent") in by
                        and (s, "change") in by})
        if len(seeds) < 2:
            continue
        out = {"pairs": len(seeds)}

        def pairs_of(get):
            vals = [(get(by[s, "parent"]), get(by[s, "change"])) for s in seeds]
            return [(p, c) for p, c in vals if p is not None and c is not None]

        for name, m in e2e.items():
            pairs = pairs_of(lambda r, n=name: r["metrics"].get(n))
            if len(pairs) >= 2:
                out[name] = _compare(pairs, m["bound"], m["better"] == "lower")
        pairs = pairs_of(lambda r: r.get("report", {}).get("round_s"))
        if len(pairs) >= 2:
            out["round_s"] = _compare(pairs, None)
        out["all_correct"] = all(r["correct"] for r in timed)
        out["failed_ops"] = {s: sum(r["failed"] for r in timed if r["side"] == s)
                             for s in SIDES}
        out["attempted_ops"] = {s: sum(r["attempted"] for r in timed
                                       if r["side"] == s) for s in SIDES}
        out["returncodes_nonzero"] = sum(1 for r in timed if r["returncode"])
        summary[wl] = out
    return summary


def traced_layers(runs) -> dict:
    """Per-layer metrics of the traced pair, with per-kind medians."""
    out = {}
    for r in runs:
        if r["trace"]:
            out[f"{r['workload']}/{r['side']}"] = {
                "seed": r["seed"], "correct": r["correct"],
                "layers": r["metrics"],
                "per_kind": {k: r.get("report", {}).get(k)
                             for k in ("kinds_untraced", "kinds_traced")}}
    return out


def hardware() -> str:
    cpu = platform.processor() or platform.machine()
    try:
        with open("/proc/cpuinfo", encoding="utf-8") as fh:
            cpu = next(ln.split(":", 1)[1].strip() for ln in fh
                       if ln.startswith("model name"))
    except (OSError, StopIteration):
        pass
    try:
        import pyspark
        spark = f"Spark {pyspark.__version__}"
    except ImportError:
        spark = "Spark (version unknown)"
    return (f"{os.cpu_count()} vCPU {cpu}; Python {platform.python_version()}; "
            f"{spark}, local[{os.cpu_count()}]")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--seeds", type=parse_seeds, required=True,
                    help="inclusive range A-B; seed B+1 runs the traced pair")
    ap.add_argument("--out", required=True)
    ap.add_argument("--traced-extra", action="append", default=[],
                    metavar="WORKLOAD",
                    help="one more traced pair of a workload outside "
                         "BENCHMARK.json (repeatable)")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        manifest = json.load(fh)
    workloads = [w["name"] for w in manifest["workloads"]]
    seconds = manifest["run_seconds"]
    scratch = tempfile.mkdtemp(prefix="perfbench-ab-")
    checkouts = {s: os.path.join(scratch, s) for s in SIDES}
    commits = {s: export(c, checkouts[s])
               for s, c in zip(SIDES, (args.parent, args.change))}
    doc = {
        "what": f"Interleaved perfbench A/B, parent {args.parent} vs change "
                f"{args.change}.",
        "parent_commit": commits["parent"],
        "change_commit": commits["change"],
        "hardware": hardware(),
        "method": {
            "e2e": (f"python3 perfbench/run.py --workload W --seed N --seconds "
                    f"{seconds:g} --trace 0, run with the cwd at a git-archive "
                    f"export of each side; seeds {args.seeds[0]}-"
                    f"{args.seeds[-1]}; pair k runs the parent first when k is "
                    "even, the change first when k is odd; the workloads "
                    "alternate within each k"),
            "trace": (f"the same with --trace 1 on seed {args.seeds[-1] + 1}, "
                      "once per side and workload"
                      + "".join(f", and for {w} (outside the manifest)"
                                for w in args.traced_extra)),
            "no_regression_rule": NO_REGRESSION_RULE,
            "gain_rule": GAIN_RULE,
        },
        "summary": {},
        "trace": {},
        "runs": [],
    }

    def save():
        doc["summary"] = summarize(doc["runs"], manifest)
        doc["trace"] = traced_layers(doc["runs"])
        with open(args.out, "w", encoding="utf-8") as fh:
            json.dump(doc, fh, indent=1)
            fh.write("\n")

    plan = [(*key, 0) for key in pair_order(args.seeds, workloads)]
    plan += [(args.seeds[-1] + 1, wl, side, 1)
             for wl in workloads + args.traced_extra for side in SIDES]
    try:
        for i, (seed, wl, side, trace) in enumerate(plan, 1):
            run = run_one(checkouts[side], side, wl, seed, seconds, trace)
            doc["runs"].append(run)
            save()
            print(f"[{i}/{len(plan)}] {side} {wl} seed={seed} trace={trace} "
                  f"rc={run['returncode']} correct={run['correct']} "
                  f"wall={run['wall_s']}s", flush=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    for wl, s in doc["summary"].items():
        for name in (m["name"] for m in manifest["end_to_end"]):
            if name in s:
                m = s[name]
                print(f"{wl} {name}: {m['parent']['median']} -> "
                      f"{m['change']['median']} ({m['median_change_frac']:+.1%}, "
                      f"better {m['change_better_pairs']}/{s['pairs']}, "
                      f"within bound {m['within_bound']})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
