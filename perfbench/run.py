"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload web_tokens --seed 1 --seconds 14 --trace 0

Run from the repository root. Workloads: ``web_tokens``, ``host_groups``,
``query_mix`` (see ``BENCHMARK.json`` and ``perfbench/README.md``).

``--trace 0`` prints the end-to-end metrics: ``setup_s`` (median of
``SETUPS`` set-ups, each until the Spark session is up and one warm-up
operation of each kind has run), ``round_rel`` (one round of the workload,
the sum over operation kinds of each kind's median wall time, divided by
the median wall time of the reference job in ``reference.py``) and
``worker_peak_rss_mb``. ``--trace 1`` measures half the time untraced and
half with Spark's event log and one job group per span, and prints the
per-layer metrics plus the tracing overhead.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
is a report with every per-kind figure, sample counts and check results.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "parallel_count_min_sketch_spark"
SETUPS = 3
# untimed rounds after the last set-up: the first round in a fresh context
# still runs 20-30% slow while its Python workers and the JIT warm up
WARMUP_ROUNDS = 1
WORKLOAD_NAMES = ("web_tokens", "host_groups", "query_mix")
KERNEL_SKETCH = {"web_tokens": "cms", "host_groups": "hll", "query_mix": "cms"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the benchmark's own tests")
    return ap.parse_args(argv)


def run_op(wl, kind, tracer, root_id):
    """One operation, each layer call inside its own child span."""
    with tracer.span(root_id) as root:
        with tracer.span("plans.construct"):
            handle = wl.construct(kind)
        df = wl.plannable(kind, handle)
        if df is not None:
            with tracer.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
        with tracer.span("execute"):
            raw = wl.execute(kind, handle)
        with tracer.span("driver.fold"):
            result = wl.fold(kind, raw)
    return root, result


def set_up(wl, session, trace_mod, work, event_log=None):
    """Start a session and run one checked warm-up operation of each kind.
    Returns the session and the seconds spent in the (untimed) checks."""
    spark = session.start(work, event_log)
    wl.bind(spark)
    tracer = trace_mod.Tracer()
    if event_log:
        spark.sparkContext.setJobGroup("warmup", "warmup")
    check_s = 0.0
    for kind in wl.warmup_kinds:
        _root, result = run_op(wl, kind, tracer, f"warmup/{kind}")
        t0 = time.perf_counter()
        wl.check(kind, result)
        check_s += time.perf_counter() - t0
    return spark, check_s


class Phase:
    def __init__(self):
        self.latency: dict[str, list[float]] = {}
        self.ref: list[float] = []  # reference job wall times, one per round
        self.ops = []  # (kind, root span, result rows)
        self.attempted = 0
        self.failed = 0
        self.worker_rss_mb = 0.0
        self.steal_frac = 0.0

    def round_s(self, kinds) -> float | None:
        if any(not self.latency.get(k) for k in kinds):
            return None
        return sum(statistics.median(self.latency[k]) for k in kinds)

    def round_rel(self, kinds) -> float | None:
        rnd = self.round_s(kinds)
        return rnd / statistics.median(self.ref) if rnd and self.ref else None


def reference_s(spark, tracer, name) -> float:
    """Wall time of one reference job (``perfbench/reference.py``)."""
    from perfbench import reference

    with tracer.span(name) as sp:
        reference.run(spark)
    return sp.duration


def measure(wl, tracer, seconds, jvm, session, checks) -> Phase:
    """Closed loop, one client: ``WARMUP_ROUNDS`` checked but untimed rounds
    of the workload's kinds, then whole rounds until ``seconds`` have
    passed (at least one round). Each round starts with the reference
    job."""
    ph = Phase()

    def one_round(rep):
        ref = reference_s(wl.spark, tracer, f"reference/{rep}")
        if rep >= 0:
            ph.ref.append(ref)
        for kind in wl.kinds:
            ph.attempted += 1
            try:
                root, result = run_op(wl, kind, tracer, f"{wl.name}/{kind}/{rep}")
                wl.check(kind, result)
            except checks.CheckFailed as e:
                ph.failed += 1
                print(f"check failed: {e}", file=sys.stderr)
                continue
            except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
                ph.failed += 1
                traceback.print_exc()
                continue
            if rep < 0:  # warm-up
                continue
            ph.latency.setdefault(kind, []).append(root.duration)
            ph.ops.append((kind, root, wl.result_rows(result)))
            ph.worker_rss_mb = max(ph.worker_rss_mb,
                                   session.worker_peak_rss_mb(jvm))

    for rep in range(-WARMUP_ROUNDS, 0):
        one_round(rep)
    start, steal0 = time.perf_counter(), session.steal_s()
    rep = 0
    while rep == 0 or time.perf_counter() - start < seconds:
        one_round(rep)
        rep += 1
    ph.steal_frac = ((session.steal_s() - steal0)
                     / (session.cpus() * (time.perf_counter() - start)))
    return ph


def kind_report(ph: Phase) -> dict:
    return {k: {"median_s": statistics.median(v), "n": len(v), "samples_s": v}
            for k, v in ph.latency.items()}


def workload_figures(wl, ph: Phase) -> dict:
    """The named end-to-end figures of each workload, for the report."""
    lat = ph.latency
    out = {}
    if wl.name == "web_tokens":
        for kind, name in (("arrow", "build_arrow_s"), ("sql", "build_sql_s")):
            if lat.get(kind):
                out[name] = statistics.median(lat[kind])
    elif wl.name == "host_groups":
        if lat.get("grouped"):
            out["grouped_build_s"] = statistics.median(lat["grouped"])
    else:
        qs = sorted(x for v in lat.values() for x in v)
        if qs:
            out["query_p50_s"] = statistics.median(qs)
            # the 90th percentile only with at least 10 samples beyond it
            out["query_p90_s"] = (statistics.quantiles(qs, n=10)[-1]
                                  if len(qs) >= 100 else None)
            out["query_samples"] = len(qs)
    return out


def bound_miss_frac(wl) -> float | None:
    return wl.bound_misses / wl.probes if wl.probes else None


def timed_run(args, wl, gen_s, work, session, trace_mod, checks):
    spark, check_s = set_up(wl, session, trace_mod, work)
    setups = [time.perf_counter() - T0 - gen_s - check_s]
    for _ in range(SETUPS - 1):
        spark.stop()
        t0 = time.perf_counter()
        spark, check_s = set_up(wl, session, trace_mod, work)
        setups.append(time.perf_counter() - t0 - check_s)
    ph = measure(wl, trace_mod.Tracer(), args.seconds, session.jvm_pid(spark),
                 session, checks)
    session.shutdown()
    metrics = {
        "setup_s": {"value": statistics.median(setups), "unit": "s"},
        "round_rel": {"value": ph.round_rel(wl.kinds), "unit": "ratio"},
        "worker_peak_rss_mb": {"value": ph.worker_rss_mb, "unit": "MB"},
    }
    report = {
        "setups_s": setups,
        "round_s": ph.round_s(wl.kinds),
        "reference_s": statistics.median(ph.ref),
        "reference_samples_s": ph.ref,
        "steal_frac": ph.steal_frac,
        "kinds": kind_report(ph),
        **workload_figures(wl, ph),
    }
    return ph, metrics, report


def traced_run(args, wl, work, session, trace_mod, checks, kernels):
    half = args.seconds / 2
    spark, _ = set_up(wl, session, trace_mod, work)
    plain = measure(wl, trace_mod.Tracer(), half, session.jvm_pid(spark),
                    session, checks)
    spark.stop()
    ev_dir = os.path.join(work, "eventlog")
    spark, _ = set_up(wl, session, trace_mod, work, event_log=ev_dir)
    sc = spark.sparkContext
    tracer = trace_mod.Tracer(lambda g: sc.setJobGroup(g, g))
    jvm = session.jvm_pid(spark)
    traced = measure(wl, tracer, half, jvm, session, checks)
    jvm_rss = session.peak_rss_mb(jvm)
    session.shutdown()  # also writes out the event log

    log = trace_mod.read_event_log_dir(ev_dir)
    stages, jobs = log.stages_by_group(), log.jobs_by_group()
    per_op, spans = [], []
    for kind, root, rows in traced.ops:
        kids = tracer.children(root)
        per_op.append((kind, trace_mod.op_layers(root, kids, stages, jobs, rows)))
        for sp in [root, *kids]:
            spans.append({"id": sp.id, "name": sp.name, "parent": sp.parent,
                          "start": sp.start - T0, "end": sp.end - T0,
                          "self_s": trace_mod.self_time(
                              sp, kids if sp is root else [])})
    layers = trace_mod.per_round(per_op) if per_op else {}
    layers["jvm.peak_rss_mb"] = jvm_rss
    layers.update(kernels.bench(wl.kernel_sample(), KERNEL_SKETCH[wl.name]))
    # in reference units, so that a change in the host's load between the
    # two halves does not read as tracing overhead
    r_plain, r_traced = plain.round_rel(wl.kinds), traced.round_rel(wl.kinds)
    layers["trace.overhead_frac"] = (r_traced / r_plain - 1.0
                                     if r_plain and r_traced else None)

    notes = []
    if not layers.get("python.boot_s"):
        notes.append("python.boot_s: no Python worker started inside a traced "
                     "operation (the warm-up started them and they are reused)")
    if wl.name == "web_tokens":
        notes.append("spark.plan_s covers the sql rail only: the arrow rail "
                     "plans inside its RDD reduce, counted in execute")
    notes.append("execute.self_s: execute time not covered by any stage "
                 "(scheduling, result transfer, driver-side reduce)")
    ph = Phase()
    for p in (plain, traced):
        ph.attempted += p.attempted
        ph.failed += p.failed
    metrics = {name: {"value": layers.get(name), "unit": unit}
               for name, (unit, _moves) in trace_mod.LAYER_METRICS.items()}
    report = {
        "round_untraced_s": plain.round_s(wl.kinds),
        "round_traced_s": traced.round_s(wl.kinds),
        "round_rel_untraced": r_plain,
        "round_rel_traced": r_traced,
        "kinds_untraced": kind_report(plain),
        "kinds_traced": kind_report(traced),
        "notes": notes,
    }
    out_dir = os.path.join(session.WORK_DIR, "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{wl.name}-s{args.seed}.json")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump({"workload": wl.name, "seed": args.seed, "layers": layers,
                   "per_op": per_op, "spans": spans, "notes": notes}, fh, indent=1)
    report["trace_file"] = os.path.relpath(path, ROOT)
    return ph, metrics, report


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: {PACKAGE}/ not found next to perfbench/; run from a "
              "full checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import kernels, session, trace, workloads

    wl = workloads.WORKLOADS[args.workload](args.seed, args.scale)
    gen_s = wl.inputs()
    work = session.prepare_env(ROOT)
    try:
        if args.trace:
            ph, metrics, report = traced_run(args, wl, work, session, trace,
                                             workloads, kernels)
        else:
            ph, metrics, report = timed_run(args, wl, gen_s, work, session,
                                            trace, workloads)
    finally:
        session.shutdown()
        shutil.rmtree(work, ignore_errors=True)

    miss = bound_miss_frac(wl)
    values_ok = all(m["value"] is not None for m in metrics.values())
    correct = (ph.failed == 0 and values_ok
               and (miss is None or miss <= workloads.CMS_CFG.delta))
    report.update({
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "gen_s": gen_s,
        "failed_frac": ph.failed / max(ph.attempted, 1),
        "bound_miss_frac": miss,
    })
    report["wall_s"] = time.perf_counter() - T0
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": correct, "attempted": ph.attempted,
                      "failed": ph.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
