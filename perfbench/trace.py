"""Spans recorded around each layer call, the Spark event-log parser, and
the per-layer metrics built from both.

Each operation has a root span ``<workload>/<kind>/<rep>`` whose children
are ``plans.construct``, ``spark.plan``, ``execute`` and ``driver.fold``.
In a traced run every child span is also the Spark job group of the jobs
it starts, so the event log's stages attach to the span that caused them.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from dataclasses import dataclass, field

@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory. With ``set_job_group``, every span becomes
    the Spark job group of the jobs started inside it."""

    def __init__(self, set_job_group=None):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._set_job_group = set_job_group

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = f"{parent.id}/{name}" if parent else name
        sp = Span(sid, name, parent.id if parent else None, time.perf_counter())
        self._stack.append(sp)
        if self._set_job_group:
            self._set_job_group(sid)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(sp)
            if self._set_job_group and self._stack:
                self._set_job_group(self._stack[-1].id)

    def children(self, root: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == root.id]


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover."""
    ivs = sorted((max(c.start, span.start), min(c.end, span.end))
                 for c in children)
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in ivs:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return span.duration - covered


# -- event log -------------------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
_PY_METRICS = (PY_SENT, PY_RECV, PY_BOOT, PY_INIT, PY_RUN)


@dataclass
class StageStats:
    stage_id: int
    submitted_ms: int = 0
    completed_ms: int = 0
    tasks: int = 0
    gc_ms: int = 0
    result_bytes: int = 0
    input_bytes: int = 0
    input_rows: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_rows: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    python: dict[str, int] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return max(self.completed_ms - self.submitted_ms, 0) / 1000.0


@dataclass
class EventLog:
    job_group: dict[int, str] = field(default_factory=dict)
    job_stages: dict[int, list[int]] = field(default_factory=dict)
    stages: dict[int, StageStats] = field(default_factory=dict)

    def stages_by_group(self) -> dict[str, list[StageStats]]:
        out: dict[str, list[StageStats]] = {}
        for job, group in self.job_group.items():
            for sid in self.job_stages.get(job, []):
                if sid in self.stages:  # skipped stages never complete
                    out.setdefault(group, []).append(self.stages[sid])
        return out

    def jobs_by_group(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for group in self.job_group.values():
            out[group] = out.get(group, 0) + 1
        return out


def parse_event_log(lines) -> EventLog:
    """Fold Spark event-log JSON lines into per-job groups and per-stage
    task totals. Unknown events are ignored."""
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                log.job_group[job] = group
            log.job_stages[job] = list(ev.get("Stage IDs", []))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = log.stages.setdefault(info["Stage ID"], StageStats(info["Stage ID"]))
            st.submitted_ms = info.get("Submission Time") or 0
            st.completed_ms = info.get("Completion Time") or 0
        elif kind == "SparkListenerTaskEnd":
            st = log.stages.setdefault(ev["Stage ID"], StageStats(ev["Stage ID"]))
            m = ev.get("Task Metrics") or {}
            st.tasks += 1
            st.gc_ms += m.get("JVM GC Time", 0)
            st.result_bytes += m.get("Result Size", 0)
            st.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0))
            inp = m.get("Input Metrics") or {}
            st.input_bytes += inp.get("Bytes Read", 0)
            st.input_rows += inp.get("Records Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            st.shuffle_write_rows += sw.get("Shuffle Records Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                                      + sr.get("Local Bytes Read", 0))
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = acc.get("Name")
                if name in _PY_METRICS:
                    st.python[name] = st.python.get(name, 0) + int(acc.get("Update") or 0)
    return log


def read_event_log_dir(path: str) -> EventLog:
    """Parse every event file Spark wrote under ``path`` (plain or rolling
    layout; compression must be off)."""
    files = []
    for root, _dirs, names in os.walk(path):
        files += [os.path.join(root, n) for n in names
                  if n.startswith(("events_", "local-", "app-"))
                  and not n.endswith(".crc")]

    def lines():
        for f in sorted(files):
            with open(f, encoding="utf-8") as fh:
                yield from fh

    return parse_event_log(lines())


# -- per-layer metrics -------------------------------------------------------

# name -> (unit, which end-to-end metric it should move, on which workload)
LAYER_METRICS: dict[str, tuple[str, str]] = {
    "plans.construct_s": ("s", "round_rel on query_mix"),
    "plans.construct_jobs": ("count", "round_rel on query_mix"),
    "spark.plan_s": ("s", "round_rel on query_mix (and host_groups)"),
    "spark.jobs": ("count", "round_rel on query_mix (and host_groups)"),
    "spark.stages": ("count", "round_rel on query_mix (and host_groups)"),
    "spark.tasks": ("count", "round_rel on query_mix (and host_groups)"),
    "sources.scan_bytes": ("B", "round_rel on web_tokens"),
    "sources.scan_rows": ("count", "round_rel on web_tokens"),
    "python.bytes_sent": ("B", "round_rel on web_tokens (and host_groups)"),
    "python.bytes_received": ("B", "round_rel on web_tokens (and host_groups)"),
    "python.run_s": ("s", "round_rel on web_tokens (and host_groups)"),
    "python.boot_s": ("s", "setup_s on all; round_rel on query_mix"),
    "python.init_s": ("s", "setup_s on all; round_rel on query_mix"),
    "operators.partial_s": ("s", "round_rel on web_tokens (and host_groups)"),
    "operators.partial_rows": ("count", "round_rel on query_mix grouped queries (and host_groups)"),
    "operators.partial_bytes": ("B", "round_rel on web_tokens (and host_groups)"),
    "operators.merge_s": ("s", "round_rel on query_mix (and host_groups); near 0 on web_tokens"),
    "operators.partials_per_group": ("ratio", "round_rel on query_mix grouped queries (and host_groups)"),
    "exchange.write_bytes": ("B", "round_rel on web_tokens, sql rail (and host_groups)"),
    "exchange.read_bytes": ("B", "round_rel on web_tokens, sql rail (and host_groups)"),
    "exchange.spill_bytes": ("B", "round_rel on web_tokens, sql rail (and host_groups)"),
    "exchange.rows_per_input_row": ("ratio", "round_rel on web_tokens, sql rail (and host_groups)"),
    "driver.fold_s": ("s", "round_rel on web_tokens, sql rail, and query_mix"),
    "driver.result_bytes": ("B", "round_rel on web_tokens, sql rail, and query_mix"),
    "execute.self_s": ("s", "round_rel on all: execute time no stage covers"),
    "spark.gc_s": ("s", "round_rel on web_tokens, sql rail"),
    "jvm.peak_rss_mb": ("MB", "worker_peak_rss_mb stays; JVM memory only"),
    "sketches.djb2_ns_per_token": ("ns", "round_rel on web_tokens; no change on query_mix"),
    "sketches.cms_update_ns_per_item": ("ns", "round_rel on web_tokens; no change on query_mix"),
    "sketches.hll_update_ns_per_item": ("ns", "round_rel on query_mix grouped queries (and host_groups)"),
    "sketches.merge_us": ("us", "round_rel on query_mix grouped queries (and host_groups)"),
    "sketches.serde_us": ("us", "round_rel on query_mix grouped queries (and host_groups)"),
    "trace.overhead_frac": ("ratio", "none: traced vs untraced round time, minus 1"),
}


def op_layers(root: Span, children: list[Span], stages: dict[str, list[StageStats]],
              jobs: dict[str, int], result_rows: int) -> dict[str, float]:
    """Per-layer numbers of one operation, from its spans and the event-log
    stages whose job group is one of its spans."""
    by_name = {c.name: c for c in children}
    st_all = [st for c in children for st in stages.get(c.id, [])]
    # Partial stages scan the op's input; merge stages only read shuffle
    # output. (Parent ids cannot tell them apart: adaptive execution runs
    # each shuffle stage as its own job, and the job that reads it lists a
    # skipped copy as the parent.)
    partial = [st for st in st_all if st.input_rows]
    merge = [st for st in st_all if not st.input_rows and st.shuffle_read_bytes]
    exec_span = by_name.get("execute")
    exec_stages = stages.get(exec_span.id, []) if exec_span else []
    stage_wall = sum(st.wall_s for st in exec_stages)

    def tot(attr, sts=st_all):
        return sum(getattr(st, attr) for st in sts)

    def py(name):
        return sum(st.python.get(name, 0) for st in st_all)

    def dur(name):
        return by_name[name].duration if name in by_name else 0.0

    partial_rows = tot("shuffle_write_rows", partial)
    input_rows = tot("input_rows")
    return {
        "plans.construct_s": dur("plans.construct"),
        "plans.construct_jobs": jobs.get(f"{root.id}/plans.construct", 0),
        "spark.plan_s": dur("spark.plan"),
        "spark.jobs": sum(jobs.get(c.id, 0) for c in children),
        "spark.stages": len(st_all),
        "spark.tasks": tot("tasks"),
        "sources.scan_bytes": tot("input_bytes"),
        "sources.scan_rows": input_rows,
        "python.bytes_sent": py(PY_SENT),
        "python.bytes_received": py(PY_RECV),
        "python.run_s": py(PY_RUN) / 1000.0,
        "python.boot_s": py(PY_BOOT) / 1000.0,
        "python.init_s": py(PY_INIT) / 1000.0,
        "operators.partial_s": sum(st.wall_s for st in partial),
        "operators.partial_rows": partial_rows,
        "operators.partial_bytes": (tot("shuffle_write_bytes", partial)
                                    + tot("result_bytes", partial)),
        "operators.merge_s": sum(st.wall_s for st in merge),
        "operators.partials_per_group": partial_rows / max(result_rows, 1),
        "exchange.write_bytes": tot("shuffle_write_bytes"),
        "exchange.read_bytes": tot("shuffle_read_bytes"),
        "exchange.spill_bytes": tot("spill_bytes"),
        "exchange.rows_per_input_row": tot("shuffle_write_rows") / max(input_rows, 1),
        "driver.fold_s": dur("driver.fold"),
        "driver.result_bytes": tot("result_bytes"),
        "execute.self_s": max(exec_span.duration - stage_wall, 0.0) if exec_span else 0.0,
        "spark.gc_s": tot("gc_ms") / 1000.0,
    }


def per_round(per_op: list[tuple[str, dict[str, float]]]) -> dict[str, float]:
    """Sum over operation kinds of each kind's median: the layer's share
    of one round of the workload, matching ``round_s`` (the numerator of
    ``round_rel``)."""
    kinds: dict[str, list[dict[str, float]]] = {}
    for kind, vals in per_op:
        kinds.setdefault(kind, []).append(vals)
    out: dict[str, float] = {}
    for rows in kinds.values():
        for name in rows[0]:
            out[name] = out.get(name, 0.0) + statistics.median(r[name] for r in rows)
    return out
