"""Tests of the benchmark itself: input generation, the event-log parser,
span arithmetic, the manifest, and a tiny smoke run of every workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow.compute as pc
import pytest

from perfbench import gen, trace, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
WEB = gen.WebSize(pages=300, vocab=5_000, hosts=50, files=2)
TABLES = gen.TableSize(docs=50, events=500, users=40)


# -- generator ---------------------------------------------------------------

def test_web_tables_are_a_function_of_the_seed():
    a, b, c = (gen.web_tables(s, WEB) for s in (7, 7, 8))
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["pages"].equals(c["pages"])


def test_query_tables_are_a_function_of_the_seed():
    a, b, c = (gen.query_tables(s, TABLES) for s in (7, 7, 8))
    for name in a:
        assert a[name].equals(b[name]), name
        assert not a[name].equals(c[name]), name


def test_web_truth_tables_match_the_corpus():
    tabs = gen.web_tables(3, WEB)
    pages = tabs["pages"]
    assert pages.column_names == ["url", "warc_ts", "html", "text", "lang"]
    tokens = pc.list_flatten(pc.split_pattern(pages.column("text"), " "))
    counts = pc.value_counts(tokens)
    got = dict(zip(counts.field("values").to_pylist(),
                   counts.field("counts").to_pylist()))
    truth = tabs["truth_tokens"]
    assert got == dict(zip(truth.column("token").to_pylist(),
                           truth.column("count").to_pylist()))
    urls = pages.column("url").to_pylist()
    assert len(set(urls)) == len(urls)
    per_host: dict[str, int] = {}
    for u in urls:
        host = u.split("/")[2]
        per_host[host] = per_host.get(host, 0) + 1
    hosts = tabs["truth_hosts"]
    assert per_host == dict(zip(hosts.column("host").to_pylist(),
                                hosts.column("urls").to_pylist()))


def test_zipf_ids_are_skewed_and_in_range():
    ids = gen.zipf_ids(np.random.default_rng(0), 1000, 50_000)
    assert ids.min() >= 0 and ids.max() < 1000
    counts = np.bincount(ids, minlength=1000)
    assert counts[0] > 5 * counts[9] > 0


def test_ensure_caches_by_seed_and_size(tmp_path, monkeypatch):
    monkeypatch.setattr(gen, "CACHE_DIR", str(tmp_path))
    path, spent = gen.ensure("tables", 5, TABLES)
    assert spent > 0 and os.path.exists(os.path.join(path, "events.parquet"))
    again, spent2 = gen.ensure("tables", 5, TABLES)
    assert again == path and spent2 == 0.0
    other, _ = gen.ensure("tables", 6, TABLES)
    assert other != path


# -- correctness checks -----------------------------------------------------

@pytest.fixture
def tiny_cache(tmp_path, monkeypatch):
    monkeypatch.setattr(gen, "CACHE_DIR", str(tmp_path))


def test_web_tokens_check_rejects_wrong_tables(tiny_cache):
    wl = workloads.WebTokens(4, "tiny")
    wl.inputs()
    sk = workloads.CMS_CFG.new_sketch()
    sk.update_batch(wl.truth_ids, wl.truth_counts)
    wl.check("arrow", sk)
    assert wl.probes == len(wl.truth_counts)
    assert wl.bound_misses <= workloads.CMS_CFG.delta * wl.probes
    more = workloads.CMS_CFG.new_sketch()
    more.update_batch(wl.truth_ids, wl.truth_counts + 1)
    with pytest.raises(workloads.CheckFailed, match="total"):
        wl.check("sql", more)
    moved = workloads.CMS_CFG.new_sketch()
    moved.update_batch(wl.truth_ids + 1, wl.truth_counts)
    with pytest.raises(workloads.CheckFailed, match="differs"):
        wl.check("sql", moved)


def test_host_groups_check_rejects_wrong_counts(tiny_cache):
    from pyspark.sql import Row

    wl = workloads.HostGroups(4, "tiny")
    wl.inputs()
    rows = [Row(host=h, rows_seen=n, estimate=float(n)) for h, n in wl.truth.items()]
    wl.check("grouped", rows)
    rows[0] = Row(host=rows[0].host, rows_seen=rows[0].rows_seen + 1,
                  estimate=rows[0].estimate)
    with pytest.raises(workloads.CheckFailed, match="rows_seen"):
        wl.check("grouped", rows)


def test_query_mix_check_compares_with_the_oracle(tiny_cache):
    import duckdb

    from parallel_count_min_sketch_spark.plans import all_oracles

    wl = workloads.QueryMix(4, "tiny")
    wl.inputs()
    kind = "cms_heavy_hitters"
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(wl.dir, 'documents.parquet')}')")
    want = con.execute(all_oracles()[kind]).df()
    con.close()
    cols, rows = list(want.columns), [tuple(r) for r in want.itertuples(index=False)]
    bad = [(rows[0][0], rows[0][1] + 1)] + rows[1:]
    with pytest.raises(workloads.CheckFailed, match="oracle"):
        wl.check(kind, (cols, bad))
    fresh = workloads.QueryMix(4, "tiny")
    fresh.inputs()
    fresh.check(kind, (cols, rows))
    with pytest.raises(workloads.CheckFailed, match="repetitions"):
        fresh.check(kind, (cols, bad))


# -- event log and spans ----------------------------------------------------

def _canned():
    with open(os.path.join(DATA, "small_eventlog.jsonl"), encoding="utf-8") as fh:
        return trace.parse_event_log(fh)


def test_parser_groups_stages_by_job_group():
    log = _canned()
    by_group = log.stages_by_group()
    assert sorted(by_group) == ["w/k/0/execute", "w/k/0/plans.construct", "warmup"]
    # stage 3 was listed by job 1 but never ran
    assert [s.stage_id for s in by_group["w/k/0/execute"]] == [1, 2]
    assert log.jobs_by_group() == {"w/k/0/plans.construct": 1,
                                   "w/k/0/execute": 1, "warmup": 1}
    st = log.stages[1]
    assert (st.tasks, st.input_rows, st.shuffle_write_rows) == (2, 100, 6)
    assert st.python[trace.PY_SENT] == 8200
    assert st.python[trace.PY_BOOT] == 120
    assert st.spill_bytes == 96


def test_op_layers_from_canned_log():
    log = _canned()
    root = trace.Span("w/k/0", "w/k/0", None, 0.0, 2.0)
    kids = [trace.Span("w/k/0/plans.construct", "plans.construct", root.id, 0.0, 0.1),
            trace.Span("w/k/0/execute", "execute", root.id, 0.2, 1.0),
            trace.Span("w/k/0/driver.fold", "driver.fold", root.id, 1.0, 1.2)]
    got = trace.op_layers(root, kids, log.stages_by_group(), log.jobs_by_group(),
                          result_rows=2)
    assert set(got) | {"jvm.peak_rss_mb", "trace.overhead_frac"} >= {
        n for n in trace.LAYER_METRICS if not n.startswith("sketches.")}
    want = {
        "plans.construct_jobs": 1, "spark.jobs": 2, "spark.stages": 3,
        "spark.tasks": 4, "spark.plan_s": 0.0,
        "sources.scan_bytes": 10_300, "sources.scan_rows": 110,
        "python.bytes_sent": 8200, "python.bytes_received": 1100,
        "python.run_s": 0.8, "python.boot_s": 0.12, "python.init_s": 0.15,
        "operators.partial_s": 0.55, "operators.partial_rows": 6,
        "operators.partial_bytes": 1300 + 1500 + 4000,
        "operators.merge_s": 0.2, "operators.partials_per_group": 3.0,
        "exchange.write_bytes": 1300, "exchange.read_bytes": 1300,
        "exchange.spill_bytes": 96, "exchange.rows_per_input_row": 6 / 110,
        "driver.result_bytes": 6400, "spark.gc_s": 0.02,
    }
    for name, value in want.items():
        assert got[name] == pytest.approx(value), name
    assert got["plans.construct_s"] == pytest.approx(0.1)
    assert got["driver.fold_s"] == pytest.approx(0.2)
    assert got["execute.self_s"] == pytest.approx(0.1)


def test_self_time_subtracts_the_union_of_children():
    root = trace.Span("r", "r", None, 0.0, 10.0)
    kids = [trace.Span("a", "a", "r", 1.0, 4.0), trace.Span("b", "b", "r", 3.0, 5.0),
            trace.Span("c", "c", "r", 8.0, 12.0)]
    assert trace.self_time(root, kids) == pytest.approx(10.0 - 4.0 - 2.0)
    assert trace.self_time(root, []) == pytest.approx(10.0)


def test_tracer_nests_spans_and_sets_job_groups():
    groups = []
    tr = trace.Tracer(groups.append)
    with tr.span("w/k/0") as root:
        with tr.span("execute"):
            pass
    assert [s.id for s in tr.children(root)] == ["w/k/0/execute"]
    assert groups == ["w/k/0", "w/k/0/execute", "w/k/0"]


def test_per_round_sums_kind_medians():
    per_op = [("a", {"x": 1.0}), ("a", {"x": 3.0}), ("a", {"x": 2.0}),
              ("b", {"x": 10.0})]
    assert trace.per_round(per_op) == {"x": 12.0}


def test_round_rel_divides_round_by_reference_median():
    from perfbench.run import Phase

    ph = Phase()
    ph.latency = {"a": [1.0, 3.0, 2.0], "b": [1.0]}
    ph.ref = [0.5, 1.5, 1.0]
    assert ph.round_s(["a", "b"]) == 3.0
    assert ph.round_rel(["a", "b"]) == 3.0
    ph.ref = []
    assert ph.round_rel(["a", "b"]) is None


# -- manifest and runs -------------------------------------------------------

def _manifest():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_manifest_names_every_layer_metric():
    m = _manifest()
    assert [p["name"] for p in m["per_layer"]] == list(trace.LAYER_METRICS)
    for p in m["per_layer"]:
        assert p["unit"] == trace.LAYER_METRICS[p["name"]][0]
    assert {w["name"] for w in m["workloads"]} <= set(workloads.WORKLOADS)


def _run(workload, trace_flag, cwd=ROOT, seconds="1"):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", seconds, "--trace", str(trace_flag), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload", ["web_tokens", "host_groups", "query_mix"])
def test_smoke_run_passes_its_checks(workload):
    proc = _run(workload, 0)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    names = {e["name"] for e in _manifest()["end_to_end"]}
    assert set(out["metrics"]) == names
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_smoke_run_reports_every_layer_metric():
    proc = _run("host_groups", 1, seconds="2")
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["correct"]
    assert set(out["metrics"]) == set(trace.LAYER_METRICS)
    assert all(v["value"] is not None for v in out["metrics"].values())


def test_fails_without_the_package(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".cache", ".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run("web_tokens", 0, cwd=tmp_path)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
