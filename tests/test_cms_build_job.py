"""jobs/cms_build_job.py end to end, as a subprocess: its main() stops the
Spark session it gets, so it cannot share the test session."""

import json
import os
import subprocess
import sys

from parallel_count_min_sketch_spark.config import CMSConfig
from parallel_count_min_sketch_spark.operators.agg import build_cms_from_text
from parallel_count_min_sketch_spark.sources.web_pages import web_pages

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JOB = os.path.join(ROOT, "jobs", "cms_build_job.py")
EPS, DELTA, SEED = 0.01, 0.1, 77


def _job(*args):
    env = dict(os.environ,
               PYSPARK_SUBMIT_ARGS="--master local[2] --conf spark.ui.enabled=false "
                                   "--conf spark.sql.shuffle.partitions=2 pyspark-shell")
    return subprocess.run(
        [sys.executable, JOB, "--eps", str(EPS), "--delta", str(DELTA),
         "--seed", str(SEED), *args],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600)


def test_checkpointed_job_resumes_on_appended_files(spark, tmp_path):
    src, ckpt = str(tmp_path / "pages"), str(tmp_path / "ckpt")
    out1, out2 = str(tmp_path / "out1"), str(tmp_path / "out2")
    web_pages(spark, 200, seed=11, partitions=2).write.parquet(src)
    r1 = _job("--input", src, "--output", out1, "--checkpoint", ckpt)
    assert r1.returncode == 0, r1.stderr[-3000:]
    with open(os.path.join(out1, "metrics.json")) as f:
        m1 = json.load(f)
    assert m1["n_files"] == m1["files_computed"] == 2

    web_pages(spark, 150, seed=12, partitions=2).write.mode("append").parquet(src)
    r2 = _job("--input", src, "--output", out2, "--checkpoint", ckpt)
    assert r2.returncode == 0, r2.stderr[-3000:]
    with open(os.path.join(out2, "metrics.json")) as f:
        m2 = json.load(f)
    assert m2["files_skipped"] == m1["n_files"]
    assert m2["files_computed"] == 2

    cfg = CMSConfig(EPS, DELTA, SEED)
    direct = build_cms_from_text(spark.read.parquet(src), "text", cfg)
    with open(os.path.join(out2, "sketch.bin"), "rb") as f:
        assert f.read() == direct.to_bytes()


def test_job_writes_the_text_build_sketch(spark, tmp_path):
    src, dst = str(tmp_path / "pages"), str(tmp_path / "out")
    web_pages(spark, 120, seed=13, partitions=2).write.parquet(src)
    r = _job("--input", src, "--output", dst)
    assert r.returncode == 0, r.stderr[-3000:]
    with open(os.path.join(dst, "metrics.json")) as f:
        m = json.load(f)
    direct = build_cms_from_text(spark.read.parquet(src), "text",
                                 CMSConfig(EPS, DELTA, SEED))
    assert m["path"] == "arrow"
    assert m["total_mass"] == direct.total > 0
    with open(os.path.join(dst, "sketch.bin"), "rb") as f:
        assert f.read() == direct.to_bytes()


def test_checkpoint_with_salt_is_rejected(tmp_path):
    r = _job("--input", str(tmp_path), "--output", str(tmp_path / "out"),
             "--checkpoint", str(tmp_path / "ckpt"), "--salt-partitions", "8")
    assert r.returncode == 2
    assert "--checkpoint and --salt-partitions conflict" in r.stderr
