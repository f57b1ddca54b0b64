"""No package kernel loads pandas into a Python worker.

pyarrow imports pandas from several conversion calls (listed in
``parallel_count_min_sketch_spark/_arrow_np.py``), which costs every fresh
worker about 0.5 s and 30 MB. A fresh ``local[2]`` session in a
subprocess runs both CMS text builds, the grouped and heavy-hitter
queries and one query per kernel module at sf0.001, then reads
``/proc/<pid>/maps`` of every process below the JVM: none may map
``pandas/_libs``. A user ``applyInPandas`` run afterwards in the same
session must still return its result: the package blocks nothing.
"""

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]

QUERIES = [
    # the query_mix and grouped builds
    "cms_heavy_hitters", "hll_grouped_by_lang", "cms_grouped_by_lang",
    "kll_grouped_by_type", "stratified_sample_docs",
    # one query per kernel module
    "cms_heavy_hitters_scalable", "mg_grouped_frequent",  # heavy_hitters
    "bloom_semijoin_stats",  # joins
    "kmv_set_ops",  # setops
    "minhash_signatures", "simhash",  # dedup
    "doc_repetition", "text_quality",  # functions/text_arrow
    "script_mix", "image_stats", "audio_stats",  # textdata_queries
    "mg_time_rollup",  # rollup over the grouped rails
]

_SCRIPT = """
import json, os, sys
sys.path.insert(0, {root!r})
from pyspark.sql import SparkSession

import __spark_entry__ as entry
from parallel_count_min_sketch_spark.config import CMSConfig
from parallel_count_min_sketch_spark.operators import agg, sql_build

sf = {sf!r}
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false").getOrCreate())
cfg = CMSConfig(epsilon=0.01, delta=0.1, seed=7)
docs = spark.read.parquet(sf + "/documents.parquet")
arrow = agg.build_cms_from_text(docs, "text", cfg)
toks = docs.selectExpr("explode(split(text, ' ')) AS tok").filter("tok <> ''")
catalyst = sql_build.collect_cms(toks, "tok", cfg, string_items=True)
assert (arrow.table == catalyst.table).all()
queries = entry.queries()
for name in {queries!r}:
    queries[name](spark, sf).collect()


def children():
    kids = {{}}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{{pid}}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def below(root):
    kids, out, todo = children(), [], [root]
    while todo:
        for pid in kids.get(todo.pop(), []):
            out.append(pid)
            todo.append(pid)
    return out


def maps_pandas(pid):
    try:
        with open(f"/proc/{{pid}}/maps") as f:
            return "pandas/_libs" in f.read()
    except OSError:
        return False


procs = below(spark._jvm.java.lang.ProcessHandle.current().pid())
with_pandas = [p for p in procs if maps_pandas(p)]


def plus_one(pdf):
    return pdf.assign(v=pdf.v + 1)


user = (spark.range(6).selectExpr("id % 2 AS g", "id AS v")
        .groupBy("g").applyInPandas(plus_one, "g LONG, v LONG").collect())
print(json.dumps({{"procs": len(procs), "with_pandas": with_pandas,
                  "user_sum": sum(r.v for r in user)}}))
spark.stop()
"""


@pytest.mark.skipif(not os.path.isdir("/proc/self"),
                    reason="reads /proc/<pid>/maps")
def test_no_worker_maps_pandas_and_user_pandas_udfs_still_run(sf_dir):
    code = _SCRIPT.format(root=str(ROOT), sf=sf_dir, queries=QUERIES)
    proc = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                          capture_output=True, text=True, timeout=1200)
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["procs"] >= 1, out
    assert out["with_pandas"] == [], out
    assert out["user_sum"] == sum(range(6)) + 6, out
