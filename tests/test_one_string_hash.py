"""One string hash on Spark: every Spark-side string id is the numpy
``djb2_batch``, appended by ``sketch_agg.with_djb2``.

- The kernel equals the scalar ``djb2_py`` on arbitrary unicode, ``''``
  (5381) and NULL (stays NULL), under 1 and 3 partitions.
- The executed plans of the Misra-Gries recounts and of the SimHash
  fallback hold no ``lambdafunction`` (no interpreted SQL fold) and hash
  in a ``MapInArrow``; SimHash's doc-local kernel runs once per query.
- The Misra-Gries candidate relation is a JVM local scan: no
  ``PythonRDD`` anywhere in the query's lineage.
"""

from __future__ import annotations

import pyarrow as pa
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from parallel_count_min_sketch_spark.operators.heavy_hitters import (
    mg_frequent_tokens,
    mg_grouped_frequent_tokens,
)
from parallel_count_min_sketch_spark.operators.sketch_agg import with_djb2
from parallel_count_min_sketch_spark.sketches.hashing import DJB2_INIT, djb2_py
from parallel_count_min_sketch_spark.sources.tables import load


def _ids_df(spark, texts, partitions):
    table = pa.table({"id": pa.array(range(len(texts)), pa.int64()),
                      "t": pa.array(texts, pa.string())})
    return spark.createDataFrame(table).repartition(partitions)


@settings(max_examples=15, deadline=None)
@given(texts=st.lists(st.one_of(st.none(), st.just(""),
                                st.text(max_size=12)), max_size=20),
       partitions=st.sampled_from([1, 3]))
def test_with_djb2_equals_scalar(spark, texts, partitions):
    rows = with_djb2(_ids_df(spark, texts, partitions), "t").collect()
    assert sorted(r["id"] for r in rows) == list(range(len(texts)))
    for r in rows:
        text = texts[r["id"]]
        assert r["t"] == text
        assert r["item_id"] == (None if text is None else djb2_py(text))


def test_with_djb2_empty_and_null(spark):
    df = _ids_df(spark, ["", None, "héllo 日本語"], 1)
    got = with_djb2(df, "t", "h")
    assert got.dtypes == [("id", "bigint"), ("t", "string"), ("h", "bigint")]
    assert {r["id"]: r["h"] for r in got.collect()} \
        == {0: DJB2_INIT, 1: None, 2: djb2_py("héllo 日本語")}


def _executed_plan(df) -> str:
    df.collect()  # AQE finalizes the physical plan only at execution time
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_numpy_hashed(df):
    plan = _executed_plan(df)
    assert "lambdafunction" not in plan, plan
    assert "MapInArrow" in plan, plan


def test_mg_recounts_hash_in_numpy(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    _assert_numpy_hashed(mg_frequent_tokens(docs, "text", 512, 0.02))
    _assert_numpy_hashed(
        mg_grouped_frequent_tokens(docs, "lang", "text", 512, 0.02))


def _split_id_fingerprints(spark):
    """``_simhash_arrow`` over four rows in four partitions: id 1's rows
    span Arrow batches, so its Catalyst fallback runs."""
    from parallel_count_min_sketch_spark.operators.dedup import _simhash_arrow

    df = spark.createDataFrame(
        [(1, "a b"), (1, "c d"), (2, "a b c d"), (3, "héllo")],
        "doc_id LONG, text STRING")
    assert df.rdd.getNumPartitions() == 4
    return _simhash_arrow(df, "doc_id")


def test_simhash_fallback_hashes_in_numpy(spark):
    """The Catalyst fallback's vocabulary ids (``_tid``) come out of a
    MapInArrow of the final plan."""
    fps = _split_id_fingerprints(spark)
    _assert_numpy_hashed(fps)
    final = _executed_plan(fps).split("== Initial Plan ==")[0]
    assert any("MapInArrow" in line and "_tid" in line
               for line in final.splitlines()), final
    got = {r["_id"]: r["_sh"] for r in fps.collect()}
    assert got[1] == got[2]


def test_simhash_kernel_runs_once(spark):
    """The ``clean`` and fallback branches of ``_simhash_arrow`` read the
    per-id aggregate through one Exchange, so the tokenize + vote kernel
    (``fold``) appears once in the executed plan."""
    fps = _split_id_fingerprints(spark)
    final = _executed_plan(fps).split("== Initial Plan ==")[0]
    assert final.count("MapInArrow fold") == 1, final
    assert "ReusedExchange" in final, final
    got = {r["_id"]: r["_sh"] for r in fps.collect()}
    assert sorted(got) == [1, 2, 3] and got[1] == got[2]


def _rdd_scan_lineages(df) -> list[str]:
    """The RDD lineage of every RDD scan in ``df``'s executed plan, through
    AQE query stages (broadcast sides included)."""
    df.collect()
    out = []

    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if cls.endswith("QueryStageExec"):
            return walk(node.plan())
        if cls == "RDDScanExec":
            out.append(node.rdd().toDebugString())
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_mg_candidates_are_a_local_scan(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    lineages = _rdd_scan_lineages(mg_frequent_tokens(docs, "text", 512, 0.02))
    assert not any("PythonRDD" in s for s in lineages), lineages
    # the walk sees a broadcast list-of-tuples relation
    tuples = spark.createDataFrame([(1, 2)], "item_id LONG, mg_lower LONG")
    probe = spark.range(3).withColumnRenamed("id", "item_id") \
        .join(F.broadcast(tuples), "item_id")
    assert any("PythonRDD" in s for s in _rdd_scan_lineages(probe))
