"""String-item sketches built from a JVM (item, count) pre-aggregate: the
weighted build must equal the per-occurrence build byte for byte, the
numpy probe kernel must equal the driver-side point query, and the
registry queries built this way must not depend on partitioning."""

import numpy as np
import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from parallel_count_min_sketch_spark.config import CMSConfig
from parallel_count_min_sketch_spark.operators.agg import build_cms, cms_grouped
from parallel_count_min_sketch_spark.operators.sketch_agg import (
    probe_cms,
    sketch_grouped,
)
from parallel_count_min_sketch_spark.plans import cms_queries, sketch_queries
from parallel_count_min_sketch_spark.plans.sketch_queries import (
    _hll_from_bytes,
    _mk_hll,
)
from parallel_count_min_sketch_spark.sketches.cms_cu import ConservativeCMS
from parallel_count_min_sketch_spark.sketches.hashing import djb2_batch

CFG = CMSConfig(epsilon=0.01, delta=0.1, seed=7)

# empty, whitespace-only, multi-space and non-ASCII texts, and NULLs
_TEXT = st.one_of(st.none(), st.text(alphabet="ab ü\t", max_size=12))
_DOCS = st.lists(st.tuples(st.sampled_from(["en", "de", None]), _TEXT),
                 max_size=20)


def _tokens(docs):
    return docs.select("lang", F.explode(F.split("text", " ")).alias("tok")) \
        .filter(F.col("tok") != "")


def _by_group(df):
    return {r["group"]: (r["rows_seen"], bytes(r["sketch"])) for r in df.collect()}


@settings(max_examples=6, deadline=None)
@given(rows=_DOCS)
@example(rows=[("en", None), ("de", None), (None, None)])
@example(rows=[("en", ""), ("de", "   "), ("en", " \t ")])
def test_weighted_string_builds_equal_per_occurrence(spark, rows):
    docs = spark.createDataFrame(rows, "lang STRING, text STRING").repartition(3)
    toks = _tokens(docs)
    pairs = toks.groupBy("lang", "tok").agg(F.count("*").alias("n"))

    hll_raw = sketch_grouped(toks, "lang", "tok", _mk_hll, _hll_from_bytes,
                             string_items=True)
    hll_pre = sketch_grouped(pairs, "lang", "tok", _mk_hll, _hll_from_bytes,
                             string_items=True, weight_col="n")
    assert _by_group(hll_pre) == _by_group(hll_raw)

    cms_raw = cms_grouped(toks, "lang", "tok", CFG, string_items=True)
    cms_pre = cms_grouped(pairs, "lang", "tok", CFG, string_items=True,
                          weight_col="n")
    assert _by_group(cms_pre) == _by_group(cms_raw)

    flat = toks.groupBy("tok").agg(F.count("*").alias("n"))
    assert build_cms(flat, "tok", CFG, weight_col="n",
                     string_items=True).to_bytes() \
        == build_cms(toks, "tok", CFG, string_items=True).to_bytes()


@settings(max_examples=6, deadline=None)
@given(rows=_DOCS)
@example(rows=[("en", None), ("de", None), (None, None)])
@example(rows=[("en", ""), ("de", "   "), ("en", " \t ")])
def test_unweighted_grouped_hll_counts_distinct_tokens(spark, rows):
    """Over the distinct (lang, token) rows, the unweighted grouped HLL
    has the weighted build's registers, and its ``rows_seen`` is each
    language's exact distinct token count (NULL languages are dropped, as
    the grouped fold drops NULL groups)."""
    docs = spark.createDataFrame(rows, "lang STRING, text STRING").repartition(3)
    toks = _tokens(docs)
    pairs = toks.groupBy("lang", "tok").agg(F.count("*").alias("n"))

    unweighted = _by_group(sketch_grouped(pairs, "lang", "tok", _mk_hll,
                                          _hll_from_bytes, string_items=True))
    weighted = _by_group(sketch_grouped(pairs, "lang", "tok", _mk_hll,
                                        _hll_from_bytes, string_items=True,
                                        weight_col="n"))
    exact = {r["lang"]: r["d"] for r in
             toks.filter(F.col("lang").isNotNull()).groupBy("lang")
             .agg(F.countDistinct("tok").alias("d")).collect()}
    assert {g: n for g, (n, _) in unweighted.items()} == exact
    assert {g: b for g, (_, b) in unweighted.items()} \
        == {g: b for g, (_, b) in weighted.items()}


def test_probe_cms_equals_numpy_point_query(spark):
    toks = ["a", "", None, "key", "ü", "a", "zz z", "b"]
    rows = [(i, t, i / 3.0) for i, t in enumerate(toks)]
    df = spark.createDataFrame(rows, "id LONG, tok STRING, x DOUBLE").repartition(3)
    cms = CFG.new_sketch()
    cms.update_strings(["a", "a", "key", "b", "ü"], np.array([3, 1, 5, 2, 7]))
    cu = ConservativeCMS(CFG.epsilon, CFG.delta, CFG.seed)
    cu.update_batch(djb2_batch(["a", "key", "zz z"]), np.array([4, 2, 9]))

    out = probe_cms(probe_cms(df, cms, "tok"), cu, "tok", "cu_est")
    assert out.columns == ["id", "tok", "x", "cms_estimate", "cu_est"]
    got = {r["id"]: r for r in out.collect()}
    assert sorted(got) == [r[0] for r in rows]
    for i, t, x in rows:
        r = got[i]
        assert (r["tok"], r["x"]) == (t, x)
        if t is None:
            assert r["cms_estimate"] is None and r["cu_est"] is None
        else:
            assert r["cms_estimate"] == int(cms.point_query(djb2_batch([t]))[0])
            assert r["cu_est"] == int(cu.point_query(djb2_batch([t]))[0])


@pytest.mark.parametrize("query", ["cms_heavy_hitters", "hll_grouped_by_lang"])
def test_preaggregated_queries_are_partition_invariant(spark, sf_dir,
                                                       monkeypatch, query):
    fn = {"cms_heavy_hitters": cms_queries.q_cms_heavy_hitters,
          "hll_grouped_by_lang": sketch_queries.q_hll_grouped_by_lang}[query]
    load, load_spread = sketch_queries.load, cms_queries.load_spread

    def run(n):
        monkeypatch.setattr(
            sketch_queries, "load",
            lambda *a: load(*a).repartition(n))
        monkeypatch.setattr(
            cms_queries, "load_spread",
            lambda *a: load_spread(*a).repartition(n))
        return [tuple(r) for r in fn(spark, sf_dir).collect()]

    one, seven = run(1), run(7)
    assert one, "the fixture should give a non-empty result"
    assert one == seven
