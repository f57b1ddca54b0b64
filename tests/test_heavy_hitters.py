"""Scalable heavy hitters: candidate coverage (pigeonhole guarantee) and
agreement with the exact-candidate variant."""

import pytest
from pyspark.sql import functions as F

from parallel_count_min_sketch_spark.config import CMSConfig
from parallel_count_min_sketch_spark.operators.heavy_hitters import (
    fused_sketch_and_candidates,
    heavy_hitters_scalable,
)
from parallel_count_min_sketch_spark.sources.web_pages import web_pages

CFG = CMSConfig(epsilon=0.001, delta=0.1, seed=12345)
PHI = 0.05


@pytest.fixture(scope="module")
def pages(spark):
    return web_pages(spark, 600, seed=12345, partitions=5).cache()


def true_heavy_hitters(pages, phi):
    toks = pages.select(F.explode(F.split("text", " ")).alias("tok")).filter("tok != ''")
    n = toks.count()
    rows = toks.groupBy("tok").count().filter(F.col("count") >= int(phi * n)).collect()
    return {r["tok"] for r in rows}, n


def test_exact_heavy_hitter_set(spark, pages):
    """Candidates superset + one-sided CMS prune + exact recount => the
    output IS the exact heavy-hitter set with exact counts."""
    truth, n = true_heavy_hitters(pages, PHI)
    assert truth, "fixture should plant heavy hitters"
    rows = heavy_hitters_scalable(pages, "text", CFG, PHI).collect()
    got = {r["token"]: r["exact_count"] for r in rows}
    assert set(got) == truth, f"missed {truth - set(got)} / extra {set(got) - truth}"
    toks = pages.select(F.explode(F.split("text", " ")).alias("tok")).filter("tok != ''")
    exact = {r["tok"]: r["count"] for r in toks.groupBy("tok").count().collect()}
    for t, c in got.items():
        assert c == exact[t]
    assert all(r["cms_estimate"] >= r["exact_count"] for r in rows)  # one-sided
    # planted tokens are global heavy hitters at ~10% each
    assert {"tok123", "tok456"}.issubset(got)


def test_candidates_bounded_per_partition(spark, pages):
    """The fused scan's candidate rows (kind = 1) hold at most k tokens
    per partition, each with a positive local count."""
    cands = (fused_sketch_and_candidates(pages, "text", CFG, k_per_partition=10)
             .filter("kind = 1")
             .withColumn("pid", F.spark_partition_id())
             .collect())
    per_part: dict[int, int] = {}
    for r in cands:
        per_part[r["pid"]] = per_part.get(r["pid"], 0) + 1
    assert cands and max(per_part.values()) <= 10
    assert len(per_part) <= pages.rdd.getNumPartitions()
    assert all(r["local_count"] > 0 for r in cands)


def test_partitioning_invariant_output(spark, pages):
    a = {(r["token"], r["exact_count"]) for r in
         heavy_hitters_scalable(pages, "text", CFG, PHI).collect()}
    b = {(r["token"], r["exact_count"]) for r in
         heavy_hitters_scalable(pages.repartition(11), "text", CFG, PHI).collect()}
    truth, _ = true_heavy_hitters(pages, PHI)
    assert a == b
    assert {t for t, _c in a} == truth
