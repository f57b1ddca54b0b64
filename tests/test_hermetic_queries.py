"""Hermetic queries: collecting a registry query leaves no persisted RDD
behind. Ids are compared, not counts: the ContextCleaner may reclaim an
RDD some earlier test leaked in the middle of a query, which would hide a
new leak from a count."""

import pytest

from parallel_count_min_sketch_spark.plans import all_queries

# the string-item sketch queries built from a JVM (item, count) aggregate,
# and the scale-path heavy hitters, whose eager phase persists its fused scan
QUERIES = [
    "cms_token_point_query",
    "cms_heavy_hitters",
    "cms_url_host_counts",
    "cms_grouped_by_lang",
    "hll_grouped_by_lang",
    "cms_cu_accuracy",
    "cms_heavy_hitters_scalable",
]


def _persisted_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keys()}


@pytest.mark.parametrize("name", QUERIES)
def test_query_leaves_no_persisted_rdds(spark, sf_dir, name):
    before = _persisted_ids(spark)
    all_queries()[name](spark, sf_dir).collect()
    assert _persisted_ids(spark) - before == set()
