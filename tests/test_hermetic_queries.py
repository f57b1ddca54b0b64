"""Hermetic queries: collecting a registry query leaves no persisted RDD,
no active stream and no ``pcms_`` temp dir behind. RDD ids are compared,
not counts: the ContextCleaner may reclaim an RDD some earlier test leaked
in the middle of a query, which would hide a new leak from a count."""

import os
import tempfile

import pytest

from parallel_count_min_sketch_spark.plans import all_queries

# the string-item sketch queries built from a JVM (item, count) aggregate,
# the scale-path heavy hitters, whose eager phase persists its fused scan,
# and the two streaming queries, which stage files and run a stream
QUERIES = [
    "cms_token_point_query",
    "cms_heavy_hitters",
    "cms_url_host_counts",
    "cms_grouped_by_lang",
    "hll_grouped_by_lang",
    "cms_cu_accuracy",
    "cms_heavy_hitters_scalable",
    "stream_batch_parity",
    "stream_rollup_parity",
]


def _persisted_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keys()}


def _temp_dirs() -> set[str]:
    return {d for d in os.listdir(tempfile.gettempdir()) if d.startswith("pcms_")}


@pytest.mark.parametrize("name", QUERIES)
def test_query_leaves_no_persisted_rdds(spark, sf_dir, name):
    before, dirs = _persisted_ids(spark), _temp_dirs()
    all_queries()[name](spark, sf_dir).collect()
    assert _persisted_ids(spark) - before == set()
    assert spark.streams.active == []
    assert _temp_dirs() - dirs == set()
