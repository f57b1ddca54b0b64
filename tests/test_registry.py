"""The query registry holds every query module's entries, each with an
oracle: a module that fails to import must fail here, not shrink the
registry."""

from parallel_count_min_sketch_spark.plans import all_oracles, all_queries
from parallel_count_min_sketch_spark.plans.cms_queries import CMS_QUERIES
from parallel_count_min_sketch_spark.plans.sketch_queries import SKETCH_QUERIES
from parallel_count_min_sketch_spark.plans.textdata_queries import TEXTDATA_QUERIES


def test_registry_is_union_of_query_modules_with_oracles():
    modules = [CMS_QUERIES, SKETCH_QUERIES, TEXTDATA_QUERIES]
    union = set().union(*modules)
    assert sum(len(m) for m in modules) == len(union) == 89
    assert set(all_queries()) == union
    assert set(all_oracles()) == union
    assert all(sql.strip() for sql in all_oracles().values())
