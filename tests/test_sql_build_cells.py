"""The Catalyst CMS table materialized on the driver must equal the Arrow
rail's build byte for byte: string items through the numpy cells kernel
(NULL items and NULL weights dropped, negative weights rejected), integer
items through the SQL plan, whose NULL-bucket and NULL-counter rows
``cells_to_sketch`` skips."""

import pytest
from hypothesis import example, given, settings, strategies as st

from parallel_count_min_sketch_spark.config import CMSConfig
from parallel_count_min_sketch_spark.operators.agg import build_cms
from parallel_count_min_sketch_spark.operators.sql_build import (
    cells_to_sketch,
    cms_table_df,
    collect_cms,
)

CFG = CMSConfig(epsilon=0.1, delta=0.1, seed=7)

# NULL, empty and non-ASCII items; NULL and zero weights
_ITEM = st.one_of(st.none(), st.text(alphabet="aé日😀", max_size=3))
_WEIGHT = st.one_of(st.none(), st.integers(0, 4))


@settings(max_examples=6, deadline=None)
@given(rows=st.lists(st.tuples(_ITEM, _WEIGHT), max_size=25),
       weighted=st.booleans(), partitions=st.sampled_from([1, 3]))
@example(rows=[("a", 1), (None, 1), ("b", 1), ("a", 1)], weighted=False,
         partitions=1)
@example(rows=[("", None), ("日本", 0), (None, None), ("😀", 2)],
         weighted=True, partitions=3)
def test_string_collect_cms_equals_arrow_build(spark, rows, weighted, partitions):
    df = spark.createDataFrame(rows, "item STRING, w BIGINT").repartition(partitions)
    wc = "w" if weighted else None
    exp = build_cms(df, "item", CFG, weight_col=wc, string_items=True)
    raw = cms_table_df(df, "item", CFG, weight_col=wc, string_items=True).collect()
    assert cells_to_sketch(raw, CFG).to_bytes() == exp.to_bytes()


@pytest.mark.parametrize("pre_aggregate", [None, False])
def test_string_build_rejects_negative_weight(spark, pre_aggregate):
    # the second input's per-item sums are all non-negative
    for rows in ([("a", 2), ("b", -1)], [("a", -1), ("a", 2), ("b", 1)]):
        df = spark.createDataFrame(rows, "item STRING, w BIGINT")
        with pytest.raises(Exception, match="negative weights"):
            cms_table_df(df, "item", CFG, weight_col="w", string_items=True,
                         pre_aggregate=pre_aggregate).collect()


def test_integer_collect_cms_skips_null_items_and_weights(spark):
    rows = [(1, 2), (None, 3), (5, None), (None, None), (1, 1), (9, None)]
    df = spark.createDataFrame(rows, "item BIGINT, w BIGINT").repartition(2)
    assert collect_cms(df, "item", CFG).to_bytes() \
        == build_cms(df, "item", CFG).to_bytes()
    weighted = cms_table_df(df, "item", CFG, weight_col="w").collect()
    assert cells_to_sketch(weighted, CFG).to_bytes() \
        == build_cms(df, "item", CFG, weight_col="w").to_bytes()
