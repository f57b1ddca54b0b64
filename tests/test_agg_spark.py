"""Spark aggregation layer: partial sketches + tree merge must equal a
single-pass sequential build byte-for-byte, independent of partitioning —
the distributed-correctness core of the whole library (the property
MPI_Reduce relies on in the reference, src/mpi/mpiV2.c:163-175)."""

import numpy as np
import pytest

from parallel_count_min_sketch_spark.config import CMSConfig
from parallel_count_min_sketch_spark.operators.agg import (
    build_cms,
    build_cms_from_text,
    cms_grouped,
    cms_partials,
    merge_partials,
)
from parallel_count_min_sketch_spark.operators.sql_build import (
    cells_to_sketch,
    cms_table_df,
    collect_cms,
    point_query_df,
)
from parallel_count_min_sketch_spark.sketches import CountMinSketch, djb2_py

CFG = CMSConfig(epsilon=0.01, delta=0.1, seed=42)


@pytest.fixture(scope="module")
def items_df(spark):
    rng = np.random.default_rng(12345)
    items = rng.integers(1, 5000, size=30000).tolist()
    return spark.createDataFrame([(int(x),) for x in items], "item BIGINT"), items


def expected_sketch(items) -> CountMinSketch:
    sk = CFG.new_sketch()
    sk.update_batch(np.asarray(items, dtype=np.int64))
    return sk


def test_partials_one_row_per_partition(spark, items_df):
    df, _ = items_df
    df8 = df.repartition(8)
    partials = cms_partials(df8, "item", CFG).collect()
    assert len(partials) == 8
    assert sorted(p["partition_id"] for p in partials) == list(range(8))
    assert sum(p["rows_seen"] for p in partials) == df.count()


def test_distributed_build_equals_sequential(spark, items_df):
    df, items = items_df
    exp = expected_sketch(items)
    got = build_cms(df.repartition(8), "item", CFG)
    assert got.total == exp.total
    assert np.array_equal(got.table, exp.table)


def test_partitioning_invariance(spark, items_df):
    """Identical final sketch bytes at different parallelism — the
    determinism-across-parallelism requirement (SURVEY §5 e2e)."""
    df, _ = items_df
    s2 = build_cms(df.repartition(2), "item", CFG)
    s16 = build_cms(df.repartition(16), "item", CFG)
    assert s2.to_bytes() == s16.to_bytes()


def test_jvm_sql_build_matches_arrow_build(spark, items_df):
    df, items = items_df
    exp = expected_sketch(items)
    got = collect_cms(df.repartition(6), "item", CFG)
    assert got.total == exp.total
    assert np.array_equal(got.table, exp.table)


def test_pre_aggregate_plan_is_bit_identical(spark, items_df):
    """The distinct-first plan (count-by-value, then hash once per distinct
    item) must produce the same matrix as the per-occurrence plan — for
    integer and string items, weighted and unweighted."""
    from pyspark.sql import functions as F

    df, items = items_df

    def table(d, **kw):
        rows = cms_table_df(d, "item", CFG, **kw).collect()
        return sorted((r["depth_row"], r["bucket"], r["counter"]) for r in rows)

    assert table(df, pre_aggregate=True) == table(df, pre_aggregate=False)

    wdf = df.withColumn("w", (F.col("item") % 7 + 1).cast("bigint"))
    assert (table(wdf, weight_col="w", pre_aggregate=True)
            == table(wdf, weight_col="w", pre_aggregate=False))

    sdf = df.select(F.concat(F.lit("tok"), F.col("item")).alias("item"))
    assert (table(sdf, string_items=True, pre_aggregate=True)
            == table(sdf, string_items=True, pre_aggregate=False))


def test_string_build_checks_each_weight_under_pre_aggregate(spark):
    """String items have one build: with ``pre_aggregate=True`` the kernel
    still folds row by row, so a negative weight fails even where every
    item's total is non-negative."""
    df = spark.createDataFrame([("a", -1), ("a", 2), ("b", 1)],
                               "item STRING, w BIGINT")
    with pytest.raises(Exception, match="negative weights"):
        cms_table_df(df, "item", CFG, weight_col="w", string_items=True,
                     pre_aggregate=True).collect()


def test_rescan_strategy_is_bit_identical(spark, items_df):
    """The rescan per-occurrence plan (depth unioned single-bucket groupBys,
    no posexplode) must produce the same matrix as the explode plan — for
    integer and string items, weighted and unweighted."""
    import pytest
    from pyspark.sql import functions as F

    df, items = items_df

    def table(d, **kw):
        rows = cms_table_df(d, "item", CFG, **kw).collect()
        return sorted((r["depth_row"], r["bucket"], r["counter"]) for r in rows)

    assert table(df, row_strategy="rescan") == table(df, row_strategy="explode")

    wdf = df.withColumn("w", (F.col("item") % 7 + 1).cast("bigint"))
    assert (table(wdf, weight_col="w", row_strategy="rescan")
            == table(wdf, weight_col="w", row_strategy="explode"))

    sdf = df.select(F.concat(F.lit("tok"), F.col("item")).alias("item"))
    assert (table(sdf, string_items=True, pre_aggregate=False,
                  row_strategy="rescan")
            == table(sdf, string_items=True, pre_aggregate=False,
                     row_strategy="explode"))

    with pytest.raises(ValueError):
        cms_table_df(df, "item", CFG, row_strategy="bogus")


def test_point_query_df_matches_kernel(spark, items_df):
    df, items = items_df
    exp = expected_sketch(items)
    queries = [1, 2, 777, 4999, 123456]
    rows = point_query_df(df, "item", CFG, queries).collect()
    got = {r["item"]: r["cms_estimate"] for r in rows}
    kernel = exp.point_query(np.array(queries))
    for q, k in zip(queries, kernel.tolist()):
        assert got[q] == k


def test_string_items_and_text_path(spark):
    docs = [("a b c a",), ("c c d",), ("",), (None,)]
    df = spark.createDataFrame(docs, "text STRING")
    cfg = CMSConfig(epsilon=0.1, delta=0.1, seed=7)
    sk = build_cms_from_text(df.repartition(3), "text", cfg)
    exp = cfg.new_sketch()
    exp.update_strings(["a", "b", "c", "a", "c", "c", "d"])
    assert sk.to_bytes() == exp.to_bytes()
    # exploded-token route agrees
    from pyspark.sql import functions as F

    tokens = df.select(F.explode(F.split(F.col("text"), " ")).alias("tok")).filter("tok != ''")
    sk2 = build_cms(tokens, "tok", cfg, string_items=True)
    assert sk2.to_bytes() == exp.to_bytes()
    assert int(sk.point_query(np.array([djb2_py("c")]))[0]) >= 3


def test_sql_and_arrow_paths_agree_on_non_ascii(spark):
    """The JVM djb2 fold (code-point -> UTF-8-byte expansion) must equal the
    numpy byte fold on real unicode, and the DuckDB oracle must replay it —
    the round-1 latent divergence (ADVICE: per-char ascii vs UTF-8 bytes)."""
    import duckdb
    from pyspark.sql import functions as F

    from parallel_count_min_sketch_spark.config import djb2_sql_duckdb

    docs = [("héllo wörld 日本語 😀ok héllo",), ("naïve café péri单 日本語",)]
    df = spark.createDataFrame(docs, "text STRING")
    cfg = CMSConfig(epsilon=0.1, delta=0.1, seed=7)
    tokens = df.select(F.explode(F.split("text", " ")).alias("tok")).filter("tok != ''")
    arrow_sk = build_cms_from_text(df.repartition(2), "text", cfg)
    sql_sk = cells_to_sketch(
        cms_table_df(tokens, "tok", cfg, string_items=True).collect(), cfg)
    assert sql_sk.to_bytes() == arrow_sk.to_bytes()

    toks = sorted({t for d in docs for t in d[0].split(" ") if t})
    vals = ", ".join(f"('{t}')" for t in toks)
    duck = duckdb.connect()
    got = duck.sql(
        f"SELECT t, {djb2_sql_duckdb('t')} AS h FROM (VALUES {vals}) v(t) ORDER BY t"
    ).fetchall()
    duck.close()
    assert {t: h for t, h in got} == {t: djb2_py(t) for t in toks}


def test_grouped_sketches(spark):
    rows = [("en", 1), ("en", 1), ("de", 2), ("en", 3), ("de", 2), ("de", 5)]
    df = spark.createDataFrame(rows, "lang STRING, item BIGINT").repartition(3)
    cfg = CMSConfig(epsilon=0.1, delta=0.1, seed=9)
    out = {r["group"]: r for r in cms_grouped(df, "lang", "item", cfg).collect()}
    assert set(out) == {"en", "de"}
    assert out["en"]["rows_seen"] == 3 and out["de"]["rows_seen"] == 3
    en = cfg.from_bytes(bytes(out["en"]["sketch"]))
    de = cfg.from_bytes(bytes(out["de"]["sketch"]))
    assert en.total == 3 and de.total == 3
    exp = cfg.new_sketch()
    exp.update_batch(np.array([1, 1, 3]))
    assert en.to_bytes() == exp.to_bytes()


def test_grouped_sketches_skip_nulls(spark):
    rows = [("en", 1), (None, 2), ("en", None), ("de", 5), (None, None)]
    df = spark.createDataFrame(rows, "lang STRING, item BIGINT").repartition(2)
    cfg = CMSConfig(epsilon=0.1, delta=0.1, seed=9)
    out = {r["group"]: r for r in cms_grouped(df, "lang", "item", cfg).collect()}
    assert set(out) == {"en", "de"}
    assert out["en"]["rows_seen"] == 1 and out["de"]["rows_seen"] == 1
    totals = {g: cfg.from_bytes(bytes(r["sketch"])).total for g, r in out.items()}
    assert totals == {"en": 1, "de": 1}


def test_weighted_cms_path_rejects_negative_weights(spark):
    df = spark.createDataFrame([(1, 2), (2, -3)], "item BIGINT, cnt BIGINT")
    with pytest.raises(Exception, match="negative weights"):
        build_cms(df, "item", CFG, weight_col="cnt")


def test_merge_partials_large_fanin(spark, items_df):
    df, items = items_df
    partials = cms_partials(df.repartition(32), "item", CFG)
    sk = merge_partials(partials, CFG)
    assert np.array_equal(sk.table, expected_sketch(items).table)


@pytest.mark.parametrize("parts", [8, 32])
def test_multi_level_fanin_equals_sequential(spark, items_df, monkeypatch, parts):
    """A fan-in of 2 turns 8 and 32 partials into 3 and 5 mapInArrow merge
    levels: the sketch must still equal the sequential build bit for bit."""
    from parallel_count_min_sketch_spark.operators import sketch_agg

    monkeypatch.setattr(sketch_agg, "FANIN", 2)
    df, items = items_df
    got = build_cms(df.repartition(parts), "item", CFG)
    exp = expected_sketch(items)
    assert got.total == exp.total
    assert got.to_bytes() == exp.to_bytes()


def test_small_build_is_one_job_without_rdd(spark, monkeypatch):
    """Up to FANIN partials, the merge is the collect of the partial
    kernel's own job: no Python RDD, no second job."""
    from pyspark.sql import functions as F

    df = spark.range(0, 20000, 1, 8).select((F.col("id") * 7919 % 5000).alias("item"))
    exp = CFG.new_sketch()
    exp.update_batch(np.arange(20000, dtype=np.int64) * 7919 % 5000)

    def no_rdd(self):
        raise AssertionError("the sketch merge must not use DataFrame.rdd")

    monkeypatch.setattr(type(df), "rdd", property(no_rdd))
    sc = spark.sparkContext
    group = "test-small-build-one-job"
    sc.setJobGroup(group, group)
    try:
        got = build_cms(df, "item", CFG)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert got.to_bytes() == exp.to_bytes()


def test_merge_partials_of_no_rows_is_zero_sketch(spark, items_df):
    df, _ = items_df
    partials = cms_partials(df, "item", CFG).filter("rows_seen < 0")
    assert merge_partials(partials, CFG).to_bytes() == CFG.new_sketch().to_bytes()


@pytest.mark.parametrize("name", [
    "cms_url_host_counts", "host_skew_stats", "lsh_bucket_stats",
])
def test_round3_queries_match_duckdb_oracle(spark, sf_dir, name):
    """The round-3 contract queries (URL-host CMS counts — the north
    star's 'token AND URL-host counts' — plus the skew and LSH-cap
    diagnostics) must match their DuckDB oracles value-for-value: the
    same gate the driver applies, run here at sf0.001."""
    import duckdb

    from parallel_count_min_sketch_spark.plans import all_oracles, all_queries

    got = [tuple(r) for r in all_queries()[name](spark, sf_dir).collect()]
    duck = duckdb.connect()
    duck.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    want = duck.sql(all_oracles()[name]).fetchall()
    duck.close()
    assert got == want
    assert len(got) > 0
    if name == "cms_url_host_counts":
        # one-sided CMS guarantee holds per host
        assert all(est >= exact for _h, exact, est in got)
