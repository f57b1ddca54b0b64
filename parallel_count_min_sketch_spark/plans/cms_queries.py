"""Driver-contract CMS queries with exact DuckDB oracle mirrors.

Each Spark query has a DuckDB SQL twin that replays the *identical* integer
hash arithmetic (constants baked in from the seeded config), so the
correctness gate checks sketch VALUES, not just row counts. This is the
Spark-era analog of the reference printing exact oracle counters next to
estimates (src/mpi/mpiV2.c:185-192).

Conventions:
- items: ``lineitem.l_partkey`` (integer domain, like the reference's uint32
  items); tokens: whitespace-split ``documents.text`` (djb2 -> int domain,
  cms_update_str analog).
- empty tokens are filtered BEFORE hashing on both sides (Spark's
  sequence(1,0) is descending, not empty).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import CMSConfig, djb2_sql_duckdb
from ..operators.agg import build_cms
from ..operators.sketch_agg import planned, probe_cms, sort_bounded
from ..operators.sql_build import cms_table_df, point_query_df
from ..sources.tables import load, load_spread

CFG = CMSConfig(epsilon=0.001, delta=0.1, seed=12345)  # reference defaults -> 3 x 2719

PROBE_ITEMS = [1, 25, 123, 456, 777, 1500, 999_999]
RANGE_LO, RANGE_HI = 100, 110  # the reference's hard-coded oracle range
TOKEN_PROBES = ["spark", "key", "query", "table", "zzz_missing_token"]
HH_FRACTION = 0.02


# --------------------------------------------------------------------------
# DuckDB oracle SQL builders
# --------------------------------------------------------------------------

def _duck_buckets_cte(item_sql: str, cfg: CMSConfig = CFG, weight_sql: str = "1") -> str:
    """CTE producing the non-zero sketch counters from an `ids` relation
    with column item_id."""
    parts = [
        f"SELECT {j} AS depth_row, {cfg.bucket_sql(j, 'item_id')} AS bucket, "
        f"CAST(SUM({weight_sql}) AS BIGINT) AS counter FROM ids GROUP BY 2"
        for j in range(cfg.depth)
    ]
    return " UNION ALL ".join(parts)


def _duck_probe_buckets(cfg: CMSConfig = CFG) -> str:
    """From a `probes(item, item_id)` relation -> (item, depth_row, bucket)."""
    parts = [
        f"SELECT item, {j} AS depth_row, {cfg.bucket_sql(j, 'item_id')} AS bucket FROM probes"
        for j in range(cfg.depth)
    ]
    return " UNION ALL ".join(parts)


_DUCK_TOKENS = (
    "SELECT tok FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) WHERE tok <> ''"
)


def _duck_point_query_sql(ids_sql: str, probes_sql: str, cfg: CMSConfig = CFG) -> str:
    return f"""
WITH ids AS ({ids_sql}),
probes AS ({probes_sql}),
buckets AS ({_duck_buckets_cte('item_id', cfg)}),
probe_buckets AS ({_duck_probe_buckets(cfg)})
SELECT p.item AS item, CAST(MIN(COALESCE(b.counter, 0)) AS BIGINT) AS cms_estimate
FROM probe_buckets p LEFT JOIN buckets b USING (depth_row, bucket)
GROUP BY p.item ORDER BY p.item
"""


# --------------------------------------------------------------------------
# Query pairs: (spark_fn(spark, sf_dir) -> DataFrame, duckdb_sql or None)
# --------------------------------------------------------------------------

def q_cms_sketch_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full sketch matrix over lineitem.l_partkey — checks every counter
    the distributed build produces against SQL group-by semantics."""
    li = load(spark, sf_dir, "lineitem")
    return cms_table_df(li, "l_partkey", CFG).orderBy("depth_row", "bucket")


SQL_CMS_SKETCH_TABLE = f"""
WITH ids AS (SELECT CAST(l_partkey AS BIGINT) AS item_id FROM lineitem)
SELECT CAST(depth_row AS INT) AS depth_row, bucket, counter
FROM ({_duck_buckets_cte('item_id')})
ORDER BY depth_row, bucket
"""


def q_cms_point_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return point_query_df(li, "l_partkey", CFG, PROBE_ITEMS).orderBy("item")


SQL_CMS_POINT_QUERY = _duck_point_query_sql(
    "SELECT CAST(l_partkey AS BIGINT) AS item_id FROM lineitem",
    "SELECT item, item AS item_id FROM (VALUES "
    + ", ".join(f"(CAST({x} AS BIGINT))" for x in PROBE_ITEMS)
    + ") AS v(item)",
)


def q_cms_range_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive O(range) range query (reference semantics,
    src/core/count_min_sketch.c:47-53): sum of point estimates over
    [100, 110] on the l_partkey sketch."""
    li = load(spark, sf_dir, "lineitem")
    pts = point_query_df(li, "l_partkey", CFG, list(range(RANGE_LO, RANGE_HI + 1)))
    return pts.agg(F.sum("cms_estimate").alias("range_sum"))


SQL_CMS_RANGE_QUERY = f"""
WITH ids AS (SELECT CAST(l_partkey AS BIGINT) AS item_id FROM lineitem),
probes AS (SELECT CAST(item AS BIGINT) AS item, CAST(item AS BIGINT) AS item_id
           FROM range({RANGE_LO}, {RANGE_HI + 1}) t(item)),
buckets AS ({_duck_buckets_cte('item_id')}),
probe_buckets AS ({_duck_probe_buckets()}),
pts AS (
  SELECT p.item, MIN(COALESCE(b.counter, 0)) AS est
  FROM probe_buckets p LEFT JOIN buckets b USING (depth_row, bucket)
  GROUP BY p.item
)
SELECT CAST(SUM(est) AS BIGINT) AS range_sum FROM pts
"""


def q_cms_inner_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimate |lineitem ⋈ orders on partkey=custkey-ish| —
    cms_inner_product analog (src/core/count_min_sketch.c:65-83) between
    the l_partkey sketch and the p_partkey sketch (same config => valid)."""
    li = load(spark, sf_dir, "lineitem")
    pa_ = load(spark, sf_dir, "part")
    ta = cms_table_df(li, "l_partkey", CFG).withColumnRenamed("counter", "ca")
    tb = cms_table_df(pa_, "p_partkey", CFG).withColumnRenamed("counter", "cb")
    per_row = (
        ta.join(tb, ["depth_row", "bucket"])  # missing buckets are zero products
        .groupBy("depth_row")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    return per_row.agg(F.min("dot").alias("inner_product"))


SQL_CMS_INNER_PRODUCT = f"""
WITH ids_a AS (SELECT CAST(l_partkey AS BIGINT) AS item_id FROM lineitem),
ids_b AS (SELECT CAST(p_partkey AS BIGINT) AS item_id FROM part),
ba AS (WITH ids AS (SELECT * FROM ids_a) SELECT * FROM ({_duck_buckets_cte('item_id')})),
bb AS (WITH ids AS (SELECT * FROM ids_b) SELECT * FROM ({_duck_buckets_cte('item_id')})),
dots AS (
  SELECT ba.depth_row, SUM(ba.counter * bb.counter) AS dot
  FROM ba JOIN bb USING (depth_row, bucket)
  GROUP BY ba.depth_row
)
SELECT CAST(MIN(dot) AS BIGINT) AS inner_product FROM dots
"""


def _token_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    # load_spread: parallelism floor for the single-split fixture files
    # (sources/tables.load_spread; guide §2/§6) — the explode + hash
    # aggregate map side otherwise runs on one core
    docs = load_spread(spark, sf_dir, "documents", "text")
    return docs.select(F.explode(F.split("text", " ")).alias("tok")).filter(F.col("tok") != "")


def _token_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(distinct token, n) rows: the JVM hash aggregate every string-item
    sketch build reads, so only distinct tokens cross the Arrow boundary.
    Weighted by n, the build equals the per-occurrence one bit for bit
    (cms_update_int's count argument, src/core/count_min_sketch.c:5-11)."""
    return _token_df(spark, sf_dir).groupBy("tok").agg(F.count("*").alias("n"))


def q_cms_token_point_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String path: djb2(token) -> point query (cms_update_str /
    cms_point_query_str analog, src/core/count_min_sketch.c:24-27,42-45).
    Eager phase: the weighted sketch build; the five probes are answered
    on the driver, in sorted order, so the result is a local relation that
    needs no Spark job."""
    import pyarrow as pa

    sk = build_cms(_token_pairs(spark, sf_dir), "tok", CFG, weight_col="n",
                   string_items=True)
    probes = sorted(TOKEN_PROBES)
    return spark.createDataFrame(pa.table({
        "item": pa.array(probes, pa.string()),
        "cms_estimate": pa.array(sk.point_query_strings(probes), pa.int64()),
    }))


SQL_CMS_TOKEN_POINT_QUERY = _duck_point_query_sql(
    f"SELECT {djb2_sql_duckdb('tok')} AS item_id FROM ({_DUCK_TOKENS})",
    "SELECT tok AS item, " + djb2_sql_duckdb("tok") + " AS item_id FROM (VALUES "
    + ", ".join(f"('{t}')" for t in TOKEN_PROBES)
    + ") AS v(tok)",
)


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters: exact-distinct candidate set, CMS estimates, keep
    est >= floor(HH_FRACTION * N). Not in the reference (SURVEY §2.8) —
    the north-star addition, cross-checkable exactly.

    Eager phase: the weighted sketch build over the (token, n) aggregate
    (two jobs under AQE: the aggregate's exchange, run by ``planned``, then
    the build). The threshold is the oracle's IEEE expression on the
    sketch's total; the distinct tokens are probed by the numpy kernel in
    ``probe_cms`` over the same planned aggregate, so ``documents`` is
    scanned once. The result is at most 1/HH_FRACTION true hitters plus
    CMS false positives, sorted in one partition: the collect runs two
    jobs (the probe, then the sort)."""
    pairs = planned(_token_pairs(spark, sf_dir))
    sk = build_cms(pairs, "tok", CFG, weight_col="n", string_items=True)
    thresh = int(math.floor(float(HH_FRACTION) * sk.total))
    hitters = (
        probe_cms(pairs.select("tok"), sk, "tok")
        .filter(F.col("cms_estimate") >= thresh)
        .select(F.col("tok").alias("token"), "cms_estimate")
    )
    return sort_bounded(hitters, F.desc("cms_estimate"), "token")


SQL_CMS_HEAVY_HITTERS = f"""
WITH toks AS ({_DUCK_TOKENS}),
n AS (SELECT COUNT(*) AS n FROM toks),
ids AS (SELECT {djb2_sql_duckdb('tok')} AS item_id FROM toks),
probes AS (SELECT tok AS item, {djb2_sql_duckdb('tok')} AS item_id FROM (SELECT DISTINCT tok FROM toks)),
buckets AS ({_duck_buckets_cte('item_id')}),
probe_buckets AS ({_duck_probe_buckets()}),
pts AS (
  SELECT p.item, MIN(COALESCE(b.counter, 0)) AS est
  FROM probe_buckets p LEFT JOIN buckets b USING (depth_row, bucket)
  GROUP BY p.item
)
SELECT item AS token, CAST(est AS BIGINT) AS cms_estimate
FROM pts, n
WHERE est >= CAST(FLOOR(CAST({HH_FRACTION!r} AS DOUBLE) * n.n) AS BIGINT)
ORDER BY est DESC, token
"""


def q_cms_weighted_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sketch build from a pre-aggregated shape: counter[j][k] =
    sum of l_quantity over items hashing there (cms_update_int with count
    argument, src/core/count_min_sketch.c:5-11) — the production path for
    (item, count) inputs, driver-gated on every counter."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", F.col("l_quantity").cast("bigint").alias("qty"))
    return cms_table_df(li, "l_partkey", CFG, weight_col="qty") \
        .orderBy("depth_row", "bucket")


SQL_CMS_WEIGHTED_BUILD = f"""
WITH ids AS (SELECT CAST(l_partkey AS BIGINT) AS item_id,
                    CAST(l_quantity AS BIGINT) AS qty FROM lineitem)
SELECT CAST(depth_row AS INT) AS depth_row, bucket, counter
FROM ({_duck_buckets_cte('item_id', weight_sql='qty')})
ORDER BY depth_row, bucket
"""


TREND_HORIZON_DAYS = 20
TREND_TOP = 20


def q_trending_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted (exponentially decayed) heavy hitters — the
    "trending now" query a monitoring pipeline runs over the event stream.
    Each event carries weight 2^(HORIZON - age_days) (integer bit-shift, so
    the decayed CMS build and the DuckDB oracle agree bit-for-bit; events
    older than HORIZON days contribute nothing), the weighted sketch is the
    standard cms_update_int count argument (reference
    src/core/count_min_sketch.c:5-11 — decay is just a weight), and the
    top-K users are ranked by their decayed CMS estimate next to the exact
    decayed mass.

    Scale shape: one-row MAX(day) broadcast (never a driver round-trip),
    weighted build shuffles at most depth*width rows per partition, probe
    side reuses the broadcast point_query_join, final top-K is
    TakeOrderedAndProject."""
    ev = load(spark, sf_dir, "events").select(
        F.col("user_id").cast("bigint").alias("uid"),
        F.to_date("ts").alias("day"))
    ref = ev.agg(F.max("day").alias("ref_day"))
    w = (
        ev.crossJoin(F.broadcast(ref))
        .withColumn("age", F.datediff("ref_day", "day"))
        .filter(F.col("age") <= TREND_HORIZON_DAYS)
        .select("uid", F.expr(
            f"shiftleft(CAST(1 AS BIGINT), {TREND_HORIZON_DAYS} - age)"
        ).alias("w_fp"))
    )
    table = cms_table_df(w, "uid", CFG, weight_col="w_fp")
    exact = w.groupBy("uid").agg(F.sum("w_fp").alias("exact_decayed"))
    from ..operators.sql_build import point_query_join

    ests = point_query_join(table, exact.select("uid"), "uid", CFG) \
        .withColumnRenamed("item", "uid") \
        .withColumnRenamed("cms_estimate", "cms_decayed_estimate")
    out = exact.join(ests, "uid") \
        .select(F.col("uid").alias("user_id"), "exact_decayed",
                "cms_decayed_estimate")
    return out.orderBy(F.desc("cms_decayed_estimate"), F.asc("user_id")) \
        .limit(TREND_TOP)


SQL_TRENDING_USERS = f"""
WITH ev AS (SELECT CAST(user_id AS BIGINT) AS uid, CAST(ts AS DATE) AS day
            FROM events),
ref AS (SELECT MAX(day) AS ref_day FROM ev),
wts AS (SELECT uid,
               (CAST(1 AS BIGINT) << ({TREND_HORIZON_DAYS}
                 - datediff('day', day, ref_day))) AS w_fp
        FROM ev, ref
        WHERE datediff('day', day, ref_day) <= {TREND_HORIZON_DAYS}),
ids AS (SELECT uid AS item_id, w_fp FROM wts),
buckets AS ({_duck_buckets_cte('item_id', weight_sql='w_fp')}),
exact AS (SELECT uid, CAST(SUM(w_fp) AS BIGINT) AS exact_decayed
          FROM wts GROUP BY uid),
probes AS (SELECT uid AS item, uid AS item_id FROM exact),
probe_buckets AS ({_duck_probe_buckets()}),
pts AS (
  SELECT p.item, MIN(COALESCE(b.counter, 0)) AS est
  FROM probe_buckets p LEFT JOIN buckets b USING (depth_row, bucket)
  GROUP BY p.item)
SELECT e.uid AS user_id, e.exact_decayed,
       CAST(pts.est AS BIGINT) AS cms_decayed_estimate
FROM exact e JOIN pts ON pts.item = e.uid
ORDER BY cms_decayed_estimate DESC, user_id ASC LIMIT {TREND_TOP}
"""


def q_exact_oracle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's embedded exact oracles (items 123, 456, range
    [100,110]; src/mpi/mpiV2.c:131-140) as one exact aggregation."""
    li = load(spark, sf_dir, "lineitem").select("l_partkey")
    return li.agg(
        F.sum(F.when(F.col("l_partkey") == 123, 1).otherwise(0)).alias("cnt_123"),
        F.sum(F.when(F.col("l_partkey") == 456, 1).otherwise(0)).alias("cnt_456"),
        F.sum(
            F.when((F.col("l_partkey") >= RANGE_LO) & (F.col("l_partkey") <= RANGE_HI), 1).otherwise(0)
        ).alias("cnt_range"),
    )


SQL_EXACT_ORACLE_COUNTS = f"""
SELECT
  CAST(SUM(CASE WHEN l_partkey = 123 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_123,
  CAST(SUM(CASE WHEN l_partkey = 456 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_456,
  CAST(SUM(CASE WHEN l_partkey BETWEEN {RANGE_LO} AND {RANGE_HI} THEN 1 ELSE 0 END) AS BIGINT) AS cnt_range
FROM lineitem
"""


def q_exact_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ground-truth frequency table (frequency_counter.py analog,
    reference scripts/frequency_counter.py:3-23)."""
    toks = _token_df(spark, sf_dir)
    return toks.groupBy(F.col("tok").alias("token")).agg(F.count("*").alias("cnt")).orderBy("token")


SQL_EXACT_TOKEN_COUNTS = f"""
SELECT tok AS token, COUNT(*) AS cnt FROM ({_DUCK_TOKENS}) GROUP BY tok ORDER BY tok
"""


def q_cms_heavy_hitters_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path heavy hitters: per-partition candidate tracking + CMS
    prune + exact recount of the tiny surviving set. The output is the
    EXACT heavy-hitter set (partition-invariant), so the oracle checks it
    value-for-value: exact counts via GROUP BY, estimates via hash replay."""
    from ..operators.heavy_hitters import heavy_hitters_scalable

    docs = load_spread(spark, sf_dir, "documents", "text")
    return heavy_hitters_scalable(docs, "text", CFG, HH_FRACTION)


SQL_CMS_HEAVY_HITTERS_SCALABLE = f"""
WITH toks AS ({_DUCK_TOKENS}),
n AS (SELECT COUNT(*) AS n FROM toks),
counts AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_count FROM toks GROUP BY tok),
hh AS (
  SELECT tok, exact_count FROM counts, n
  WHERE exact_count >= CAST(FLOOR(CAST({HH_FRACTION!r} AS DOUBLE) * n.n) AS BIGINT)
),
ids AS (SELECT {djb2_sql_duckdb('tok')} AS item_id FROM toks),
probes AS (SELECT tok AS item, {djb2_sql_duckdb('tok')} AS item_id FROM hh),
buckets AS ({_duck_buckets_cte('item_id')}),
probe_buckets AS ({_duck_probe_buckets()}),
pts AS (
  SELECT p.item, MIN(COALESCE(b.counter, 0)) AS est
  FROM probe_buckets p LEFT JOIN buckets b USING (depth_row, bucket)
  GROUP BY p.item
)
SELECT hh.tok AS token, hh.exact_count, CAST(pts.est AS BIGINT) AS cms_estimate
FROM hh JOIN pts ON pts.item = hh.tok
ORDER BY hh.exact_count DESC, token
"""


def q_cms_url_host_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-host frequency via CMS — the north star's 'token and URL-host
    counts' companion to the token queries. Synthesizes the web-page url
    shape from ``documents`` (deterministic: https://{source}.example/doc/
    {doc_id}), extracts the host JVM-side (operators/skew.host_of_url
    regex), builds the sketch weighted from the exact (host, count)
    aggregate, and reports CMS estimate vs exact count per host through
    the numpy probe kernel. Hosts are low-cardinality and heavy by
    construction, so this is the skewed-key regime the engine's
    salting/two-phase rails target. Eager phase: the sketch build over
    the planned (host, count) aggregate, which the probe reads again
    without a second scan; one row per host, sorted in one partition."""
    from ..operators.skew import host_of_url

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    pages = docs.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example/doc/"),
                 F.col("doc_id").cast("string")).alias("url"))
    # a NULL host has no sketch cell; the oracle's inner join drops it
    hosts = pages.select(host_of_url("url").alias("host")) \
        .filter(F.col("host").isNotNull())
    exact = planned(hosts.groupBy("host").agg(F.count("*").alias("exact_count")))
    sk = build_cms(exact, "host", CFG, weight_col="exact_count",
                   string_items=True)
    return sort_bounded(probe_cms(exact, sk, "host"), "host")


SQL_CMS_URL_HOST_COUNTS = f"""
WITH pages AS (
  SELECT 'https://' || source || '.example/doc/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
),
hosts AS (
  SELECT regexp_extract(url, '^[a-z]+://([^/]+)/', 1) AS host FROM pages
),
exact AS (SELECT host, CAST(COUNT(*) AS BIGINT) AS exact_count FROM hosts GROUP BY host),
ids AS (SELECT {djb2_sql_duckdb('host')} AS item_id FROM hosts),
probes AS (SELECT host AS item, {djb2_sql_duckdb('host')} AS item_id FROM exact),
buckets AS ({{BUCKETS}}),
probe_buckets AS ({{PROBE_BUCKETS}}),
pts AS (
  SELECT p.item, MIN(COALESCE(b.counter, 0)) AS est
  FROM probe_buckets p LEFT JOIN buckets b USING (depth_row, bucket)
  GROUP BY p.item
)
SELECT e.host, e.exact_count, CAST(pts.est AS BIGINT) AS cms_estimate
FROM exact e JOIN pts ON pts.item = e.host
ORDER BY e.host
""".replace("{BUCKETS}", _duck_buckets_cte("item_id")) \
   .replace("{PROBE_BUCKETS}", _duck_probe_buckets())


def q_host_skew_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """skew_stats over the synthesized URL-host stream — the diagnostic
    that decides when salted repartitioning is needed (operators/skew).
    Deterministic top-10 (count desc, host asc tie-break); share in basis
    points with double arithmetic replayed by the oracle."""
    from ..operators.skew import host_of_url, skew_stats

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    pages = docs.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example/doc/"),
                 F.col("doc_id").cast("string")).alias("url"))
    hosts = pages.select(host_of_url("url").alias("host"))
    return skew_stats(hosts, "host", top=10).withColumnRenamed("count", "n_rows")


SQL_HOST_SKEW_STATS = """
WITH pages AS (
  SELECT 'https://' || source || '.example/doc/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
),
hosts AS (
  SELECT regexp_extract(url, '^[a-z]+://([^/]+)/', 1) AS host FROM pages
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM hosts),
counts AS (SELECT host, CAST(COUNT(*) AS BIGINT) AS n_rows FROM hosts GROUP BY host)
SELECT host, n_rows,
       CAST(FLOOR(n_rows * CAST(10000 AS DOUBLE) / tot.n) AS BIGINT) AS share_bp
FROM counts, tot
ORDER BY n_rows DESC, host
LIMIT 10
"""


def q_cms_accuracy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's accuracy report (test_cms_accuracy,
    src/core/count_min_sketch.c:226-241 — avg/max abs error, % exact,
    % within eps*N) as a queryable one-row aggregate over ALL distinct
    items. Integer-exact numerators/denominators (sum_abs_err/n_distinct
    is the avg; n_exact/n_distinct and n_within_eps/n_distinct the
    percentages) so DuckDB replays it value-for-value; CMS one-sidedness
    makes est - exact the abs error."""
    from ..operators.sql_build import cms_table_df as _tbl, point_query_join

    li = load(spark, sf_dir, "lineitem").select("l_partkey")
    # one-row broadcast (N, eps*N), not an eager count() job
    stream = li.agg(F.count("*").alias("stream_n")).withColumn(
        "eps_n", F.expr(
            f"CAST(FLOOR(CAST({CFG.epsilon!r} AS DOUBLE) * stream_n) AS BIGINT)"))
    table = _tbl(li, "l_partkey", CFG)
    exact = li.groupBy(F.col("l_partkey").cast("bigint").alias("item")) \
        .agg(F.count("*").alias("exact_cnt"))
    ests = point_query_join(table, exact.select("item"), "item", CFG)
    err = F.col("cms_estimate") - F.col("exact_cnt")
    return ests.join(exact, "item").crossJoin(F.broadcast(stream)).agg(
        F.count("*").alias("n_distinct"),
        F.sum(err).alias("sum_abs_err"),
        F.max(err).alias("max_abs_err"),
        F.sum(F.when(err == 0, 1).otherwise(0)).cast("bigint").alias("n_exact"),
        F.sum(F.when(err <= F.col("eps_n"), 1).otherwise(0)).cast("bigint")
        .alias("n_within_eps"),
        F.max("stream_n").cast("bigint").alias("stream_n"),
        F.max("eps_n").alias("eps_n"),
    )


SQL_CMS_ACCURACY_REPORT = f"""
WITH ids AS (SELECT CAST(l_partkey AS BIGINT) AS item_id FROM lineitem),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ids),
epsn AS (SELECT CAST(FLOOR(CAST({CFG.epsilon!r} AS DOUBLE) * n.n) AS BIGINT) AS v FROM n),
exact AS (SELECT item_id AS item, CAST(COUNT(*) AS BIGINT) AS exact_cnt
          FROM ids GROUP BY 1),
probes AS (SELECT item, item AS item_id FROM exact),
buckets AS ({_duck_buckets_cte('item_id')}),
probe_buckets AS ({_duck_probe_buckets()}),
pts AS (
  SELECT p.item, MIN(COALESCE(b.counter, 0)) AS est
  FROM probe_buckets p LEFT JOIN buckets b USING (depth_row, bucket)
  GROUP BY p.item
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(SUM(pts.est - e.exact_cnt) AS BIGINT) AS sum_abs_err,
       CAST(MAX(pts.est - e.exact_cnt) AS BIGINT) AS max_abs_err,
       CAST(SUM(CASE WHEN pts.est = e.exact_cnt THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN pts.est - e.exact_cnt <= epsn.v THEN 1 ELSE 0 END) AS BIGINT) AS n_within_eps,
       CAST(MAX(n.n) AS BIGINT) AS stream_n,
       CAST(MAX(epsn.v) AS BIGINT) AS eps_n
FROM pts JOIN exact e USING (item), n, epsn
"""


def q_stream_batch_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming parity as a driver-gated contract: the document
    corpus is staged as multiple parquet files and streamed (availableNow,
    maxFilesPerTrigger=1 so several micro-batches really occur) into a
    sketch store (``streaming/stream_rollup.start_sketch_stream``), each
    micro-batch writing its token CMS under ``batch_id=N`` and one
    constant bucket. The store's fold is compared BYTE-FOR-BYTE against
    the one-shot batch build over the same rows. Output columns are all
    oracle-replayable: total token mass and the djb2('key') point estimate
    are exact SQL arithmetic; the equality booleans are TRUE by the merge-
    associativity contract (reference src/mpi/mpiV2.c:163-175 — the same
    element-wise merge, applied per micro-batch instead of per rank). The
    query stops its stream and removes its temp dir in ``finally``."""
    import os
    import shutil
    import tempfile
    from functools import partial

    import numpy as np
    import pyarrow as pa

    from ..operators.agg import build_cms_from_text
    from ..sketches.hashing import djb2_py
    from ..streaming.stream_rollup import start_sketch_stream, token_sketch

    docs = load(spark, sf_dir, "documents").select("text")
    tmp = tempfile.mkdtemp(prefix="pcms_stream_parity_")
    q = None
    try:
        src = os.path.join(tmp, "incoming")
        docs.repartition(4).write.parquet(src)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        mk, fb = CFG.new_sketch, CFG.from_bytes
        q, store = start_sketch_stream(
            stream, partial(token_sketch, text_col="text", make_sketch=mk,
                            from_bytes=fb),
            os.path.join(tmp, "store"), mk, fb, os.path.join(tmp, "ckpt"))
        if not q.awaitTermination(300):
            raise TimeoutError("stream did not drain within 300s")
        n_batches = store.read(spark).select("batch_id").distinct().count()
        sk = store.fold(spark)
        batch_sk = build_cms_from_text(docs, "text", CFG)
        est_key = int(sk.point_query(
            np.array([djb2_py("key")], dtype=np.int64))[0])
        row = pa.table({
            "total_tokens": pa.array([int(sk.total)], pa.int64()),
            "est_key": pa.array([est_key], pa.int64()),
            "stream_equals_batch": [sk.to_bytes() == batch_sk.to_bytes()],
            "multi_batch": [n_batches >= 2],
        })
    finally:
        if q is not None:
            q.stop()
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(row)


def _sql_stream_batch_parity() -> str:
    from ..sketches.hashing import djb2_py

    key_id = int(djb2_py("key"))
    return f"""
WITH toks AS ({_DUCK_TOKENS}),
ids AS (SELECT {djb2_sql_duckdb('tok')} AS item_id FROM toks),
probes AS (SELECT 'key' AS item, CAST({key_id} AS BIGINT) AS item_id),
buckets AS ({_duck_buckets_cte('item_id')}),
probe_buckets AS ({_duck_probe_buckets()}),
pts AS (
  SELECT p.item, MIN(COALESCE(b.counter, 0)) AS est
  FROM probe_buckets p LEFT JOIN buckets b USING (depth_row, bucket)
  GROUP BY p.item
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM toks) AS total_tokens,
       CAST(pts.est AS BIGINT) AS est_key,
       TRUE AS stream_equals_batch,
       TRUE AS multi_batch
FROM pts
"""


MG_K = 512  # Misra-Gries capacity; needs k+1 > 1/HH_FRACTION (=50)


def q_mg_frequent_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent tokens via a distributed Misra-Gries summary
    (operators/heavy_hitters.mg_frequent_tokens): deterministic, hash-free
    alternative to the CMS heavy-hitter path. One summary-build scan
    (<= MG_K pairs of merged state), error-bound candidate prune, one
    exact recount scan — output is the EXACT frequent set at
    floor(HH_FRACTION * N) plus the summary's bound check (TRUE by the MG
    invariant), so the plain GROUP BY oracle checks it value-for-value."""
    from ..operators.heavy_hitters import mg_frequent_tokens

    docs = load_spread(spark, sf_dir, "documents", "text")
    return mg_frequent_tokens(docs, "text", MG_K, HH_FRACTION)


SQL_MG_FREQUENT_TOKENS = f"""
WITH toks AS ({_DUCK_TOKENS}),
n AS (SELECT COUNT(*) AS n FROM toks),
counts AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_count FROM toks GROUP BY tok)
SELECT tok AS token, exact_count, TRUE AS mg_bound_ok
FROM counts, n
WHERE exact_count >= CAST(FLOOR(CAST({HH_FRACTION!r} AS DOUBLE) * n.n) AS BIGINT)
ORDER BY exact_count DESC, token
"""


def q_mg_grouped_frequent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-LANGUAGE frequent tokens via one Misra-Gries summary per group
    on the grouped rails (bounded per-(partition, group) partials;
    executor-side candidate finalize — zero summary bytes on the driver;
    one recount scan applying each group's own floor(phi * N_group)
    threshold). Output = the exact per-group frequent set; the oracle is
    a per-group GROUP BY."""
    from ..operators.heavy_hitters import mg_grouped_frequent_tokens

    docs = load(spark, sf_dir, "documents")
    return mg_grouped_frequent_tokens(docs, "lang", "text", MG_K, HH_FRACTION)


SQL_MG_GROUPED_FREQUENT = f"""
WITH toks AS (
  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
t AS (SELECT lang, tok FROM toks WHERE tok <> ''),
n AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_g FROM t GROUP BY lang),
c AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS exact_count
      FROM t GROUP BY 1, 2)
SELECT c.lang, c.tok AS token, c.exact_count, TRUE AS mg_bound_ok
FROM c JOIN n USING (lang)
WHERE c.exact_count >= CAST(FLOOR(CAST({HH_FRACTION!r} AS DOUBLE) * n.n_g) AS BIGINT)
ORDER BY c.lang, c.exact_count DESC, token
"""


ROLLUP_CFG = CMSConfig(epsilon=0.005, delta=0.1, seed=2024)  # 3 x 544 per day
ROLLUP_LO, ROLLUP_HI = "2024-01-08", "2024-01-21"  # 14 of the 30 fixture days
ROLLUP_PROBES = [0, 1, 2, 7, 49, 999_983]  # present + absent user ids


def q_cms_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed sketch rollup (operators/rollup.py): one CMS per DAY of
    events.user_id built in a single scan on the grouped rails, then a
    [2024-01-08, 2024-01-21] range query answered by merging ONLY the 14
    covered KB-sized bucket sketches — never rescanning the events rows.
    CMS linearity makes the merged sketch bit-identical to a direct build
    over the date-filtered rows (tested in test_rollup.py), so the DuckDB
    oracle replays the estimates exactly from the filtered rows. This is
    the materialized-rollup pattern a 100-TB time-series store relies on:
    query cost scales with days covered, not corpus size."""
    import numpy as np

    from ..operators.rollup import rollup_range_collect, sketch_time_buckets

    ev = load(spark, sf_dir, "events").select("ts", "user_id")
    # r6: only the queried day range feeds the build — day sketches are
    # independent (groupBy day), so the in-range bucket sketches are
    # bit-identical and the out-of-range ones were dead work for this
    # query's output (guide §1.2: don't compute things you throw away;
    # the production store builds all days ONCE, amortized across
    # queries — this query times one build+query round trip)
    ev = ev.filter(
        (F.col("ts").cast("date") >= F.lit(ROLLUP_LO).cast("date"))
        & (F.col("ts").cast("date") <= F.lit(ROLLUP_HI).cast("date")))
    # distinct-first build: groupBy(day, user) count JVM-side, then one
    # weighted Arrow row per distinct pair — bit-identical to the
    # per-occurrence plan (test_pre_aggregate_rollup_build_is_bit_identical)
    buckets = sketch_time_buckets(
        ev, "ts", "user_id", ROLLUP_CFG.new_sketch, ROLLUP_CFG.from_bytes,
        pre_aggregate=True
    )
    # ONE job — collect the <= span-many KB day blobs and fold driver-side
    rows, sk = rollup_range_collect(
        buckets, ROLLUP_LO, ROLLUP_HI, ROLLUP_CFG.from_bytes)
    sel_days = len(rows)
    if sk is None:
        sk = ROLLUP_CFG.new_sketch()
    probes = np.array(ROLLUP_PROBES, dtype=np.int64)
    ests = sk.point_query(probes)
    rows = [
        (int(u), int(e), sel_days, int(sk.total))
        for u, e in zip(ROLLUP_PROBES, ests)
    ]
    return spark.createDataFrame(
        rows, "user_id BIGINT, est BIGINT, n_buckets BIGINT, range_events BIGINT"
    ).orderBy("user_id")


def q_stream_rollup_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-maintained rollup store parity as a driver-gated contract
    (the streaming twin of ``stream_batch_parity``, for the ROLLUP store):
    the events table is staged as multiple parquet files and drained
    through ``streaming/stream_rollup.start_sketch_stream`` (availableNow,
    maxFilesPerTrigger=1 so several micro-batches really occur) into a
    sketch store keyed by ``(batch_id, bucket)``, each micro-batch
    writing idempotent per-day CMS partials. The
    [ROLLUP_LO, ROLLUP_HI] range fold over the stream-maintained store,
    over its compacted one-row-per-day form (``stream_rollup.compact``),
    and over a one-shot batch rollup of the same rows must all be
    BYTE-IDENTICAL — that is the associativity contract that lets a
    stream maintain the store incrementally. Output columns are
    oracle-replayable: the range event count and the user-49 point
    estimate are exact SQL arithmetic over the date-filtered rows; the
    equality booleans are TRUE by the merge contract; multi_batch proves
    the stream really split. The query stops its stream and removes its
    temp dir in ``finally``."""
    import os
    import shutil
    import tempfile
    from functools import partial

    import numpy as np
    import pyarrow as pa

    from ..operators.rollup import sketch_rollup_range, sketch_time_buckets
    from ..streaming.stream_rollup import compact, start_sketch_stream

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    tmp = tempfile.mkdtemp(prefix="pcms_rollup_parity_")
    q = None
    try:
        src = os.path.join(tmp, "incoming")
        ev.repartition(4).write.parquet(src)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        mk, fb = ROLLUP_CFG.new_sketch, ROLLUP_CFG.from_bytes
        q, store = start_sketch_stream(
            stream, partial(sketch_time_buckets, ts_col="ts",
                            item_col="user_id", make_sketch=mk,
                            from_bytes=fb),
            os.path.join(tmp, "store"), mk, fb, os.path.join(tmp, "ckpt"))
        if not q.awaitTermination(300):
            raise TimeoutError("rollup stream did not drain within 300s")

        n_batches = store.read(spark).select("batch_id").distinct().count()
        in_range = F.col("bucket").between(ROLLUP_LO, ROLLUP_HI)
        sk_stream = store.fold(spark, in_range)
        compacted = compact(store, spark, os.path.join(tmp, "compacted"))
        sk_compact = compacted.fold(spark, in_range)
        sk_batch = sketch_rollup_range(
            sketch_time_buckets(ev, "ts", "user_id", mk, fb),
            ROLLUP_LO, ROLLUP_HI, mk, fb)
        est49 = int(sk_stream.point_query(
            np.array([49], dtype=np.int64))[0])
        row = pa.table({
            "range_events": pa.array([int(sk_stream.total)], pa.int64()),
            "est_user49": pa.array([est49], pa.int64()),
            "stream_equals_batch": [sk_stream.to_bytes() == sk_batch.to_bytes()],
            "compacted_equals_batch": [sk_compact.to_bytes() == sk_batch.to_bytes()],
            "multi_batch": [n_batches >= 2],
        })
    finally:
        if q is not None:
            q.stop()
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(row)


def _sql_stream_rollup_parity() -> str:
    in_range = (
        f"CAST(ts AS DATE) BETWEEN DATE '{ROLLUP_LO}' AND DATE '{ROLLUP_HI}' "
        "AND ts IS NOT NULL AND user_id IS NOT NULL"
    )
    return f"""
WITH ids AS (SELECT user_id AS item_id FROM events WHERE {in_range}),
probes AS (SELECT CAST(49 AS BIGINT) AS item, CAST(49 AS BIGINT) AS item_id),
buckets AS ({_duck_buckets_cte('item_id', ROLLUP_CFG)}),
probe_buckets AS ({_duck_probe_buckets(ROLLUP_CFG)}),
meta AS (SELECT CAST(COUNT(*) AS BIGINT) AS range_events
         FROM events WHERE {in_range})
SELECT m.range_events,
       CAST(MIN(COALESCE(b.counter, 0)) AS BIGINT) AS est_user49,
       TRUE AS stream_equals_batch,
       TRUE AS compacted_equals_batch,
       TRUE AS multi_batch
FROM probe_buckets p LEFT JOIN buckets b USING (depth_row, bucket), meta m
GROUP BY m.range_events
"""


def _sql_cms_time_rollup() -> str:
    probe_vals = ", ".join(f"({u})" for u in ROLLUP_PROBES)
    in_range = (
        f"CAST(ts AS DATE) BETWEEN DATE '{ROLLUP_LO}' AND DATE '{ROLLUP_HI}' "
        "AND ts IS NOT NULL AND user_id IS NOT NULL"
    )
    return f"""
WITH ids AS (SELECT user_id AS item_id FROM events WHERE {in_range}),
probes AS (SELECT CAST(v AS BIGINT) AS item, CAST(v AS BIGINT) AS item_id
           FROM (VALUES {probe_vals}) t(v)),
buckets AS ({_duck_buckets_cte('item_id', ROLLUP_CFG)}),
probe_buckets AS ({_duck_probe_buckets(ROLLUP_CFG)}),
meta AS (
  SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_buckets,
         CAST(COUNT(*) AS BIGINT) AS range_events
  FROM events WHERE {in_range}
)
SELECT p.item AS user_id, CAST(MIN(COALESCE(b.counter, 0)) AS BIGINT) AS est,
       CAST(MAX(m.n_buckets) AS BIGINT) AS n_buckets,
       CAST(MAX(m.range_events) AS BIGINT) AS range_events
FROM probe_buckets p LEFT JOIN buckets b USING (depth_row, bucket), meta m
GROUP BY p.item ORDER BY p.item
"""


OVERLAP_DAY_A, OVERLAP_DAY_B = "2024-01-10", "2024-01-11"


def q_rollup_day_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day co-activity FROM THE ROLLUP STORE: the CMS inner
    product (reference src/core/count_min_sketch.c:65-83) of two DAY
    sketches estimates sum_u n_A(u)*n_B(u) — the join-size / repeat-
    audience mass between two days — without touching per-user rows at
    query time: in the store regime the two operands are KB-sized blobs
    merged straight off the rollup store, so the marginal cost of EVERY
    further day pair is microseconds (cf. BENCH/parity.json inner-product
    latency), while each exact answer is a corpus-scale join. The exact
    twin is computed alongside (one co-partitioned user equi-join) so the
    oracle gates both numbers and the CMS one-sided overestimate
    guarantee (est >= exact, by the same min-of-row-dots argument as the
    point query)."""
    from ..operators.rollup import sketch_time_buckets

    ev = load(spark, sf_dir, "events").select("ts", "user_id")
    # only the two compared days feed the build (day sketches are
    # independent — identical in-range sketches, 2/30 of the day work),
    # and BOTH day blobs come back in ONE collect folded driver-side
    ev = ev.filter(
        (F.to_date("ts") == F.lit(OVERLAP_DAY_A).cast("date"))
        | (F.to_date("ts") == F.lit(OVERLAP_DAY_B).cast("date")))
    buckets = sketch_time_buckets(
        ev, "ts", "user_id", ROLLUP_CFG.new_sketch, ROLLUP_CFG.from_bytes,
        pre_aggregate=True)
    lo = min(OVERLAP_DAY_A, OVERLAP_DAY_B)
    hi = max(OVERLAP_DAY_A, OVERLAP_DAY_B)
    blob_rel = (
        buckets.filter((F.col("bucket") >= F.lit(lo))
                       & (F.col("bucket") <= F.lit(hi)))
        .select(F.lit("blob").alias("kind"), "bucket", "sketch",
                F.lit(None).cast("long").alias("x")))

    def per_user(day: str):
        return (ev.filter(F.col("ts").isNotNull()
                          & F.col("user_id").isNotNull()
                          & (F.to_date("ts") == F.lit(day).cast("date")))
                .groupBy("user_id").agg(F.count("*").alias("n")))

    # r6 follow-up: the two day blobs AND the exact inner-product scalar
    # come back in ONE union action (both relations are bounded: two KB
    # blob rows + one scalar row), instead of two sequential collects
    exact_rel = (
        per_user(OVERLAP_DAY_A).withColumnRenamed("n", "na")
        .join(per_user(OVERLAP_DAY_B).withColumnRenamed("n", "nb"), "user_id")
        .agg(F.coalesce(F.sum(F.col("na") * F.col("nb")), F.lit(0))
             .alias("x"))
        .select(F.lit("exact").alias("kind"),
                F.lit(None).cast("string").alias("bucket"),
                F.lit(None).cast("binary").alias("sketch"), "x"))
    day_blobs: dict = {}
    exact = 0
    for r in blob_rel.unionByName(exact_rel).collect():
        if r["kind"] == "blob":
            day_blobs[r["bucket"]] = bytes(r["sketch"])
        else:
            exact = int(r["x"])

    def _day_sk(day: str):
        blob = day_blobs.get(day)
        return (ROLLUP_CFG.from_bytes(blob) if blob is not None
                else ROLLUP_CFG.new_sketch())

    ska, skb = _day_sk(OVERLAP_DAY_A), _day_sk(OVERLAP_DAY_B)
    est = int(ska.inner_product(skb))
    return spark.createDataFrame(
        [(OVERLAP_DAY_A, OVERLAP_DAY_B, est, exact, est >= exact)],
        "day_a STRING, day_b STRING, est_inner BIGINT, exact_inner BIGINT, "
        "overestimates BOOLEAN")


def _sql_rollup_day_overlap() -> str:
    def ids(day: str) -> str:
        return (f"SELECT user_id AS item_id FROM events "
                f"WHERE CAST(ts AS DATE) = DATE '{day}' "
                "AND ts IS NOT NULL AND user_id IS NOT NULL")

    def exact(day: str) -> str:
        return (f"SELECT user_id, COUNT(*) AS n FROM events "
                f"WHERE CAST(ts AS DATE) = DATE '{day}' "
                "AND user_id IS NOT NULL GROUP BY 1")

    # the depth-row spine keeps the MIN faithful to the kernel, which mins
    # over ALL d rows: a depth row with NO overlapping nonzero buckets has
    # dot = 0, and an inner-join-only dots CTE would silently drop it
    # (kernel est 0 vs oracle min-of-positive-dots mismatch on sparse days)
    return f"""
WITH ba AS (WITH ids AS ({ids(OVERLAP_DAY_A)})
            SELECT * FROM ({_duck_buckets_cte('item_id', ROLLUP_CFG)})),
bb AS (WITH ids AS ({ids(OVERLAP_DAY_B)})
       SELECT * FROM ({_duck_buckets_cte('item_id', ROLLUP_CFG)})),
spine AS (SELECT s.depth_row FROM range(0, {ROLLUP_CFG.depth}) s(depth_row)),
joined AS (SELECT ba.depth_row, SUM(ba.counter * bb.counter) AS dot
           FROM ba JOIN bb USING (depth_row, bucket) GROUP BY 1),
dots AS (SELECT s.depth_row, COALESCE(j.dot, 0) AS dot
         FROM spine s LEFT JOIN joined j USING (depth_row)),
ex AS (SELECT COALESCE(SUM(a.n * b.n), 0) AS x
       FROM ({exact(OVERLAP_DAY_A)}) a JOIN ({exact(OVERLAP_DAY_B)}) b
       USING (user_id))
SELECT '{OVERLAP_DAY_A}' AS day_a, '{OVERLAP_DAY_B}' AS day_b,
       CAST(MIN(dots.dot) AS BIGINT) AS est_inner,
       CAST(MAX(ex.x) AS BIGINT) AS exact_inner,
       CAST(MIN(dots.dot) AS BIGINT) >= CAST(MAX(ex.x) AS BIGINT) AS overestimates
FROM dots, ex
"""


MG_ROLLUP_PHI = 0.008  # windowed frequent-user threshold (fraction of N)


def q_mg_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed heavy hitters FROM THE ROLLUP STORE — the query a 100-TB
    time-series store actually asks ("top users between Jan 8 and 21"):
    one Misra-Gries summary per DAY of events.user_id on the grouped
    rails, the range answered by merging only the covered KB-sized
    summaries (mergeable-summaries guarantee: decrement bounds ADD across
    merges, so any item with windowed count > offset_total survives),
    then candidates recounted EXACTLY over the date-filtered rows.
    Output = the exact frequent-user set at floor(phi * N_window) with
    the per-user MG sandwich check (lower <= exact <= lower + offset,
    TRUE by the summary invariant) — value-replayable by a plain
    date-filtered GROUP BY oracle. A loud raise (never a silently
    incomplete set) if the merged decrement bound cannot certify the
    threshold. Day summaries build once; query cost scales with days
    covered, not corpus size."""
    from functools import partial

    from ..operators.heavy_hitters import _mg_from_bytes
    from ..operators.rollup import rollup_range_collect, sketch_time_buckets
    from ..sketches.misra_gries import MisraGries

    ev = load(spark, sf_dir, "events").select("ts", "user_id")
    # r6: only the queried window feeds the build (day summaries are
    # independent; the recount below already filters to the window)
    ev = ev.filter(
        (F.col("ts").cast("date") >= F.lit(ROLLUP_LO).cast("date"))
        & (F.col("ts").cast("date") <= F.lit(ROLLUP_HI).cast("date")))
    # distinct-first: MG consumes (item, count) natively; the OUTPUT stays
    # deterministic (exact recount above a certified threshold) even
    # though summary bytes depend on arrival grouping
    buckets = sketch_time_buckets(ev, "ts", "user_id",
                                  partial(MisraGries, MG_K), _mg_from_bytes,
                                  pre_aggregate=True)
    # r6: ONE job — collect the day summaries (<= span-many KB blobs)
    # and fold driver-side in bucket order (rollup_range_collect). The
    # merged BYTES can differ from the old tree order, but candidate
    # coverage and the decrement bound hold for ANY merge order, and the
    # output is the exact recount — value-identical (the operator's own
    # documented arrival-grouping caveat).
    _rows, mg = rollup_range_collect(buckets, ROLLUP_LO, ROLLUP_HI,
                                     _mg_from_bytes)
    if mg is None:
        mg = MisraGries(MG_K)
    n = int(mg.n_total)
    thresh = int(MG_ROLLUP_PHI * n)
    offset = int(mg.error_bound())
    if n > 0 and offset >= max(thresh, 1):
        raise ValueError(
            f"merged Misra-Gries (k={MG_K}) cannot certify threshold "
            f"{thresh} over [{ROLLUP_LO}, {ROLLUP_HI}] (decrement bound "
            f"{offset}); increase k")
    keep = (mg.counts + offset) >= thresh
    cand = spark.createDataFrame(
        [(int(i), int(c)) for i, c in zip(mg.items[keep], mg.counts[keep])],
        "user_id LONG, mg_lower LONG",
    )
    win = ev.filter(
        (F.col("ts").cast("date") >= F.lit(ROLLUP_LO).cast("date"))
        & (F.col("ts").cast("date") <= F.lit(ROLLUP_HI).cast("date"))
        & F.col("user_id").isNotNull()
    )
    exact = (
        win.join(F.broadcast(cand), "user_id")
        .groupBy("user_id", "mg_lower")
        .agg(F.count(F.lit(1)).alias("win_count"))
        .filter(F.col("win_count") >= thresh)
    )
    return exact.select(
        "user_id", "win_count",
        ((F.col("win_count") >= F.col("mg_lower"))
         & (F.col("win_count") <= F.col("mg_lower") + F.lit(offset)))
        .alias("mg_bound_ok"),
    ).orderBy(F.desc("win_count"), F.asc("user_id"))


def _sql_mg_time_rollup() -> str:
    in_range = (
        f"CAST(ts AS DATE) BETWEEN DATE '{ROLLUP_LO}' AND DATE '{ROLLUP_HI}' "
        "AND ts IS NOT NULL AND user_id IS NOT NULL"
    )
    return f"""
WITH w AS (SELECT user_id FROM events WHERE {in_range}),
n AS (SELECT COUNT(*) AS n FROM w),
c AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS win_count
      FROM w GROUP BY user_id)
SELECT c.user_id, c.win_count, TRUE AS mg_bound_ok
FROM c, n
WHERE c.win_count >= CAST(FLOOR(CAST({MG_ROLLUP_PHI!r} AS DOUBLE) * n.n)
                          AS BIGINT)
ORDER BY c.win_count DESC, c.user_id
"""


CMS_QUERIES = {
    "trending_users": (q_trending_users, SQL_TRENDING_USERS),
    "cms_time_rollup": (q_cms_time_rollup, _sql_cms_time_rollup()),
    "rollup_day_overlap": (q_rollup_day_overlap, _sql_rollup_day_overlap()),
    "mg_time_rollup": (q_mg_time_rollup, _sql_mg_time_rollup()),
    "cms_heavy_hitters_scalable": (q_cms_heavy_hitters_scalable, SQL_CMS_HEAVY_HITTERS_SCALABLE),
    "mg_frequent_tokens": (q_mg_frequent_tokens, SQL_MG_FREQUENT_TOKENS),
    "mg_grouped_frequent": (q_mg_grouped_frequent, SQL_MG_GROUPED_FREQUENT),
    "stream_batch_parity": (q_stream_batch_parity, _sql_stream_batch_parity()),
    "stream_rollup_parity": (q_stream_rollup_parity, _sql_stream_rollup_parity()),
    "cms_accuracy_report": (q_cms_accuracy_report, SQL_CMS_ACCURACY_REPORT),
    "cms_sketch_table": (q_cms_sketch_table, SQL_CMS_SKETCH_TABLE),
    "cms_weighted_build": (q_cms_weighted_build, SQL_CMS_WEIGHTED_BUILD),
    "cms_point_query": (q_cms_point_query, SQL_CMS_POINT_QUERY),
    "cms_range_query": (q_cms_range_query, SQL_CMS_RANGE_QUERY),
    "cms_inner_product": (q_cms_inner_product, SQL_CMS_INNER_PRODUCT),
    "cms_token_point_query": (q_cms_token_point_query, SQL_CMS_TOKEN_POINT_QUERY),
    "cms_url_host_counts": (q_cms_url_host_counts, SQL_CMS_URL_HOST_COUNTS),
    "host_skew_stats": (q_host_skew_stats, SQL_HOST_SKEW_STATS),
    "cms_heavy_hitters": (q_cms_heavy_hitters, SQL_CMS_HEAVY_HITTERS),
    "exact_oracle_counts": (q_exact_oracle_counts, SQL_EXACT_ORACLE_COUNTS),
    "exact_token_counts": (q_exact_token_counts, SQL_EXACT_TOKEN_COUNTS),
}
