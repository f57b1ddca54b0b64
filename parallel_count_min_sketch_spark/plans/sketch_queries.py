"""Driver-contract queries for HLL / Bloom / KLL / t-digest.

Where the sketch state is integer-exact (HLL registers, Bloom membership)
the DuckDB oracle replays the hash math bit-for-bit. Float estimators
(HLL cardinality, quantiles) are rows-only here and accuracy-tested in
pytest against exact answers — the driver records the weaker check for
those, by design.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import affine_sql, cubic_sql
from ..operators.sketch_agg import build_sketch
from ..sketches.bloom import BloomFilter
from ..sketches.countsketch import CountSketch
from ..sketches.hll import HyperLogLog
from ..sketches.kll import KLLSketch
from ..sketches.kmv import KMVSketch
from ..sketches.tdigest import TDigest
from ..sources.tables import load, load_spread

HLL_PRECISION = 12
HLL_SEED = 77
BLOOM_SEED = 99
BLOOM_EXPECTED = 20_000
BLOOM_FPP = 0.01
BLOOM_PROBES = [1, 2, 3, 123, 456, 10_001, 999_999, 123_456_789]
QUANTS = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
KLL_K = 200
KLL_SEED = 5
TD_COMPRESSION = 200.0


def _mk_hll():
    return HyperLogLog(HLL_PRECISION, HLL_SEED)


# module-level wrappers: pickled by reference (a bound classmethod would be
# serialized by value and trips over module-level struct.Struct constants)
def _hll_from_bytes(b):
    return HyperLogLog.from_bytes(b)


def _bloom_from_bytes(b):
    return BloomFilter.from_bytes(b)


def _kll_from_bytes(b):
    return KLLSketch.from_bytes(b)


def _td_from_bytes(b):
    return TDigest.from_bytes(b)


def _mk_kll():
    return KLLSketch(KLL_K, KLL_SEED)


def _mk_td():
    return TDigest(TD_COMPRESSION)


def q_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Arrow-kernel HLL build over lineitem.l_partkey; returns
    the non-zero registers — integer state, checked exactly vs SQL."""
    li = load(spark, sf_dir, "lineitem")
    sk = build_sketch(li, "l_partkey", _mk_hll, _hll_from_bytes)
    nz = np.flatnonzero(sk.registers)
    rows = [(int(b), int(sk.registers[b])) for b in nz]
    return spark.createDataFrame(rows, "bucket BIGINT, register BIGINT").orderBy("bucket")


def _hll_sql() -> str:
    hll = _mk_hll()
    a, b = hll.a, hll.b
    h1 = affine_sql(int(a[0]), int(b[0]), "item_id")
    h2 = affine_sql(int(a[1]), int(b[1]), "item_id")
    return f"""
WITH ids AS (SELECT CAST(l_partkey AS BIGINT) AS item_id FROM lineitem),
hashed AS (SELECT {h1} AS h1, {h2} AS h2 FROM ids),
regs AS (
  SELECT h1 % {hll.m} AS bucket,
         CASE WHEN h2 = 0 THEN 32
              ELSE CAST(log2(h2 & -h2) AS BIGINT) + 1 END AS rho
  FROM hashed
)
SELECT bucket, CAST(MAX(rho) AS BIGINT) AS register
FROM regs GROUP BY bucket ORDER BY bucket
"""


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL cardinality, fully oracle-checked: the DuckDB twin replays the
    registers exactly, rebuilds the estimator from the integer-exact scaled
    inverse sum (see HyperLogLog.estimate_portable), and recomputes the
    error-bound boolean — every output column is deterministic arithmetic
    over state both engines derive independently."""
    import math

    li = load(spark, sf_dir, "lineitem")
    sk = build_sketch(li, "l_partkey", _mk_hll, _hll_from_bytes)
    exact = li.select("l_partkey").distinct().count()
    s, v, est = sk.estimate_portable()
    thr = 5 * (1.04 / math.sqrt(sk.m))
    ok = abs(est - float(exact)) / float(exact) < thr
    return spark.createDataFrame(
        [(int(exact), int(v), int(s), int(math.floor(est)), bool(ok))],
        "exact_distinct BIGINT, zero_registers BIGINT, scaled_inverse_sum BIGINT, "
        "est_floor BIGINT, within_bound BOOLEAN",
    )


def _hll_pipeline_sql(ids_select: str) -> tuple[str, float]:
    """Shared DuckDB replay of the HLL register pipeline (hash pair →
    rho → per-bucket MAX register → scaled inverse sum → bias-corrected
    estimate with the linear-counting branch). Returns the CTE block
    (``WITH ids AS (...) ... est AS (...)``, where ``ids_select`` must
    expose an ``item_id`` column) plus the relative-error threshold, so
    every oracle replaying the estimator shares ONE copy of the math —
    a fix lands everywhere at once. CAST every float literal: DuckDB
    parses bare decimal literals as DECIMAL, whose fixed-point multiply
    overflows (and rounds differently than the IEEE doubles the Spark
    side uses)."""
    import math

    from ..sketches.hll import HLL_SCALE_BITS, _alpha

    hll = _mk_hll()
    m = hll.m
    a, b = hll.a, hll.b
    h1 = affine_sql(int(a[0]), int(b[0]), "item_id")
    h2 = affine_sql(int(a[1]), int(b[1]), "item_id")
    alpha = _alpha(m)
    scale = float(1 << HLL_SCALE_BITS)
    thr = 5 * (1.04 / math.sqrt(m))
    raw = (f"(CAST({alpha!r} AS DOUBLE) * {m * m} * CAST({scale!r} AS DOUBLE) / s)")
    block = f"""
WITH ids AS ({ids_select}),
hashed AS (SELECT {h1} AS h1, {h2} AS h2 FROM ids),
regs AS (
  SELECT h1 % {m} AS bucket,
         CASE WHEN h2 = 0 THEN 32
              ELSE CAST(log2(h2 & -h2) AS BIGINT) + 1 END AS rho
  FROM hashed
),
reg_table AS (SELECT bucket, MAX(rho) AS register FROM regs GROUP BY bucket),
stats AS (
  SELECT CAST({m} - COUNT(*) AS BIGINT) AS v,
         CAST(COALESCE(SUM(CAST(1 AS BIGINT) << ({HLL_SCALE_BITS} - register)), 0)
              + ({m} - COUNT(*)) * (CAST(1 AS BIGINT) << {HLL_SCALE_BITS}) AS BIGINT) AS s
  FROM reg_table
),
est AS (
  SELECT s, v,
         CASE WHEN {raw} <= CAST({2.5 * m!r} AS DOUBLE) AND v > 0
              THEN CAST({float(m)!r} AS DOUBLE) * ln(CAST({float(m)!r} AS DOUBLE) / v)
              ELSE {raw} END AS e
  FROM stats
)"""
    return block, thr


def _hll_distinct_sql() -> str:
    block, thr = _hll_pipeline_sql(
        "SELECT CAST(l_partkey AS BIGINT) AS item_id FROM lineitem")
    return f"""{block},
exact AS (SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_distinct FROM lineitem)
SELECT exact.exact_distinct, est.v AS zero_registers, est.s AS scaled_inverse_sum,
       CAST(FLOOR(est.e) AS BIGINT) AS est_floor,
       (abs(est.e - exact.exact_distinct) / exact.exact_distinct
        < CAST({thr!r} AS DOUBLE)) AS within_bound
FROM est, exact
"""


def q_hll_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-users-over-a-date-range from a materialized per-day HLL
    rollup (operators/rollup.sketch_time_buckets): the union-merge
    counterpart of cms_time_rollup. Day buckets partition the event rows,
    and HLL's register-max merge is idempotent, so merging ONLY the
    covered KB-sized day sketches yields EXACTLY the registers of a
    direct build over the date-filtered rows (tested bit-equal in
    test_rollup.py) — the DuckDB oracle therefore replays the estimator
    from the filtered rows. Query cost scales with days covered, not
    corpus size; per-day distinct-user sketches answer any range's
    unique-visitor question without rescanning — the second pillar
    (COUNT DISTINCT) of a hypertable rollup store next to the CMS's
    frequency pillar."""
    import math

    from .cms_queries import ROLLUP_HI, ROLLUP_LO
    from ..operators.rollup import sketch_rollup_range, sketch_time_buckets

    ev = load(spark, sf_dir, "events")
    # distinct-first (pre_aggregate): Catalyst collapses per-day repeats
    # JVM-side; bit-identical for HLL's 'invariant' weighted protocol
    # (test_generic_rollup_pre_aggregate_bit_identical_for_hll)
    buckets = sketch_time_buckets(ev, "ts", "user_id", _mk_hll,
                                  _hll_from_bytes,
                                  pre_aggregate=True).persist()
    try:
        n_buckets = int(
            buckets.filter(
                (F.col("bucket") >= ROLLUP_LO) & (F.col("bucket") <= ROLLUP_HI)
            ).count()
        )
        sk = sketch_rollup_range(buckets, ROLLUP_LO, ROLLUP_HI, _mk_hll,
                                 _hll_from_bytes)
    finally:
        buckets.unpersist()
    exact = (
        ev.filter(
            (F.col("ts").cast("date").cast("string") >= ROLLUP_LO)
            & (F.col("ts").cast("date").cast("string") <= ROLLUP_HI)
            & F.col("user_id").isNotNull()
        )
        .select("user_id").distinct().count()
    )
    s, v, est = sk.estimate_portable()
    thr = 5 * (1.04 / math.sqrt(sk.m))
    ok = exact > 0 and abs(est - float(exact)) / float(exact) < thr
    return spark.createDataFrame(
        [(n_buckets, int(exact), int(v), int(s), int(math.floor(est)), bool(ok))],
        "n_buckets BIGINT, exact_distinct BIGINT, zero_registers BIGINT, "
        "scaled_inverse_sum BIGINT, est_floor BIGINT, within_bound BOOLEAN",
    )


def _hll_time_rollup_sql() -> str:
    from .cms_queries import ROLLUP_HI, ROLLUP_LO

    in_range = (
        f"CAST(ts AS DATE) BETWEEN DATE '{ROLLUP_LO}' AND DATE '{ROLLUP_HI}' "
        "AND ts IS NOT NULL AND user_id IS NOT NULL"
    )
    block, thr = _hll_pipeline_sql(
        f"SELECT CAST(user_id AS BIGINT) AS item_id, CAST(ts AS DATE) AS d\n"
        f"             FROM events WHERE {in_range}")
    return f"""{block},
meta AS (
  SELECT CAST(COUNT(DISTINCT d) AS BIGINT) AS n_buckets,
         CAST(COUNT(DISTINCT item_id) AS BIGINT) AS exact_distinct
  FROM ids
)
SELECT meta.n_buckets, meta.exact_distinct, est.v AS zero_registers,
       est.s AS scaled_inverse_sum, CAST(FLOOR(est.e) AS BIGINT) AS est_floor,
       (meta.exact_distinct > 0 AND
        abs(est.e - meta.exact_distinct) / meta.exact_distinct
        < CAST({thr!r} AS DOUBLE)) AS within_bound
FROM est, meta
"""


SLIDE_WINDOW_DAYS = 7


def q_hll_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING distinct users from the per-day HLL rollup store — the
    dashboard query ("7-day active users, daily") the store exists for:
    for each day D in the [ROLLUP_LO+6, ROLLUP_HI] span, union-merge the
    ≤7 covered KB-sized day sketches off the store (built ONCE, one
    corpus pass) and report the estimate next to the exact
    COUNT(DISTINCT). Marginal cost per additional window is a handful of
    register-max merges — no event rescan; the exact twin pays one
    day-spine join per window. The oracle replays the full register
    pipeline PER WINDOW (grouped by window day, same single-copy hash
    math as the other HLL oracles)."""
    import datetime as _dt
    import math

    from .cms_queries import ROLLUP_HI, ROLLUP_LO
    from ..operators.sketch_agg import sketch_grouped

    ev = load(spark, sf_dir, "events").select("ts", "user_id")
    # r6: every window day lies in [ROLLUP_LO, ROLLUP_HI], so only that
    # span feeds the build AND the exact twin (d >= win_day-6 >= LO);
    # day sketches are independent — in-range state bit-identical
    ev = ev.filter(
        (F.col("ts").cast("date") >= F.lit(ROLLUP_LO).cast("date"))
        & (F.col("ts").cast("date") <= F.lit(ROLLUP_HI).cast("date")))
    # r6: ONE distinct (day, user) relation serves BOTH the HLL build and
    # the exact twin — HLL registers are duplicate-invariant, so building
    # from the distinct pairs is state-identical to the pre_aggregate
    # (day, user, count) build, and the exact twin's du.distinct() was
    # the same shuffle run a second time (guide §2.4).
    pairs = (
        ev.filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(F.col("ts").cast("date").cast("string").alias("d"),
                "user_id")
        .distinct().localCheckpoint()
    )
    buckets = sketch_grouped(
        pairs.withColumnRenamed("d", "__bucket"), "__bucket", "user_id",
        _mk_hll, _hll_from_bytes,
    ).withColumnRenamed("group", "bucket")
    lo_d = _dt.date.fromisoformat(ROLLUP_LO)
    hi_d = _dt.date.fromisoformat(ROLLUP_HI)
    win_days = [lo_d + _dt.timedelta(days=i + SLIDE_WINDOW_DAYS - 1)
                for i in range((hi_d - lo_d).days - SLIDE_WINDOW_DAYS + 2)]
    spine = spark.createDataFrame([(d.isoformat(),) for d in win_days],
                                  "win_day STRING")
    # ONE job pulls every covered day blob AND the exact per-window counts
    # (r6: the two consumer collects are fused into a single union action
    # over the checkpointed pairs, so their stages run inside one job —
    # both relations are bounded: ≤ span-many KB blob rows + one row per
    # window). The 8 window merges are then driver-side register-max
    # folds, microseconds each, instead of 8 filter+treeReduce Spark jobs
    # (measured 10.2 s -> the buckets build alone). Same .merge() calls,
    # so the state is identical.
    bsel = buckets.filter(
        (F.col("bucket") >= ROLLUP_LO) & (F.col("bucket") <= ROLLUP_HI)
    ).select(F.lit("blob").alias("kind"), F.col("bucket").alias("k"),
             "sketch", F.lit(None).cast("long").alias("n"))
    esel = (
        pairs.join(
            F.broadcast(spine),
            (F.col("d") <= F.col("win_day"))
            & (F.col("d") >= F.date_sub(F.col("win_day").cast("date"),
                                        SLIDE_WINDOW_DAYS - 1).cast("string")))
        .groupBy("win_day").agg(F.countDistinct("user_id").alias("n"))
        .select(F.lit("exact").alias("kind"), F.col("win_day").alias("k"),
                F.lit(None).cast("binary").alias("sketch"), "n")
    )
    day_sk: dict = {}
    exact: dict = {}
    for r in bsel.unionByName(esel).collect():
        if r["kind"] == "blob":
            sk = _hll_from_bytes(bytes(r["sketch"]))
            prev = day_sk.get(r["k"])
            day_sk[r["k"]] = prev.merge(sk) if prev is not None else sk
        else:
            exact[r["k"]] = r["n"]

    def window_merge(d: _dt.date):
        out = _mk_hll()
        for i in range(SLIDE_WINDOW_DAYS):
            day = (d - _dt.timedelta(days=i)).isoformat()
            if day in day_sk:
                out = out.merge(day_sk[day])
        return out

    merged = {d: window_merge(d) for d in win_days}
    thr = 5 * (1.04 / math.sqrt(_mk_hll().m))
    rows = []
    for d in win_days:
        s, v, est = merged[d].estimate_portable()
        ex = int(exact.get(d.isoformat(), 0))
        ok = ex > 0 and abs(est - float(ex)) / float(ex) < thr
        rows.append((d.isoformat(), ex, int(v), int(s),
                     int(math.floor(est)), bool(ok)))
    return spark.createDataFrame(
        rows,
        "day STRING, exact_distinct BIGINT, zero_registers BIGINT, "
        "scaled_inverse_sum BIGINT, est_floor BIGINT, within_bound BOOLEAN",
    ).orderBy("day")


def _hll_sliding_window_sql() -> str:
    import math

    from .cms_queries import ROLLUP_HI, ROLLUP_LO
    from ..sketches.hll import HLL_SCALE_BITS, _alpha

    hll = _mk_hll()
    m = hll.m
    a, b = hll.a, hll.b
    h1 = affine_sql(int(a[0]), int(b[0]), "item_id")
    h2 = affine_sql(int(a[1]), int(b[1]), "item_id")
    alpha = _alpha(m)
    scale = float(1 << HLL_SCALE_BITS)
    thr = 5 * (1.04 / math.sqrt(m))
    raw = f"(CAST({alpha!r} AS DOUBLE) * {m * m} * CAST({scale!r} AS DOUBLE) / s)"
    w = SLIDE_WINDOW_DAYS
    return f"""
WITH spine AS (
  SELECT DATE '{ROLLUP_LO}' + CAST(s.i + {w - 1} AS INTEGER) AS win_day
  FROM range(0, datediff('day', DATE '{ROLLUP_LO}', DATE '{ROLLUP_HI}') - {w} + 2) s(i)
),
ids AS (
  SELECT CAST(user_id AS BIGINT) AS item_id, CAST(ts AS DATE) AS d
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
    AND CAST(ts AS DATE) BETWEEN DATE '{ROLLUP_LO}' AND DATE '{ROLLUP_HI}'
),
win AS (
  SELECT w.win_day, i.item_id FROM spine w
  JOIN ids i ON i.d BETWEEN w.win_day - {w - 1} AND w.win_day
),
hashed AS (SELECT win_day, {h1} AS h1, {h2} AS h2 FROM win),
regs AS (
  SELECT win_day, h1 % {m} AS bucket,
         CASE WHEN h2 = 0 THEN 32
              ELSE CAST(log2(h2 & -h2) AS BIGINT) + 1 END AS rho
  FROM hashed
),
reg_table AS (SELECT win_day, bucket, MAX(rho) AS register FROM regs GROUP BY 1, 2),
stats AS (
  SELECT win_day, CAST({m} - COUNT(*) AS BIGINT) AS v,
         CAST(SUM(CAST(1 AS BIGINT) << ({HLL_SCALE_BITS} - register))
              + ({m} - COUNT(*)) * (CAST(1 AS BIGINT) << {HLL_SCALE_BITS}) AS BIGINT) AS s
  FROM reg_table GROUP BY win_day
),
exact AS (
  SELECT w.win_day, CAST(COUNT(DISTINCT i.item_id) AS BIGINT) AS exact_distinct
  FROM spine w JOIN ids i ON i.d BETWEEN w.win_day - {w - 1} AND w.win_day
  GROUP BY w.win_day
),
est AS (
  SELECT win_day, s, v,
         CASE WHEN {raw} <= CAST({2.5 * m!r} AS DOUBLE) AND v > 0
              THEN CAST({float(m)!r} AS DOUBLE) * ln(CAST({float(m)!r} AS DOUBLE) / v)
              ELSE {raw} END AS e
  FROM stats
)
SELECT CAST(x.win_day AS VARCHAR) AS day, x.exact_distinct,
       est.v AS zero_registers, est.s AS scaled_inverse_sum,
       CAST(FLOOR(est.e) AS BIGINT) AS est_floor,
       (x.exact_distinct > 0 AND
        abs(est.e - x.exact_distinct) / x.exact_distinct
        < CAST({thr!r} AS DOUBLE)) AS within_bound
FROM exact x JOIN est USING (win_day)
ORDER BY day
"""


def _mk_bloom():
    return BloomFilter(BLOOM_EXPECTED, BLOOM_FPP, seed=BLOOM_SEED)


def q_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter over part.p_partkey probed with a fixed id list —
    membership bits replayed exactly by the SQL oracle."""
    part = load(spark, sf_dir, "part")
    bf = build_sketch(part, "p_partkey", _mk_bloom, _bloom_from_bytes)
    member = bf.contains_batch(np.array(BLOOM_PROBES, dtype=np.int64))
    rows = [(int(x), bool(m)) for x, m in zip(BLOOM_PROBES, member)]
    return spark.createDataFrame(rows, "item BIGINT, member BOOLEAN").orderBy("item")


def _bloom_sql() -> str:
    bf = _mk_bloom()
    pos_exprs = [
        f"SELECT item, {affine_sql(int(bf.a[j]), int(bf.b[j]), 'item_id')} % {bf.m} AS pos FROM probes"
        for j in range(bf.k)
    ]
    ins_exprs = [
        f"SELECT {affine_sql(int(bf.a[j]), int(bf.b[j]), 'item_id')} % {bf.m} AS pos FROM ids"
        for j in range(bf.k)
    ]
    probes = ", ".join(f"(CAST({x} AS BIGINT))" for x in BLOOM_PROBES)
    return f"""
WITH ids AS (SELECT CAST(p_partkey AS BIGINT) AS item_id FROM part),
probes AS (SELECT item, item AS item_id FROM (VALUES {probes}) AS v(item)),
set_bits AS (SELECT DISTINCT pos FROM ({' UNION ALL '.join(ins_exprs)})),
probe_pos AS ({' UNION ALL '.join(pos_exprs)})
SELECT p.item AS item,
       (COUNT(*) FILTER (WHERE s.pos IS NOT NULL) = {bf.k}) AS member
FROM probe_pos p LEFT JOIN set_bits s USING (pos)
GROUP BY p.item ORDER BY p.item
"""


KLL_RANK_EPS = 0.05  # merged-build bound asserted in tests/test_sketches_kernels.py
TD_RANK_EPS = 0.02


def _quantile_query(spark: SparkSession, sf_dir: str, mk, from_bytes,
                    eps: float) -> DataFrame:
    """Shared shape for the quantile-sketch contract queries: every output
    column is either exact data arithmetic the DuckDB oracle replays
    bit-for-bit (n, inverse-CDF discrete quantile — actual data values, no
    interpolation) or the sketch's rank-error guarantee evaluated against
    the exact distribution (|rank(est) - q| <= eps, TRUE by contract)."""
    from ..operators.quantiles import exact_discrete_quantiles, exact_ranks_of_values

    li = load(spark, sf_dir, "lineitem")
    sk = build_sketch(li, "l_extendedprice", mk, from_bytes, as_float=True)
    est = sk.quantile(np.array(QUANTS))
    n, ranks = exact_ranks_of_values(li, "l_extendedprice", est.tolist())
    disc = exact_discrete_quantiles(li, "l_extendedprice", QUANTS, n=n)
    rows = []
    for (q, _r, v), rk in zip(disc, ranks):
        rows.append((int(round(q * 100)), int(n), float(v), bool(abs(rk - q) <= eps)))
    return spark.createDataFrame(
        rows,
        "q_pct BIGINT, n BIGINT, exact_disc_value DOUBLE, within_rank_bound BOOLEAN",
    ).orderBy("q_pct")


def q_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL quantiles of lineitem.l_extendedprice, oracle-checked: the exact
    discrete quantiles + n are replayed by DuckDB; the sketch estimates are
    verified in-query against the exact ranks (within_rank_bound)."""
    return _quantile_query(spark, sf_dir, _mk_kll, _kll_from_bytes, KLL_RANK_EPS)


def q_tdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-digest quantiles of lineitem.l_extendedprice (same oracle shape as
    q_kll_quantiles, tighter rank bound)."""
    return _quantile_query(spark, sf_dir, _mk_td, _td_from_bytes, TD_RANK_EPS)


def _quantile_pipeline_sql(vals_select: str) -> str:
    """Shared DuckDB replay of the inverse-CDF discrete quantile at rank
    max(1, ceil(q*n)) — identical IEEE expression to
    operators/quantiles.rank_of_quantile. ``vals_select`` must expose one
    ``x`` column; every quantile oracle (KLL, t-digest, KLL rollup)
    parameterizes this one copy with its own source rows."""
    qvals = ", ".join(f"({int(round(q * 100))}, CAST({q!r} AS DOUBLE))" for q in QUANTS)
    return f"""
WITH vals AS ({vals_select}),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM vals),
qs AS (SELECT * FROM (VALUES {qvals}) v(q_pct, q)),
ranked AS (SELECT x, row_number() OVER (ORDER BY x) AS rn FROM vals)
SELECT CAST(q.q_pct AS BIGINT) AS q_pct, nn.n AS n, r.x AS exact_disc_value,
       TRUE AS within_rank_bound
FROM qs q CROSS JOIN nn
JOIN ranked r ON r.rn = GREATEST(1, CAST(CEIL(q.q * nn.n) AS BIGINT))
ORDER BY q_pct
"""


def _quantile_sql() -> str:
    return _quantile_pipeline_sql(
        "SELECT l_extendedprice AS x FROM lineitem WHERE l_extendedprice IS NOT NULL")


def _lang_token_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, distinct token, n) rows from one JVM hash aggregate: the
    grouped builds read these weighted by n, so only distinct pairs cross
    the Arrow boundary. CMS counters and totals and HLL registers equal
    the per-occurrence build bit for bit."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("lang", "tok").agg(F.count("*").alias("n"))
    )


def q_cms_grouped_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One CMS per language over document tokens (the grouped two-phase
    Arrow path, weighted by the (lang, token) aggregate), each probed for
    token 'key' — group totals and estimates replayed exactly by the SQL
    oracle. The probe runs in a distributed ``finalize_grouped`` stage:
    sketch blobs are decoded inside executors, never collected (scales to
    10k+ groups — see scripts/grouped_finalize_bench.py)."""
    import pyarrow as pa
    import pyspark.sql.functions as F

    from ..config import CMSConfig
    from ..operators.agg import cms_grouped
    from ..operators.sketch_agg import finalize_grouped
    from ..sketches.hashing import djb2_py

    cfg = CMSConfig(epsilon=0.001, delta=0.1, seed=12345)
    grouped = cms_grouped(_lang_token_pairs(spark, sf_dir), "lang", "tok", cfg,
                          string_items=True, weight_col="n")
    probe = int(djb2_py("key"))

    def fin(row: dict) -> list[tuple]:
        sk = cfg.from_bytes(row["sketch"])
        est = int(sk.point_query(np.array([probe], dtype=np.int64))[0])
        return [(row["group"], sk.total, est)]

    out = finalize_grouped(
        grouped, fin, "lang STRING, total_tokens BIGINT, est_key BIGINT",
        pa.schema([("lang", pa.string()), ("total_tokens", pa.int64()),
                   ("est_key", pa.int64())]),
    )
    return out.orderBy("lang")


def _sql_cms_grouped() -> str:
    from ..config import CMSConfig

    cfg = CMSConfig(epsilon=0.001, delta=0.1, seed=12345)
    bucket_cols = " UNION ALL ".join(
        f"SELECT lang, {j} AS depth_row, {cfg.bucket_sql(j, 'item_id')} AS bucket, "
        f"CAST(COUNT(*) AS BIGINT) AS counter FROM ids GROUP BY 1, 3"
        for j in range(cfg.depth)
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT {j} AS depth_row, {cfg.bucket_sql(j, djb2_sql_duckdb_local('__probe__'))} AS bucket"
        for j in range(cfg.depth)
    )
    return f"""
WITH toks AS (
  SELECT lang, tok FROM (
    SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
  ) WHERE tok <> ''
),
ids AS (SELECT lang, {djb2_sql_duckdb_local('tok')} AS item_id FROM toks),
buckets AS ({bucket_cols}),
probes AS ({probe_rows}),
lang_probes AS (
  SELECT l.lang, p.depth_row, p.bucket
  FROM (SELECT DISTINCT lang FROM toks) l CROSS JOIN probes p
),
ests AS (
  SELECT lp.lang, MIN(COALESCE(b.counter, 0)) AS est
  FROM lang_probes lp LEFT JOIN buckets b
    ON b.lang = lp.lang AND b.depth_row = lp.depth_row AND b.bucket = lp.bucket
  GROUP BY lp.lang
),
totals AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS total_tokens FROM toks GROUP BY 1)
SELECT t.lang AS lang, t.total_tokens,
       CAST(COALESCE(e.est, 0) AS BIGINT) AS est_key
FROM totals t LEFT JOIN ests e USING (lang)
ORDER BY lang
"""


def djb2_sql_duckdb_local(expr: str) -> str:
    from ..config import djb2_sql_duckdb
    from ..sketches.hashing import djb2_py

    if expr == "__probe__":
        return f"CAST({djb2_py('key')} AS BIGINT)"
    return djb2_sql_duckdb(expr)


def q_hll_grouped_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One HLL per language over document tokens (generic grouped-sketch
    rails, operators/sketch_agg.sketch_grouped, fed the (lang, token, n)
    aggregate: HLL is weight-invariant, and the same aggregate gives the
    exact distinct count per language) — registers, estimator, and
    bound all replayed exactly per group by the DuckDB oracle. Estimator
    math runs in a distributed ``finalize_grouped`` stage (no blobs
    collected); the error-bound boolean is a JVM expression over the
    joined exact-distinct aggregate — identical IEEE double ops to the
    old driver-side Python."""
    import math

    import pyarrow as pa
    import pyspark.sql.functions as F

    from ..operators.sketch_agg import finalize_grouped, sketch_grouped
    from ..sketches.hll import HyperLogLog

    pairs = _lang_token_pairs(spark, sf_dir)
    grouped = sketch_grouped(pairs, "lang", "tok", _mk_hll, _hll_from_bytes,
                             string_items=True, weight_col="n")

    def fin(row: dict) -> list[tuple]:
        sk = HyperLogLog.from_bytes(row["sketch"])
        s, v, est = sk.estimate_portable()
        return [(row["group"], int(v), int(s), int(math.floor(est)), float(est))]

    fin_df = finalize_grouped(
        grouped, fin,
        "lang STRING, zero_registers BIGINT, scaled_inverse_sum BIGINT, "
        "est_floor BIGINT, _est DOUBLE",
        pa.schema([("lang", pa.string()), ("zero_registers", pa.int64()),
                   ("scaled_inverse_sum", pa.int64()), ("est_floor", pa.int64()),
                   ("_est", pa.float64())]),
    )
    exact = pairs.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("exact_distinct"))
    thr = 5 * (1.04 / math.sqrt(_mk_hll().m))
    return (
        exact.join(F.broadcast(fin_df), "lang")
        .select(
            "lang", "exact_distinct", "zero_registers", "scaled_inverse_sum",
            "est_floor",
            ((F.abs(F.col("_est") - F.col("exact_distinct").cast("double"))
              / F.col("exact_distinct").cast("double")) < F.lit(thr))
            .alias("within_bound"),
        )
        .orderBy("lang")
    )


def _hll_grouped_sql() -> str:
    import math

    from ..config import djb2_sql_duckdb
    from ..sketches.hll import HLL_SCALE_BITS, _alpha

    hll = _mk_hll()
    m = hll.m
    a, b = hll.a, hll.b
    h1 = affine_sql(int(a[0]), int(b[0]), "item_id")
    h2 = affine_sql(int(a[1]), int(b[1]), "item_id")
    alpha = _alpha(m)
    scale = float(1 << HLL_SCALE_BITS)
    thr = 5 * (1.04 / math.sqrt(m))
    raw = f"(CAST({alpha!r} AS DOUBLE) * {m * m} * CAST({scale!r} AS DOUBLE) / s)"
    return f"""
WITH toks AS (
  SELECT lang, tok FROM (
    SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
  ) WHERE tok <> ''
),
ids AS (SELECT lang, {djb2_sql_duckdb('tok')} AS item_id FROM toks),
hashed AS (SELECT lang, {h1} AS h1, {h2} AS h2 FROM ids),
regs AS (
  SELECT lang, h1 % {m} AS bucket,
         CASE WHEN h2 = 0 THEN 32
              ELSE CAST(log2(h2 & -h2) AS BIGINT) + 1 END AS rho
  FROM hashed
),
reg_table AS (SELECT lang, bucket, MAX(rho) AS register FROM regs GROUP BY 1, 2),
stats AS (
  SELECT lang, CAST({m} - COUNT(*) AS BIGINT) AS v,
         CAST(SUM(CAST(1 AS BIGINT) << ({HLL_SCALE_BITS} - register))
              + ({m} - COUNT(*)) * (CAST(1 AS BIGINT) << {HLL_SCALE_BITS}) AS BIGINT) AS s
  FROM reg_table GROUP BY lang
),
exact AS (SELECT lang, CAST(COUNT(DISTINCT tok) AS BIGINT) AS exact_distinct FROM toks GROUP BY lang),
est AS (
  SELECT lang, s, v,
         CASE WHEN {raw} <= CAST({2.5 * m!r} AS DOUBLE) AND v > 0
              THEN CAST({float(m)!r} AS DOUBLE) * ln(CAST({float(m)!r} AS DOUBLE) / v)
              ELSE {raw} END AS e
  FROM stats
)
SELECT x.lang AS lang, x.exact_distinct, est.v AS zero_registers,
       est.s AS scaled_inverse_sum, CAST(FLOOR(est.e) AS BIGINT) AS est_floor,
       (abs(est.e - x.exact_distinct) / x.exact_distinct
        < CAST({thr!r} AS DOUBLE)) AS within_bound
FROM exact x JOIN est USING (lang)
ORDER BY lang
"""


def q_kll_grouped_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One KLL per event_type over events.value (generic grouped rails) —
    per-group exact discrete quantiles + n replayed by DuckDB, per-group
    sketch estimates verified against exact ranks. Everything is lazy
    DataFrame composition: quantile probes run in a distributed
    ``finalize_grouped`` stage (one row per group x quantile, no blobs
    collected), exact ranks are one join + one groupBy whose expression
    count is independent of the group count, and the exact discrete
    quantiles come from the histogram-based DF operator — the whole query
    survives 10k+ groups."""
    import pyarrow as pa
    import pyspark.sql.functions as F

    from ..operators.quantiles import exact_discrete_quantiles_grouped_df
    from ..operators.sketch_agg import finalize_grouped, sketch_grouped

    ev = load(spark, sf_dir, "events")
    grouped = sketch_grouped(ev, "event_type", "value", _mk_kll, _kll_from_bytes,
                             as_float=True)
    quants = list(QUANTS)

    def fin(row: dict) -> list[tuple]:
        sk = _kll_from_bytes(row["sketch"])
        est = sk.quantile(np.array(quants))
        return [(row["group"], i, float(v)) for i, v in enumerate(est)]

    est_long = finalize_grouped(
        grouped, fin, "event_type STRING, q_idx INT, est_value DOUBLE",
        pa.schema([("event_type", pa.string()), ("q_idx", pa.int32()),
                   ("est_value", pa.float64())]),
    )
    vals = ev.select("event_type", "value").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull())
    cells = (
        vals.join(F.broadcast(est_long), "event_type")
        .groupBy("event_type", "q_idx")
        .agg(F.sum(F.when(F.col("value") <= F.col("est_value"), 1)
                   .otherwise(0)).alias("rank_cnt"))
    )
    disc = exact_discrete_quantiles_grouped_df(ev, "event_type", "value", QUANTS)
    joined = disc.join(
        cells,
        (disc["g"] == cells["event_type"]) & (disc["q_idx"] == cells["q_idx"]),
    )
    # rank_cnt / n: long / long is IEEE double division in both Spark and
    # the old driver-side Python — bit-identical bound booleans
    within = (F.abs(F.col("rank_cnt") / F.col("n") - F.col("q"))
              <= F.lit(KLL_RANK_EPS))
    return (
        joined.select(
            F.col("g").alias("event_type"), F.col("q_pct"), F.col("n"),
            F.col("exact_disc_value"), within.alias("within_rank_bound"),
        )
        .orderBy("event_type", "q_pct")
    )


def _kll_grouped_sql() -> str:
    qvals = ", ".join(f"({int(round(q * 100))}, CAST({q!r} AS DOUBLE))" for q in QUANTS)
    return f"""
WITH vals AS (
  SELECT event_type AS g, value AS x FROM events
  WHERE value IS NOT NULL AND event_type IS NOT NULL
),
nn AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM vals GROUP BY g),
qs AS (SELECT * FROM (VALUES {qvals}) v(q_pct, q)),
ranked AS (SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY x) AS rn FROM vals)
SELECT nn.g AS event_type, CAST(q.q_pct AS BIGINT) AS q_pct, nn.n AS n,
       r.x AS exact_disc_value, TRUE AS within_rank_bound
FROM nn CROSS JOIN qs q
JOIN ranked r ON r.g = nn.g AND r.rn = GREATEST(1, CAST(CEIL(q.q * nn.n) AS BIGINT))
ORDER BY event_type, q_pct
"""


def q_kll_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles-over-a-date-range from a materialized per-day KLL rollup —
    the third pillar of the rollup store (frequency = cms_time_rollup,
    COUNT DISTINCT = hll_time_rollup, quantiles = here). One KLL of
    events.value per day on the generic rails; a range query merges ONLY
    the covered day sketches (KLL merge is the same compaction the
    partition merge uses). Unlike the CMS/HLL pillars the merged state is
    not bit-identical to a direct build (compaction is randomized per
    merge order), so the oracle-checked columns are the exact data
    arithmetic (n, inverse-CDF discrete quantiles of the filtered rows)
    plus the sketch's rank-error bound evaluated in-query against the
    exact ranks — the same contract shape as kll_quantiles."""
    from .cms_queries import ROLLUP_HI, ROLLUP_LO
    from ..operators.quantiles import exact_discrete_quantiles, exact_ranks_of_values
    from ..operators.rollup import sketch_rollup_range, sketch_time_buckets

    ev = load(spark, sf_dir, "events")
    buckets = sketch_time_buckets(ev, "ts", "value", _mk_kll, _kll_from_bytes,
                                  as_float=True)
    sk = sketch_rollup_range(buckets, ROLLUP_LO, ROLLUP_HI, _mk_kll,
                             _kll_from_bytes)
    sel = ev.filter(
        (F.col("ts").cast("date").cast("string") >= ROLLUP_LO)
        & (F.col("ts").cast("date").cast("string") <= ROLLUP_HI)
    )
    est = sk.quantile(np.array(QUANTS))
    n, ranks = exact_ranks_of_values(sel, "value", est.tolist())
    disc = exact_discrete_quantiles(sel, "value", QUANTS, n=n)
    rows = []
    for (q, _r, v), rk in zip(disc, ranks):
        rows.append((int(round(q * 100)), int(n), float(v),
                     bool(abs(rk - q) <= KLL_RANK_EPS)))
    return spark.createDataFrame(
        rows,
        "q_pct BIGINT, n BIGINT, exact_disc_value DOUBLE, within_rank_bound BOOLEAN",
    ).orderBy("q_pct")


def _kll_time_rollup_sql() -> str:
    from .cms_queries import ROLLUP_HI, ROLLUP_LO

    return _quantile_pipeline_sql(f"""SELECT value AS x FROM events
  WHERE value IS NOT NULL AND ts IS NOT NULL
    AND CAST(ts AS DATE) BETWEEN DATE '{ROLLUP_LO}' AND DATE '{ROLLUP_HI}'""")


DYADIC_SEED = 12345
DYADIC_BASE = 16
DYADIC_LEVELS = 8
DYADIC_RANGE = (100, 1500)  # wide range: naive would need 1401 point queries


def _mk_dyadic():
    from ..sketches.dyadic import DyadicCMS

    return DyadicCMS(0.001, 0.1, DYADIC_SEED, base=DYADIC_BASE, levels=DYADIC_LEVELS)


def _dyadic_from_bytes(b):
    from ..sketches.dyadic import DyadicCMS

    return DyadicCMS.from_bytes(b, 0.001, 0.1)


def q_dyadic_range_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O(log U) range query via the dyadic CMS hierarchy (vs the
    reference's O(range) loop) — distributed Arrow build, integer-exact
    SQL replay of every level's counters."""
    li = load(spark, sf_dir, "lineitem")
    sk = build_sketch(li, "l_partkey", _mk_dyadic, _dyadic_from_bytes)
    lo, hi = DYADIC_RANGE
    est = sk.range_query(lo, hi)
    return spark.createDataFrame(
        [(lo, hi, int(est))], "range_lo BIGINT, range_hi BIGINT, dyadic_range_sum BIGINT"
    )


def _sql_dyadic() -> str:
    from ..config import CMSConfig
    from ..sketches.dyadic import decompose, level_seed

    lo, hi = DYADIC_RANGE
    parts = decompose(lo, hi, DYADIC_BASE, DYADIC_LEVELS)
    by_level: dict[int, list[int]] = {}
    for l, k in parts:
        by_level.setdefault(l, []).append(k)
    level_sqls = []
    for l, keys in sorted(by_level.items()):
        cfg = CMSConfig(epsilon=0.001, delta=0.1, seed=level_seed(DYADIC_SEED, l))
        shift = DYADIC_BASE ** l
        buckets = " UNION ALL ".join(
            f"SELECT {j} AS depth_row, {cfg.bucket_sql(j, 'item_id')} AS bucket, "
            f"CAST(COUNT(*) AS BIGINT) AS counter "
            f"FROM (SELECT CAST(l_partkey AS BIGINT) // {shift} AS item_id FROM lineitem) GROUP BY 2"
            for j in range(cfg.depth)
        )
        probes = " UNION ALL ".join(
            f"SELECT {int(k)} AS item, {j} AS depth_row, "
            f"{cfg.bucket_sql(j, f'CAST({int(k)} AS BIGINT)')} AS bucket"
            for k in keys for j in range(cfg.depth)
        )
        level_sqls.append(f"""
SELECT SUM(est) AS s FROM (
  SELECT p.item, MIN(COALESCE(b.counter, 0)) AS est
  FROM ({probes}) p LEFT JOIN ({buckets}) b USING (depth_row, bucket)
  GROUP BY p.item
)""")
    union = " UNION ALL ".join(f"SELECT s FROM ({q})" for q in level_sqls)
    return f"""
SELECT CAST({lo} AS BIGINT) AS range_lo, CAST({hi} AS BIGINT) AS range_hi,
       CAST(SUM(s) AS BIGINT) AS dyadic_range_sum
FROM ({union})
"""


# ---------------------------------------------------------------------------
# KMV (bottom-k) distinct sketch + set operations.
# ---------------------------------------------------------------------------
KMV_K = 256
KMV_SEED = 31
KMV_SET_K = 512
KMV_SET_SEED = 43


def _kmv_hash_sql(sk: KMVSketch, item_expr: str) -> str:
    """62-bit KMV hash h1(x mod p1)*p2 + h2(x mod p2) in BIGINT SQL
    (h1 < p1 ~ 2^31 keeps the product < 2^62) — mirrors KMVSketch._hash
    exactly, including the TWO-prime residue split (CRT hash space;
    see sketches/kmv.py)."""
    from ..sketches.kmv import KMV_SECOND_PRIME

    h1 = affine_sql(sk.a, sk.b, item_expr)
    p2 = KMV_SECOND_PRIME
    h2 = f"(({sk.a2} * (({item_expr}) % {p2}) + {sk.b2}) % {p2})"
    return f"({h1} * {p2} + {h2})"


def _mk_kmv():
    return KMVSketch(KMV_K, KMV_SEED)


def _mk_kmv_set():
    return KMVSketch(KMV_SET_K, KMV_SET_SEED)


def _kmv_from_bytes(b):
    return KMVSketch.from_bytes(b)


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k distinct estimate over lineitem.l_partkey. The state
    (k smallest distinct affine hashes) and the estimator floor are pure
    integer arithmetic — the DuckDB oracle replays both literally
    (``SELECT DISTINCT h ORDER BY h LIMIT k``). At sf<=0.001 the sketch is
    EXACT (fewer than k distinct values); at sf0.01+ the (k-1)*p^2/theta
    estimator engages (62-bit hash space — see sketches/kmv.py) — both regimes flow through the same columns."""
    from ..sketches.kmv import KMV_HASH_SPACE

    li = load(spark, sf_dir, "lineitem").select("l_partkey")
    # r6: distinct-first — KMV state is duplicate-invariant (bottom-k of
    # DISTINCT hashes), so the sketch over the distinct relation is
    # bit-identical to the per-occurrence build; the localCheckpoint'ed
    # distinct then also serves the exact count, collapsing two full
    # scans into one shuffle (guide §1.2/§2.4). (A partials-checkpoint
    # variant — fold the kernel into the distinct job, checkpoint only
    # the KB blob rows — was built, value-verified, and A/B'd SLOWER at
    # bench scale: 1.33 s vs 0.94 s; the distinct relation is small here
    # and the extra Python task boundary outweighs the saved scan.)
    d = li.select("l_partkey").distinct().localCheckpoint()
    sk = build_sketch(d, "l_partkey", _mk_kmv, _kmv_from_bytes)
    exact = d.count()
    n, theta, _est = sk.estimate_portable()
    est_floor = n if n < sk.k else ((sk.k - 1) * KMV_HASH_SPACE) // theta
    within = abs(est_floor - exact) * 4 <= exact  # 25% bound, integer math
    return spark.createDataFrame(
        [(int(exact), int(n), int(theta), int(est_floor), bool(within))],
        "exact_distinct BIGINT, n_kept BIGINT, theta BIGINT, "
        "est_floor BIGINT, within_25pct BOOLEAN",
    )


def _kmv_sql() -> str:
    from ..sketches.kmv import KMV_HASH_SPACE

    sk = _mk_kmv()
    p2, k = KMV_HASH_SPACE, sk.k
    h = _kmv_hash_sql(sk, "item_id")
    return f"""
WITH ids AS (SELECT CAST(l_partkey AS BIGINT) AS item_id FROM lineitem),
hashed AS (SELECT DISTINCT {h} AS h FROM ids),
kept AS (SELECT h FROM hashed ORDER BY h LIMIT {k}),
st AS (SELECT COUNT(*) AS n, MAX(h) AS mx FROM kept),
fin AS (SELECT n, CASE WHEN n < {k} THEN {p2} ELSE mx END AS theta FROM st),
est AS (SELECT n, theta,
               CAST(CASE WHEN n < {k} THEN n
                         ELSE (CAST({k - 1} AS HUGEINT) * {p2}) // theta END AS BIGINT) AS est_floor
        FROM fin),
ex AS (SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_distinct FROM lineitem)
SELECT ex.exact_distinct, CAST(est.n AS BIGINT) AS n_kept,
       CAST(est.theta AS BIGINT) AS theta, est.est_floor,
       (abs(est.est_floor - ex.exact_distinct) * 4 <= ex.exact_distinct) AS within_25pct
FROM est, ex
"""


def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-overlap audit: one KMV sketch of o_custkey per o_orderstatus
    (grouped build on the shared rails), then intersection / union /
    Jaccard estimates for every status pair — combined INSIDE executors
    (operators/setops.kmv_pair_estimates), zero blobs collected. HLL
    cannot answer intersections; this is the set-op surface a
    training-data pipeline uses for split-overlap checks."""
    from ..operators.setops import kmv_pair_estimates
    from ..operators.sketch_agg import sketch_grouped

    orders = load(spark, sf_dir, "orders")
    grouped = sketch_grouped(orders, "o_orderstatus", "o_custkey",
                             _mk_kmv_set, _kmv_from_bytes)
    return kmv_pair_estimates(grouped).orderBy("group_a", "group_b")


def _kmv_pair_sql(hashed_select: str, pair_cond: str, k: int,
                  order_by: str) -> str:
    """Shared DuckDB replay of ``operators/setops.kmv_pair_estimates``:
    bottom-k state per group (ranked/kept), theta, the pair set from
    ``pair_cond`` over the theta table, then the integer-floor
    intersection / union / Jaccard estimators. ``hashed_select`` must
    expose (g, h). ONE copy of the estimator SQL — a fix to the
    union-floor exact-case branch or the jaccard_bp zero-guard lands in
    every oracle that replays the operator (set-ops, retention). The
    (n * p^2) products exceed int64, so the floors fold in HUGEINT and
    cast back — DuckDB-only SQL, mirroring the Python side's
    arbitrary-precision ints."""
    from ..sketches.kmv import KMV_HASH_SPACE

    p = KMV_HASH_SPACE
    return f"""
WITH hashed AS ({hashed_select}),
ranked AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM hashed),
kept AS (SELECT g, h FROM ranked WHERE rn <= {k}),
gstats AS (SELECT g, COUNT(*) AS n, MAX(h) AS mx FROM kept GROUP BY g),
thetas AS (SELECT g, CASE WHEN n < {k} THEN CAST({p} AS BIGINT) ELSE mx END AS theta FROM gstats),
pairs AS (SELECT a.g AS ga, b.g AS gb, LEAST(a.theta, b.theta) AS theta
          FROM thetas a JOIN thetas b ON {pair_cond}),
common AS (SELECT pr.ga, pr.gb, COUNT(*) AS n_common
           FROM pairs pr
           JOIN kept ka ON ka.g = pr.ga AND ka.h < pr.theta
           JOIN kept kb ON kb.g = pr.gb AND kb.h = ka.h
           GROUP BY pr.ga, pr.gb),
union_below AS (SELECT pr.ga, pr.gb, COUNT(DISTINCT kk.h) AS n_ub
                FROM pairs pr
                JOIN kept kk ON kk.g IN (pr.ga, pr.gb) AND kk.h < pr.theta
                GROUP BY pr.ga, pr.gb),
union_ranked AS (
  SELECT ga, gb, h, row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rn
  FROM (SELECT DISTINCT pr.ga, pr.gb, kk.h
        FROM pairs pr JOIN kept kk ON kk.g IN (pr.ga, pr.gb))),
union_stats AS (SELECT ga, gb, COUNT(*) AS n_u, MAX(h) AS mx_u
                FROM union_ranked WHERE rn <= {k} GROUP BY ga, gb)
SELECT pr.ga AS group_a, pr.gb AS group_b,
       CAST(pr.theta AS BIGINT) AS theta,
       CAST(COALESCE(c.n_common, 0) AS BIGINT) AS n_common,
       CAST(COALESCE(ub.n_ub, 0) AS BIGINT) AS n_union_below_theta,
       CAST((CAST(COALESCE(c.n_common, 0) AS HUGEINT) * {p}) // pr.theta AS BIGINT) AS inter_floor,
       CAST(CASE WHEN us.n_u < {k} THEN us.n_u
                 ELSE (CAST({k - 1} AS HUGEINT) * {p}) // us.mx_u END AS BIGINT) AS union_floor,
       CAST(CASE WHEN COALESCE(ub.n_ub, 0) = 0 THEN 0
                 ELSE (10000 * COALESCE(c.n_common, 0)) // ub.n_ub END AS BIGINT) AS jaccard_bp
FROM pairs pr
LEFT JOIN common c ON c.ga = pr.ga AND c.gb = pr.gb
LEFT JOIN union_below ub ON ub.ga = pr.ga AND ub.gb = pr.gb
JOIN union_stats us ON us.ga = pr.ga AND us.gb = pr.gb
ORDER BY {order_by}
"""


def _kmv_set_ops_sql() -> str:
    sk = _mk_kmv_set()
    h = _kmv_hash_sql(sk, "CAST(o_custkey AS BIGINT)")
    return _kmv_pair_sql(
        f"SELECT DISTINCT o_orderstatus AS g, {h} AS h FROM orders",
        "a.g < b.g", sk.k, "group_a, group_b")


RET_K = 512
RET_SEED = 61
RET_LO, RET_HI = "2024-01-08", "2024-01-15"  # 8 days -> 7 adjacent pairs


def _mk_kmv_ret():
    return KMVSketch(RET_K, RET_SEED)


def q_kmv_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day retention from a per-day KMV rollup: one bottom-k
    distinct-user sketch per calendar day (the set-operation pillar of
    the rollup store), then |active(d) ∩ active(d+1)| / union / Jaccard
    estimates for each consecutive-day pair — combined INSIDE executors
    from the KB-sized day sketches, never rescanning the events rows.
    The pair predicate keeps the pair set linear in the day count. All
    estimate columns are integer floors over bottom-k state the DuckDB
    oracle replays literally (``SELECT DISTINCT h ORDER BY h LIMIT k``
    per day) — the audit a product team runs as "how many of yesterday's
    users came back today", at corpus-independent query cost."""
    from ..operators.rollup import sketch_time_buckets
    from ..operators.setops import kmv_pair_estimates

    ev = load(spark, sf_dir, "events").select("ts", "user_id")
    # r6: only the retention span feeds the build (day sketches are
    # independent — bit-identical in-range state, dead work dropped)
    ev = ev.filter(
        (F.col("ts").cast("date") >= F.lit(RET_LO).cast("date"))
        & (F.col("ts").cast("date") <= F.lit(RET_HI).cast("date")))
    # distinct-first: bit-identical for KMV ('invariant'), fewer Arrow rows
    buckets = sketch_time_buckets(ev, "ts", "user_id", _mk_kmv_ret,
                                  _kmv_from_bytes, pre_aggregate=True)
    grouped = (
        buckets.filter(
            (F.col("bucket") >= RET_LO) & (F.col("bucket") <= RET_HI)
        ).withColumnRenamed("bucket", "group")
    )
    adjacent = (
        F.col("group_b").cast("date")
        == F.date_add(F.col("group_a").cast("date"), 1)
    )
    return kmv_pair_estimates(grouped, adjacent).orderBy("group_a")


def _kmv_retention_sql() -> str:
    sk = _mk_kmv_ret()
    h = _kmv_hash_sql(sk, "CAST(user_id AS BIGINT)")
    hashed = f"""SELECT DISTINCT CAST(CAST(ts AS DATE) AS VARCHAR) AS g, {h} AS h
  FROM events
  WHERE CAST(ts AS DATE) BETWEEN DATE '{RET_LO}' AND DATE '{RET_HI}'
    AND ts IS NOT NULL AND user_id IS NOT NULL"""
    return _kmv_pair_sql(
        hashed,
        "a.g < b.g AND CAST(b.g AS DATE) = CAST(a.g AS DATE) + 1",
        sk.k, "group_a")


# ---------------------------------------------------------------------------
# Count-Sketch (AMS): unbiased point estimates + F2 moment.
# ---------------------------------------------------------------------------
CS_DEPTH = 5  # odd -> the median is an exact middle order statistic
CS_WIDTH = 1024
CS_SEED = 53


def _mk_cs():
    return CountSketch(CS_DEPTH, CS_WIDTH, CS_SEED)


def _cs_from_bytes(b):
    return CountSketch.from_bytes(b)


def _cs_counter_rows_sql(tc: str) -> str:
    """Counter table replay: per depth row, bucket = affine(item) % width,
    counter = SUM(sign * cnt) over distinct tokens (``tc`` must provide
    item_id, cnt). Pure BIGINT arithmetic."""
    cs = _mk_cs()
    parts = []
    for j in range(cs.depth):
        bkt = f"({affine_sql(int(cs.a[j]), int(cs.b[j]), 'item_id')}) % {cs.width}"
        c3, c2, c1, c0 = (int(v) for v in cs.sc[j])
        sgn = f"((({cubic_sql(c3, c2, c1, c0, 'item_id')}) % 2) * 2 - 1)"
        parts.append(
            f"SELECT {j} AS depth_row, {bkt} AS bucket, "
            f"CAST(SUM({sgn} * cnt) AS BIGINT) AS counter FROM ({tc}) GROUP BY 2"
        )
    return " UNION ALL ".join(parts)


def q_countsketch_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbiased Count-Sketch point estimates for the fixed token probes,
    next to exact counts. The DuckDB oracle replays the signed counter
    table and the median-of-5 estimate as the middle order statistic —
    every column exact integer arithmetic."""
    from .cms_queries import TOKEN_PROBES, _token_df

    toks = _token_df(spark, sf_dir)
    sk = build_sketch(toks, "tok", _mk_cs, _cs_from_bytes, string_items=True)
    est = sk.point_query_strings(TOKEN_PROBES)
    # probe-filtered exact counts: the collect is bounded by
    # len(TOKEN_PROBES) rows regardless of vocabulary size (a full
    # groupBy().count().collect() here would pull the whole vocab to the
    # driver — a scale-killer at web corpus size)
    exact = {
        r["tok"]: r["count"]
        for r in toks.filter(F.col("tok").isin(list(TOKEN_PROBES)))
        .groupBy("tok").count().collect()
    }
    rows = [
        (t, int(exact.get(t, 0)), int(e))
        for t, e in zip(TOKEN_PROBES, est)
    ]
    return spark.createDataFrame(
        rows, "token STRING, exact_count BIGINT, cs_estimate BIGINT"
    ).orderBy("token")


def _cs_estimates_sql() -> str:
    from .cms_queries import TOKEN_PROBES, _DUCK_TOKENS
    from ..config import djb2_sql_duckdb

    cs = _mk_cs()
    mid = cs.depth // 2 + 1
    tc = (f"SELECT {djb2_sql_duckdb('tok')} AS item_id, "
          f"CAST(COUNT(*) AS BIGINT) AS cnt FROM ({_DUCK_TOKENS}) GROUP BY tok")
    probes_vals = ", ".join(f"('{t}')" for t in TOKEN_PROBES)
    probe_rows = []
    for j in range(cs.depth):
        bkt = f"({affine_sql(int(cs.a[j]), int(cs.b[j]), 'item_id')}) % {cs.width}"
        c3, c2, c1, c0 = (int(v) for v in cs.sc[j])
        sgn = f"((({cubic_sql(c3, c2, c1, c0, 'item_id')}) % 2) * 2 - 1)"
        probe_rows.append(
            f"SELECT token, {j} AS depth_row, {bkt} AS bucket, {sgn} AS sign FROM probe_ids"
        )
    return f"""
WITH tc AS ({tc}),
counters AS ({_cs_counter_rows_sql('SELECT * FROM tc')}),
probes AS (SELECT token FROM (VALUES {probes_vals}) AS v(token)),
probe_ids AS (SELECT token, {djb2_sql_duckdb('token')} AS item_id FROM probes),
probe_buckets AS ({' UNION ALL '.join(probe_rows)}),
votes AS (
  SELECT pb.token, pb.sign * COALESCE(c.counter, 0) AS est
  FROM probe_buckets pb LEFT JOIN counters c USING (depth_row, bucket)
),
ranked AS (SELECT token, est, row_number() OVER (PARTITION BY token ORDER BY est) AS rn FROM votes),
med AS (SELECT token, CAST(est AS BIGINT) AS cs_estimate FROM ranked WHERE rn = {mid}),
exact AS (
  SELECT p.token, CAST(COALESCE(x.cnt, 0) AS BIGINT) AS exact_count
  FROM probes p LEFT JOIN (SELECT tok AS token, COUNT(*) AS cnt
                           FROM ({_DUCK_TOKENS}) GROUP BY tok) x USING (token)
)
SELECT exact.token, exact.exact_count, med.cs_estimate
FROM exact JOIN med USING (token) ORDER BY token
"""


def q_countsketch_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second frequency moment over the token stream — the join-size /
    self-similarity estimator — next to the exact F2, both pure integers."""
    from .cms_queries import _token_df

    toks = _token_df(spark, sf_dir)
    sk = build_sketch(toks, "tok", _mk_cs, _cs_from_bytes, string_items=True)
    cs_f2 = sk.f2_estimate()
    counts = toks.groupBy("tok").count()
    exact_f2 = counts.selectExpr(
        "CAST(SUM(count * count) AS BIGINT) AS f2").collect()[0]["f2"]
    within = abs(cs_f2 - exact_f2) * 4 <= exact_f2  # 25% bound, integer math
    return spark.createDataFrame(
        [(int(exact_f2), int(cs_f2), bool(within))],
        "exact_f2 BIGINT, cs_f2 BIGINT, within_25pct BOOLEAN",
    )


def _cs_f2_sql() -> str:
    from .cms_queries import _DUCK_TOKENS
    from ..config import djb2_sql_duckdb

    cs = _mk_cs()
    mid = cs.depth // 2 + 1
    tc = (f"SELECT {djb2_sql_duckdb('tok')} AS item_id, "
          f"CAST(COUNT(*) AS BIGINT) AS cnt FROM ({_DUCK_TOKENS}) GROUP BY tok")
    return f"""
WITH tc AS ({tc}),
counters AS ({_cs_counter_rows_sql('SELECT * FROM tc')}),
row_f2 AS (SELECT depth_row, CAST(SUM(counter * counter) AS BIGINT) AS r
           FROM counters GROUP BY depth_row),
ranked AS (SELECT r, row_number() OVER (ORDER BY r) AS rn FROM row_f2),
med AS (SELECT CAST(r AS BIGINT) AS cs_f2 FROM ranked WHERE rn = {mid}),
exact AS (SELECT CAST(SUM(cnt * cnt) AS BIGINT) AS exact_f2 FROM tc)
SELECT exact.exact_f2, med.cs_f2,
       (abs(med.cs_f2 - exact.exact_f2) * 4 <= exact.exact_f2) AS within_25pct
FROM exact, med
"""


# ---------------------------------------------------------------------------
# Bloom runtime semi-join pushdown (operators/joins.py).
# ---------------------------------------------------------------------------
BSJ_THRESHOLD = 250  # purchase-value cut defining the small ("dim") side
BSJ_EXPECTED = 10_000
BSJ_FPP = 0.01
def _mk_cu():
    from ..sketches.cms_cu import ConservativeCMS
    from .cms_queries import CFG

    return ConservativeCMS(CFG.epsilon, CFG.delta, CFG.seed)


def _cu_from_bytes(b):
    from ..sketches.cms_cu import ConservativeCMS

    return ConservativeCMS.from_bytes(b)


def q_cms_cu_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conservative-update CMS (Estan & Varghese 2002; sketches/cms_cu.py)
    built over the token stream on the generic partial/merge rails, gated
    by the sandwich every distributed CU estimate must satisfy regardless
    of partitioning:  exact <= cu_estimate <= plain_cms_estimate.

    The CU table itself is partition-dependent (conservative update is a
    sequential read-modify-write — the module docstring carries the merge
    one-sidedness proof), so the oracle cannot replay counters; instead the
    query verifies the sandwich DISTRIBUTED over every distinct token (both
    sketches ride to the executors in the numpy probe kernel
    ``probe_cms`` — identical hash rows, directly comparable cells) and
    emits only oracle-replayable aggregates plus the property booleans. The
    measured overestimate reduction lives in BENCH/cu_improvement.json.

    The plain CMS is built weighted from the exact (token, count)
    aggregate; the CU sketch keeps its per-occurrence build, because
    conservative update depends on the order and grouping of its input.
    Eager phase: both sketch builds."""
    from ..operators.agg import build_cms
    from ..operators.sketch_agg import probe_cms
    from .cms_queries import CFG, _token_df

    toks = _token_df(spark, sf_dir)
    cu = build_sketch(toks, "tok", _mk_cu, _cu_from_bytes, string_items=True)
    exact = toks.groupBy("tok").agg(F.count("*").alias("exact_cnt"))
    cms = build_cms(exact, "tok", CFG, weight_col="exact_cnt",
                    string_items=True)
    joined = probe_cms(probe_cms(exact, cms, "tok", "cms_est"), cu, "tok",
                       "cu_est")
    n = F.count("*")
    return joined.agg(
        n.cast("bigint").alias("n_distinct"),
        F.sum("exact_cnt").cast("bigint").alias("stream_n"),
        (F.sum(F.when(F.col("cu_est") >= F.col("exact_cnt"), 1).otherwise(0)) == n)
        .alias("all_cu_one_sided"),
        (F.sum(F.when(F.col("cu_est") <= F.col("cms_est"), 1).otherwise(0)) == n)
        .alias("all_cu_le_cms"),
        (F.sum("exact_cnt") == F.lit(int(cu.total))).alias("cu_total_matches_stream"),
    )


def _cu_accuracy_sql() -> str:
    from .cms_queries import _DUCK_TOKENS

    return f"""
WITH toks AS ({_DUCK_TOKENS})
SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct,
       CAST(COUNT(*) AS BIGINT) AS stream_n,
       TRUE AS all_cu_one_sided,
       TRUE AS all_cu_le_cms,
       TRUE AS cu_total_matches_stream
FROM toks
"""


BSJ_SEED = 101


def _mk_join_bloom():
    return BloomFilter(BSJ_EXPECTED, BSJ_FPP, seed=BSJ_SEED)


def q_bloom_semijoin_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom semi-join pushdown over events: small side = users with a
    purchase over BSJ_THRESHOLD, big side = the full events stream. One
    scan computes, per event row, the Bloom verdict (Arrow-vectorized
    probe of the broadcast bits) and the exact match (broadcast join),
    then folds to integer totals: the one-sided guarantee (n_false_neg
    must be 0), the false-positive overshoot the exact join removes, and
    the filter's set-bit count. Every column is integer state the DuckDB
    oracle replays bit-for-bit from the same affine hash family."""
    from ..operators.joins import bloom_flag, build_key_bloom

    ev = load(spark, sf_dir, "events")
    small = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("value") > BSJ_THRESHOLD)
    ).select("user_id")
    bf = build_key_bloom(small, "user_id", _mk_join_bloom)
    flags = bloom_flag(ev.select("user_id"), "user_id", bf)
    keys = (
        small.distinct()
        .select(F.col("user_id").alias("k"))
        .withColumn("matched", F.lit(True))
    )
    joined = flags.join(F.broadcast(keys), flags["user_id"] == keys["k"], "left")
    is_match = F.coalesce(F.col("matched"), F.lit(False))
    return joined.agg(
        F.count(F.lit(1)).alias("n_big"),
        F.sum(F.col("bloom_pass").cast("long")).alias("n_bloom_pass"),
        F.sum(is_match.cast("long")).alias("n_matched"),
        F.sum((F.col("bloom_pass") & ~is_match).cast("long")).alias("n_false_pos"),
        F.sum((is_match & ~F.col("bloom_pass")).cast("long")).alias("n_false_neg"),
        F.lit(int(bf.bits.sum())).cast("long").alias("n_set_bits"),
    )


def _bloom_semijoin_sql() -> str:
    bf = _mk_join_bloom()
    ins = " UNION ALL ".join(
        f"SELECT {affine_sql(int(bf.a[j]), int(bf.b[j]), 'key')} % {bf.m} AS pos FROM small"
        for j in range(bf.k)
    )
    probes = " UNION ALL ".join(
        f"SELECT key, {affine_sql(int(bf.a[j]), int(bf.b[j]), 'key')} % {bf.m} AS pos FROM big_keys"
        for j in range(bf.k)
    )
    return f"""
WITH small AS (
  SELECT CAST(user_id AS BIGINT) AS key FROM events
  WHERE event_type = 'purchase' AND value > {BSJ_THRESHOLD}
    AND user_id IS NOT NULL),
set_bits AS (SELECT DISTINCT pos FROM ({ins})),
big_keys AS (SELECT DISTINCT CAST(user_id AS BIGINT) AS key FROM events
             WHERE user_id IS NOT NULL),
probe AS ({probes}),
member AS (
  SELECT p.key FROM probe p LEFT JOIN set_bits s ON p.pos = s.pos
  GROUP BY p.key
  HAVING COUNT(*) FILTER (WHERE s.pos IS NOT NULL) = {bf.k}),
skeys AS (SELECT DISTINCT key FROM small)
SELECT CAST(COUNT(*) AS BIGINT) AS n_big,
       CAST(COUNT(*) FILTER (WHERE m.key IS NOT NULL) AS BIGINT) AS n_bloom_pass,
       CAST(COUNT(*) FILTER (WHERE s.key IS NOT NULL) AS BIGINT) AS n_matched,
       CAST(COUNT(*) FILTER (WHERE m.key IS NOT NULL AND s.key IS NULL) AS BIGINT)
         AS n_false_pos,
       CAST(COUNT(*) FILTER (WHERE s.key IS NOT NULL AND m.key IS NULL) AS BIGINT)
         AS n_false_neg,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM set_bits) AS n_set_bits
FROM events e
LEFT JOIN member m ON e.user_id = m.key
LEFT JOIN skeys s ON e.user_id = s.key
"""


SKETCH_QUERIES = {
    "cms_grouped_by_lang": (q_cms_grouped_by_lang, _sql_cms_grouped()),
    "dyadic_range_query": (q_dyadic_range_query, _sql_dyadic()),
    "hll_registers": (q_hll_registers, _hll_sql()),
    "hll_distinct": (q_hll_distinct, _hll_distinct_sql()),
    "hll_grouped_by_lang": (q_hll_grouped_by_lang, _hll_grouped_sql()),
    "hll_time_rollup": (q_hll_time_rollup, _hll_time_rollup_sql()),
    "hll_sliding_window": (q_hll_sliding_window, _hll_sliding_window_sql()),
    "bloom_membership": (q_bloom_membership, _bloom_sql()),
    "bloom_semijoin_stats": (q_bloom_semijoin_stats, _bloom_semijoin_sql()),
    "countsketch_estimates": (q_countsketch_estimates, _cs_estimates_sql()),
    "countsketch_f2": (q_countsketch_f2, _cs_f2_sql()),
    "cms_cu_accuracy": (q_cms_cu_accuracy, _cu_accuracy_sql()),
    "kmv_distinct": (q_kmv_distinct, _kmv_sql()),
    "kmv_set_ops": (q_kmv_set_ops, _kmv_set_ops_sql()),
    "kmv_retention": (q_kmv_retention, _kmv_retention_sql()),
    "kll_quantiles": (q_kll_quantiles, _quantile_sql()),
    "kll_grouped_by_type": (q_kll_grouped_by_type, _kll_grouped_sql()),
    "kll_time_rollup": (q_kll_time_rollup, _kll_time_rollup_sql()),
    "tdigest_quantiles": (q_tdigest_quantiles, _quantile_sql()),
}
