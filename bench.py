"""Benchmark harness (driver contract).

Headline metric: Count-Min update+merge wall seconds over a deterministic
synthetic web-page corpus (the north-rule throughput number, reported with
docs/sec and tokens/sec alongside), plus per-query timings for the driver
queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Env:
  SPARK_GRAFT_SF_DIR      (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS        (default 32)
  SPARK_GRAFT_BENCH_PAGES (default 120000)
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_PAGES = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "1000000"))
# 9 runs: this sandbox's bursty host stalls (observed 14-119s for an
# identical warm job minutes apart) have poisoned up to 5 of 7 samples
# in one array; 9 runs + the _stall_free exclusion below keep the median
# anchored on clean executions.
BUILD_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "9"))


def _median(xs: list) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


# Host-stall exclusion: this sandbox's bursty stalls (observed 14-119 s
# for an identical warm job minutes apart) can poison a MAJORITY of a
# run array — a 43 s sample of a job whose clean runs take 1.2 s is
# measuring the host, not the engine, and even a median-of-7 breaks when
# 4 of 7 samples land in a stall burst. Rule: a run > 3x the array's
# minimum is stall-contaminated and excluded from the median. The raw
# arrays (and the exclusion count) always ship in the JSON, so the rule
# is auditable; ordinary jitter (< 2x) is never excluded.
_STALL_FACTOR = 3.0


def _stall_free(xs: list) -> list:
    # anchor on the smallest run ABOVE the 3-decimal rounding resolution:
    # a run rounded to 0.000 must not become the anchor (3 * 0.0 would
    # exclude every real run and report a 0.000 median)
    real = [x for x in xs if x >= 0.005]
    lo = min(real) if real else min(xs)
    return [x for x in xs if x <= _STALL_FACTOR * lo]


def _clean_median(xs: list) -> float:
    return _median(_stall_free(xs))
CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_cache")

BENCH_QUERIES = [
    "cms_sketch_table",
    "cms_point_query",
    "cms_range_query",
    "cms_inner_product",
    "cms_token_point_query",
    "cms_heavy_hitters",
    "cms_url_host_counts",
    "host_skew_stats",
    "exact_token_counts",
    "cms_accuracy_report",
    # training-data flagships (documents/embeddings tables at the same sf)
    "dedup_exact",
    "dup_spans",
    "lsh_pairs",
    "lsh_bucket_stats",
    # (simhash_near_dups is gate-checked but not timed here: the synthetic
    # docs are template-heavy, so its sf0.1 output is ~2M genuine pairs and
    # the timing measures collect volume, not operator cost)
    "simhash",
    "embedding_knn",
    "ann_multiprobe",
    "ann_ivf",
    "text_quality",
    "image_stats",
    "audio_stats",
    "kmv_distinct",
    "kmv_set_ops",
    "hash_sample_docs",
    "mg_frequent_tokens",
    "bloom_semijoin_stats",
    "pipeline_clean_corpus",
    "stratified_sample_docs",
    "vocab_stats",
    "asof_last_purchase",
    "event_sessions",
    "event_funnel",
    "cohort_retention",
    "event_paths",
    "script_mix",
    "event_debounce",
    "value_histogram",
    "cms_time_rollup",
    "mg_time_rollup",
    "kmv_retention",
    "rollup_day_overlap",
    "hll_sliding_window",
    # round-4 additions
    "table_profile",
    "tfidf_top_terms",
    "doc_repetition",
    "benchmark_contamination",
    "purchase_click_attribution",
    # round-5 additions
    "pii_redaction",
    "quality_weighted_sample",
    "cms_cu_accuracy",
    "collocations_dice",
    "doc_familiarity",
    "trending_users",
    "host_quality_profile",
    # (incremental_dedup's wall is ~8 small jobs of fixed overhead — it
    # BUNDLES one-time index build + probe in one self-contained query;
    # the probe's own scaling lives in BENCH/incremental_scale.json)
    "incremental_dedup",
    "url_canonicalize",
    "sequence_packing",
    "split_leakage",
    "token_drift",
    # (dedup_components / near_dedup_kept_docs are gate-checked but not
    # timed here: on the template-heavy synthetic docs the SimHash pair
    # graph is ~2M genuine edges at sf0.1, so the timing measures pair
    # volume, not the closure operator — BENCH/components_scale.json
    # carries the operator's own 10M-edge evidence)
    # (stream_rollup_parity / stream_batch_parity stage temp parquet and
    # drain a file stream — their wall time measures staging I/O, not an
    # operator; they stay gate-only)
]


def get_spark(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"pcms-bench-{cpus}")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "24g")
        # measured sweet spot (16/32/64/128m sweep at local[32], 4M docs):
        # the JVM build is fastest at 64m; smaller splits pay per-task
        # overhead that outweighs the extra core occupancy, larger ones
        # underfeed the scan. The Arrow build prefers 128m (per-task
        # Python/Arrow overhead amortizes over bigger batches) — set
        # per-path below via spark.conf (plan-time setting).
        .config("spark.sql.files.maxPartitionBytes", "64m")
        .getOrCreate()
    )


def ensure_corpus(spark, n_pages: int, seed: int = 12345) -> str:
    """Materialize the deterministic corpus once; reuse across rounds."""
    path = os.path.join(CACHE_DIR, f"web_pages_s{seed}_n{n_pages}.parquet")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        from parallel_count_min_sketch_spark.sources.web_pages import web_pages

        web_pages(spark, n_pages, seed=seed, partitions=max(CPUS * 2, 8)) \
            .write.mode("overwrite").parquet(path)
    return path


def bench_cms_build(spark, corpus_path: str) -> dict:
    """The north-rule number: distributed CMS update+merge over the token
    stream of the corpus (text column only — html stays pruned).

    Two execution strategies are timed:
    - sql:   Catalyst plan: JVM explode, then in the same scan-stage
             tasks one numpy mapInArrow kernel per partition (djb2 +
             bincount of every token) that emits the nonzero cells a
             partial/final hash aggregate merges over one exchange.
    - arrow: mapInArrow numpy partials + fan-in merge — the mergeable
             "UDAF" pattern shared by all sketch kernels.
    A small warmup job first spins up workers / JIT, mirroring a long-lived
    cluster's steady state."""
    from pyspark.sql import functions as F

    from parallel_count_min_sketch_spark.config import CMSConfig
    from parallel_count_min_sketch_spark.operators.agg import build_cms_from_text
    from parallel_count_min_sketch_spark.operators.sql_build import cms_table_df

    cfg = CMSConfig(epsilon=0.001, delta=0.1, seed=12345)
    df = spark.read.parquet(corpus_path).select("text")
    n_docs = df.count()  # warms the scan metadata
    toks = df.select(F.explode(F.split("text", " ")).alias("tok")) \
        .filter(F.col("tok") != "")

    # warmup: one full pass per path (worker spin-up, codegen JIT, page
    # faults) — steady-state measurement, like a long-lived cluster
    t0 = time.perf_counter()
    rows = cms_table_df(toks, "tok", cfg, string_items=True).collect()
    build_cms_from_text(df, "text", cfg)
    warmup_sec = time.perf_counter() - t0
    n_tokens = sum(r["counter"] for r in rows if r["depth_row"] == 0)

    # 5 warm runs per config, median +/- spread (the reference's
    # mpi_benchmark.py:143-151 averages 10 runs; this sandbox's page-fault
    # stalls also make single runs untrustworthy). The two strategies are
    # INTERLEAVED (sql, arrow, sql, arrow, ...): the sandbox's fresh-page
    # throttle decays over tens of seconds, so back-to-back blocks would
    # charge the whole decay window to whichever strategy runs first;
    # pairing gives both strategies samples across the same load curve.
    sql_runs = []
    arrow_runs = []
    for _ in range(BUILD_RUNS):
        # per-path split sizing (see get_spark): 64m for the JVM build,
        # 128m for the Arrow build — maxPartitionBytes is a plan-time
        # SQL conf, so it can differ per query in one session
        spark.conf.set("spark.sql.files.maxPartitionBytes", "64m")
        t0 = time.perf_counter()
        cms_table_df(toks, "tok", cfg, string_items=True).collect()
        sql_runs.append(time.perf_counter() - t0)

        spark.conf.set("spark.sql.files.maxPartitionBytes", "128m")
        t0 = time.perf_counter()
        sk = build_cms_from_text(df, "text", cfg)
        arrow_runs.append(time.perf_counter() - t0)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "64m")
    assert sk.total == n_tokens, "sql and arrow builds disagree on token mass"

    # stall-excluded median, not mean (see _clean_median): the sandbox's
    # stall bursts can span several consecutive runs, which breaks a
    # plain median. Raw runs ship in the JSON for transparency.
    sql_wall = _clean_median(sql_runs)
    arrow_wall = _clean_median(arrow_runs)
    best = min(sql_wall, arrow_wall)
    return {
        "build_sec": round(best, 3),
        "sql_build_sec": round(sql_wall, 3),
        "sql_build_runs": [round(w, 3) for w in sql_runs],
        "sql_build_spread_sec": round(max(sql_runs) - min(sql_runs), 3),
        "sql_build_n_stalled": len(sql_runs) - len(_stall_free(sql_runs)),
        "arrow_build_sec": round(arrow_wall, 3),
        "arrow_build_runs": [round(w, 3) for w in arrow_runs],
        "arrow_build_spread_sec": round(max(arrow_runs) - min(arrow_runs), 3),
        "arrow_build_n_stalled": len(arrow_runs) - len(_stall_free(arrow_runs)),
        "warmup_sec": round(warmup_sec, 3),
        "n_docs": n_docs,
        "n_tokens": n_tokens,
        "docs_per_sec": round(n_docs / best, 1),
        "tokens_per_sec": round(n_tokens / best, 1),
    }


def bench_reference_parity(spark, n_items: int) -> dict:
    """The reference's own workload (BASELINE.md): CMS build over uint32
    items from the gen_datasets mixture, then point/range/inner-product
    query latency averaged over 10^6 repetitions (reference harness:
    src/mpi/mpiV2.c:194-207). Items are generated JVM-side (the reference
    reads a pre-generated text file; its timings likewise exclude
    generation... they include file READ, which our scan replaces)."""
    import numpy as np

    from parallel_count_min_sketch_spark.config import CMSConfig
    from parallel_count_min_sketch_spark.operators.sql_build import collect_cms
    from parallel_count_min_sketch_spark.sources.items import items_df

    cfg = CMSConfig(epsilon=0.001, delta=0.1, seed=12345)
    df = items_df(spark, n_items).cache()
    n_exact_123 = df.filter("item = 123").count()  # materializes the cache too
    # JVM plans only: integer items need no djb2, and on 20M cached items
    # (the integer-rail table in ROADMAP.md, 4 vCPUs) the best JVM plan beat
    # the Arrow rail on the reference mixture (0.67 vs 1.88 s) and on
    # all-distinct items (1.61 vs 4.56 s) — path equality is covered by
    # tests at small n.
    collect_cms(df.limit(100_000), "item", cfg)  # warm JIT
    per_occ_runs = []
    for _ in range(BUILD_RUNS):
        t0 = time.perf_counter()
        sk = collect_cms(df, "item", cfg)
        per_occ_runs.append(time.perf_counter() - t0)
    # rescan strategy: depth independent single-BIGINT groupBys, no
    # posexplode generator — the right per-occurrence shape when the input
    # is cached in memory (as here, mirroring the reference's in-RAM array).
    # Same matrix bit-for-bit (asserted below via the preagg check chain).
    collect_cms(df.limit(100_000), "item", cfg, row_strategy="rescan")
    rescan_runs = []
    for _ in range(BUILD_RUNS):
        t0 = time.perf_counter()
        sk_rescan = collect_cms(df, "item", cfg, row_strategy="rescan")
        rescan_runs.append(time.perf_counter() - t0)
    assert (sk_rescan.table == sk.table).all(), "rescan build diverged"
    explode_runs, per_occ_runs = per_occ_runs, min(
        per_occ_runs, rescan_runs, key=_clean_median)
    # distinct-first plan: the mixture is ~9k distinct values, so a
    # partial/final count-by-value bounds every partition's agg output by
    # the (tiny) cardinality and the hash arithmetic runs once per DISTINCT
    # item. Bit-identical sketch (sum of per-occurrence weights ==
    # per-item totals; asserted).
    from parallel_count_min_sketch_spark.operators.sql_build import cms_table_df
    preagg_runs = []
    for _ in range(BUILD_RUNS):
        t0 = time.perf_counter()
        rows = cms_table_df(df, "item", cfg, pre_aggregate=True).collect()
        preagg_runs.append(time.perf_counter() - t0)
    sk2 = cfg.new_sketch()
    for r in rows:
        sk2.table[r["depth_row"], r["bucket"]] = r["counter"]
    assert (sk2.table == sk.table).all(), "pre-agg build diverged"
    build_runs = min(per_occ_runs, preagg_runs, key=_clean_median)
    build_sec = _clean_median(build_runs)
    df.unpersist()
    assert int(sk.point_query(np.array([123]))[0]) >= n_exact_123  # one-sided

    reps = 1_000_000
    qitems = np.full(reps, 123, dtype=np.int64)
    t0 = time.perf_counter()
    est123 = int(sk.point_query(qitems)[-1])
    point_us = (time.perf_counter() - t0) / reps * 1e6
    sk.range_query(100, 110)  # warm: builds the one-time scalar read cache
    t0 = time.perf_counter()
    for _ in range(1000):
        rng_sum = sk.range_query(100, 110)
    range_us = (time.perf_counter() - t0) / 1000 * 1e6
    # batch/amortized variant: the reference's 4.4us/query is one iteration
    # of a C repetition loop; the amortized vectorized path is the
    # methodology-matched comparison (and the shape executors actually use)
    starts = np.full(1000, 100, dtype=np.int64)
    ends = np.full(1000, 110, dtype=np.int64)
    batch = sk.range_query_many(starts, ends)
    assert int(batch[0]) == rng_sum
    t0 = time.perf_counter()
    for _ in range(20):
        sk.range_query_many(starts, ends)
    range_batch_us = (time.perf_counter() - t0) / 20 / 1000 * 1e6
    t0 = time.perf_counter()
    for _ in range(1000):
        ip = sk.inner_product(sk)
    inner_us = (time.perf_counter() - t0) / 1000 * 1e6
    return {
        "items_build_sec": round(build_sec, 3),
        "items_build_runs": [round(w, 3) for w in build_runs],
        "items_build_spread_sec": round(max(build_runs) - min(build_runs), 3),
        "items_build_per_occurrence_sec": round(_clean_median(per_occ_runs), 3),
        "items_build_explode_sec": round(_clean_median(explode_runs), 3),
        "items_build_rescan_sec": round(_clean_median(rescan_runs), 3),
        "items_build_preagg_sec": round(_clean_median(preagg_runs), 3),
        "items_build_n_stalled": len(build_runs) - len(_stall_free(build_runs)),
        "n_items": n_items,
        "items_per_sec": round(n_items / build_sec, 1),
        "exact_123": int(n_exact_123),
        "point_query_us": round(point_us, 4),
        "range_query_us": round(range_us, 2),
        "range_query_batch_us": round(range_batch_us, 3),
        "inner_product_us": round(inner_us, 2),
        "est_123": est123,
        "range_100_110": rng_sum,
        "self_inner_product": ip,
    }


def bench_calibration(spark) -> dict:
    """Fixed machine-speed probes, timed alongside every bench run so
    cross-round per-query ratios can be read against same-round hardware
    state (round 4->5 showed EVERY query inflate ~1.25x purely from
    sandbox drift — BENCH/retime_ab_r4_vs_r5.json). Two probes:
    ``numpy_sec`` (single-thread: fixed matmul+sort, pure CPU/memory
    speed) and ``spark_sec`` (codegen sum of xxhash64 over range(200M):
    JVM + whole-stage-codegen throughput at the session's parallelism).
    Both are data-independent constants; median of 3."""
    import numpy as np

    rng = np.random.default_rng(0)
    a = rng.standard_normal((512, 512))
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        for _ in range(8):
            b = a @ a
        np.sort(b, axis=None)
        runs.append(time.perf_counter() - t0)
    numpy_sec = sorted(runs)[1]

    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 200_000_000, 1, CPUS).selectExpr(
            "bit_xor(xxhash64(id)) AS h").collect()  # sum() overflows ANSI int64
        runs.append(time.perf_counter() - t0)
    spark_sec = sorted(runs)[1]
    return {"numpy_sec": round(numpy_sec, 4), "spark_sec": round(spark_sec, 4)}


def main() -> None:
    import __spark_entry__ as entrymod

    spark = get_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    calibration = bench_calibration(spark)

    corpus = ensure_corpus(spark, N_PAGES)
    build = bench_cms_build(spark, corpus)
    parity = bench_reference_parity(spark, int(os.environ.get("SPARK_GRAFT_BENCH_ITEMS", "100000000")))

    qs = entrymod.queries()
    # per-query medians are floats; the *_runs keys carry raw run lists.
    # median-of-5 per query (run 1 doubles as warmup; 3 reps through r4 —
    # the r4->r5 A/B showed consecutive identical runs swinging 1.5x, so
    # two more samples buy real median stability): this sandbox's bursty
    # stalls make single-run query timings vary 2-3x — same methodology
    # rationale as the build medians above.
    timings: dict[str, float | list[float]] = {}
    for name in BENCH_QUERIES:
        fn = qs.get(name)
        if fn is None:
            continue
        runs = []
        for _ in range(5):
            t0 = time.perf_counter()
            fn(spark, SF_DIR).collect()
            runs.append(round(time.perf_counter() - t0, 3))
        timings[name] = round(_clean_median(runs), 3)
        timings[name + "_runs"] = runs
    timings["cms_build_corpus_sql"] = build["sql_build_sec"]
    timings["cms_build_corpus_arrow"] = build["arrow_build_sec"]
    timings["cms_build_warmup"] = build["warmup_sec"]
    timings["cms_build_corpus_sql_runs"] = build["sql_build_runs"]
    timings["cms_build_corpus_arrow_runs"] = build["arrow_build_runs"]

    m = re.search(r"sf([\d.]+)", SF_DIR)
    sf = float(m.group(1).rstrip(".")) if m else None
    # Full detail (raw run arrays, stall counts, full parity block) goes to
    # BENCH/bench_detail.json — the driver's tail capture truncated r4's
    # single long stdout line at the HEAD, losing the headline metric
    # (BENCH_r04.json "parsed": null). The LAST stdout line is now a compact
    # headline object: medians only, well under any sane capture window.
    detail = {
        "metric": "cms_update_merge_build_sec",
        "value": build["build_sec"],
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": CPUS,
        "corpus_docs": build["n_docs"],
        "corpus_tokens": build["n_tokens"],
        "docs_per_sec": build["docs_per_sec"],
        "tokens_per_sec": build["tokens_per_sec"],
        "reference_parity": parity,
        "calibration": calibration,
    }
    detail_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
    os.makedirs(detail_dir, exist_ok=True)
    detail_path = os.path.join(detail_dir, "bench_detail.json")
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    print(f"full detail (raw run arrays, parity block): {detail_path}",
          file=sys.stderr)

    medians = {k: v for k, v in timings.items() if not k.endswith("_runs")}
    out = {
        "metric": "cms_update_merge_build_sec",
        "value": build["build_sec"],
        "unit": "sec",
        "queries": medians,
        "sf": sf,
        "cpus": CPUS,
        "docs_per_sec": build["docs_per_sec"],
        "tokens_per_sec": build["tokens_per_sec"],
        "calibration": calibration,
        "parity": {
            "items_build_sec": parity["items_build_sec"],
            "items_per_sec": parity["items_per_sec"],
            "point_query_us": parity["point_query_us"],
            "range_query_batch_us": parity["range_query_batch_us"],
            "inner_product_us": parity["inner_product_us"],
        },
        "detail": "BENCH/bench_detail.json",
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
