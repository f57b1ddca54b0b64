"""Per-family sketch-build throughput at corpus scale -> BENCH/sketch_family_scale.json.

BENCH evidence is CMS-centric; the north rule names HLL, KLL, t-digest and
Bloom as first-class. This times each family's distributed Arrow-kernel
build (per-partition partial -> fan-in merge, the same rails the
contract queries use) on its natural web workload over the deterministic
4M-doc corpus, warm best-of-N:

- HLL:      approximate distinct URLs (4M strings)
- Bloom:    URL membership filter (4M strings)
- KLL:      document-length quantiles (4M bigints)
- t-digest: document-length quantiles, tail-accurate (4M doubles)

(CMS throughput over the full 440M-token stream is tracked separately in
BENCH/BASELINE.md / level_*.json.)

Usage: python scripts/sketch_family_bench.py [--pages 4000000] [--reps 3]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=4_000_000)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    import bench
    from parallel_count_min_sketch_spark.operators.sketch_agg import build_sketch
    from parallel_count_min_sketch_spark.plans.sketch_queries import (
        _bloom_from_bytes,
        _hll_from_bytes,
        _kll_from_bytes,
        _mk_hll,
        _mk_kll,
        _mk_td,
        _td_from_bytes,
    )
    from parallel_count_min_sketch_spark.sketches import BloomFilter

    def _mk_bloom():
        return BloomFilter(expected_items=args.pages, fpp=0.01, seed=7)

    spark = bench.get_spark(bench.CPUS)
    corpus = bench.ensure_corpus(spark, args.pages)
    pages = spark.read.parquet(corpus)
    urls = pages.select("url")
    doclen = pages.select(F.length("text").cast("bigint").alias("doclen"))
    urls.count(); doclen.count()  # warm scan
    probe_url = urls.first()["url"]  # a guaranteed member for the Bloom check

    def timed(fn):
        fn()  # warm (worker import + JIT + pages)
        walls, out = [], None
        for _ in range(args.reps):
            t0 = time.perf_counter()
            out = fn()
            walls.append(round(time.perf_counter() - t0, 3))
        return min(walls), walls, out

    res: dict = {
        "n_docs": args.pages, "cpus": bench.CPUS, "reps": args.reps,
        "note": "warm best-of-3; run spread is wide because each family's "
                "partials are MB-scale fresh allocations and this sandbox "
                "faults new pages at ~20 MB/s (memtune.py)",
    }

    sec, runs, sk = timed(
        lambda: build_sketch(urls, "url", _mk_hll, _hll_from_bytes, string_items=True))
    res["hll_distinct_urls"] = {
        "sec": sec, "runs": runs, "rows_per_sec": round(args.pages / sec, 1),
        "estimate": int(sk.estimate()), "exact": args.pages,
    }

    sec, runs, bf = timed(
        lambda: build_sketch(urls, "url", _mk_bloom, _bloom_from_bytes, string_items=True))
    res["bloom_urls"] = {
        "sec": sec, "runs": runs, "rows_per_sec": round(args.pages / sec, 1),
        "contains_member": bool(bf.contains_strings([probe_url])[0]),
        "contains_nonmember": bool(bf.contains_strings(["https://no.such.example/x"])[0]),
    }

    sec, runs, kll = timed(
        lambda: build_sketch(doclen, "doclen", _mk_kll, _kll_from_bytes))
    res["kll_doclen"] = {
        "sec": sec, "runs": runs, "rows_per_sec": round(args.pages / sec, 1),
        "p50": float(kll.quantile([0.5])[0]),
    }

    sec, runs, td = timed(
        lambda: build_sketch(doclen, "doclen", _mk_td, _td_from_bytes, as_float=True))
    res["tdigest_doclen"] = {
        "sec": sec, "runs": runs, "rows_per_sec": round(args.pages / sec, 1),
        "p99": round(float(td.quantile([0.99])[0]), 1),
    }

    # Misra-Gries over the FULL token stream (~110 tokens/doc, tens of
    # millions distinct) — the deterministic frequent-items family's
    # stress case: state stays <= k pairs per partition while the stream
    # is ~100x the distinct count
    from functools import partial

    from parallel_count_min_sketch_spark.operators.heavy_hitters import _mg_from_bytes
    from parallel_count_min_sketch_spark.operators.sketch_agg import (
        build_sketch_from_text,
    )
    from parallel_count_min_sketch_spark.sketches.misra_gries import MisraGries

    sec, runs, mg = timed(
        lambda: build_sketch_from_text(pages, "text", partial(MisraGries, 512),
                                       _mg_from_bytes))
    res["mg_tokens"] = {
        "sec": sec, "runs": runs, "k": 512,
        "n_tokens": mg.n_total,
        "tokens_per_sec": round(mg.n_total / sec, 1),
        "error_bound": mg.error_bound(),
        "bound_guarantee": mg.n_total // 513,
        "kept_items": int(len(mg.items)),
    }

    out_path = os.path.join(REPO, "BENCH", "sketch_family_scale.json")
    with open(out_path, "w") as f:
        json.dump(res, f, indent=1)
    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
