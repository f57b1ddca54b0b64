"""The three benchmark workloads: inputs, the layer calls of one operation,
and the correctness checks run (untimed) after each operation.

An operation is split into the layer calls the benchmark times from
outside: ``construct`` builds the DataFrame (``plans`` / ``operators``),
``plannable`` names the DataFrame whose physical plan is forced as the
``spark.plan`` span (or None), ``execute`` runs it, ``fold`` is the
driver-side work after the results arrive.
"""

from __future__ import annotations

import hashlib
import math
import os
import random

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from parallel_count_min_sketch_spark.config import CMSConfig
from parallel_count_min_sketch_spark.sketches.hashing import djb2_batch
from parallel_count_min_sketch_spark.sketches.hll import HyperLogLog

from . import gen

CMS_CFG = CMSConfig(epsilon=0.001, delta=0.1, seed=12345)
HLL_PRECISION = 12
HLL_SEED = 77
HLL_BOUND = 3 * 1.04 / math.sqrt(1 << HLL_PRECISION)

SIZES = {
    "full": {
        "web_tokens": gen.WebSize(pages=8_000, vocab=2_000_000, hosts=8_000),
        "host_groups": gen.WebSize(pages=6_000, vocab=20_000, hosts=3_000),
        "query_mix": gen.TableSize(docs=20_000, events=400_000, users=1_500),
    },
    # for the benchmark's own smoke test
    "tiny": {
        "web_tokens": gen.WebSize(pages=400, vocab=20_000, hosts=100, files=2),
        "host_groups": gen.WebSize(pages=400, vocab=2_000, hosts=100, files=2),
        "query_mix": gen.TableSize(docs=100, events=2_000, users=200),
    },
}

# Two of the registry's sketch queries: CMS heavy hitters over document
# tokens (a count action while the DataFrame is built) and a grouped HLL
# over a Python kernel. Every set-up warms both, so each query costs set-up
# time three times per run; a round takes about 3 s on 4 cores.
QUERIES = ["cms_heavy_hitters", "hll_grouped_by_lang"]


class CheckFailed(Exception):
    """An operation's output disagrees with the truth or with itself."""


def make_hll() -> HyperLogLog:
    return HyperLogLog(HLL_PRECISION, HLL_SEED)


def hll_from_bytes(blob: bytes) -> HyperLogLog:
    return HyperLogLog.from_bytes(blob)


def hll_estimate_rows(row: dict) -> list[tuple]:
    sk = HyperLogLog.from_bytes(row["sketch"])
    return [(row["group"], int(row["rows_seen"]), float(sk.estimate()))]


HLL_ROWS_SCHEMA = "host STRING, rows_seen LONG, estimate DOUBLE"
HLL_ROWS_PA = pa.schema([("host", pa.string()), ("rows_seen", pa.int64()),
                         ("estimate", pa.float64())])


class Workload:
    name = ""
    kinds: list[str] = []
    warmup_kinds: list[str] = []

    def __init__(self, seed: int, scale: str = "full"):
        self.seed = seed
        self.size = SIZES[scale][self.name]
        self.spark = None
        self.probes = 0
        self.bound_misses = 0
        self._digests: dict[str, str] = {}

    def inputs(self) -> float:
        """Generate (or reuse) the inputs; returns generation seconds."""
        raise NotImplementedError

    def bind(self, spark) -> None:
        self.spark = spark

    def construct(self, kind: str):
        raise NotImplementedError

    def plannable(self, kind: str, handle):
        return handle

    def execute(self, kind: str, handle):
        return handle.collect()

    def fold(self, kind: str, raw):
        return raw

    def check(self, kind: str, result) -> None:
        raise NotImplementedError

    def result_rows(self, result) -> int:
        return len(result)

    def kernel_sample(self) -> pa.Array:
        """Strings from this workload's own input for the kernel bench."""
        raise NotImplementedError

    def _same_digest(self, key: str, digest: str) -> bool:
        """True when ``digest`` matches the first one seen for ``key``."""
        return self._digests.setdefault(key, digest) == digest


def _rows_digest(rows) -> str:
    h = hashlib.sha1()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
    return h.hexdigest()


class WebTokens(Workload):
    """Token CMS over the web corpus, once through each rail."""

    name = "web_tokens"
    kinds = ["arrow", "sql"]
    warmup_kinds = kinds

    def inputs(self) -> float:
        self.dir, gen_s = gen.ensure("web", self.seed, self.size)
        truth = pq.read_table(os.path.join(self.dir, "truth_tokens.parquet"))
        self.truth_ids = djb2_batch(truth.column("token"))
        self.truth_counts = truth.column("count").to_numpy()
        self.n_tokens = int(self.truth_counts.sum())
        return gen_s

    def bind(self, spark) -> None:
        super().bind(spark)
        self.pages = spark.read.parquet(os.path.join(self.dir, "pages"))

    def construct(self, kind: str):
        from pyspark.sql import functions as F

        if kind == "arrow":
            from parallel_count_min_sketch_spark.operators.agg import cms_text_partials

            return cms_text_partials(self.pages, "text", CMS_CFG)
        from parallel_count_min_sketch_spark.operators.sql_build import cms_table_df

        toks = self.pages.select(F.explode(F.split("text", " ")).alias("tok")) \
            .filter(F.col("tok") != "")
        return cms_table_df(toks, "tok", CMS_CFG, string_items=True)

    def plannable(self, kind: str, handle):
        # the Arrow rail executes through an RDD reduce, which plans anew
        return handle if kind == "sql" else None

    def execute(self, kind: str, handle):
        if kind == "arrow":
            from parallel_count_min_sketch_spark.operators.agg import merge_partials

            return merge_partials(handle, CMS_CFG)
        return handle.collect()

    def fold(self, kind: str, raw):
        if kind == "arrow":
            return raw
        # the same fill as jobs/cms_build_job.py --path sql
        sk = CMS_CFG.new_sketch()
        for r in raw:
            sk.table[r["depth_row"], r["bucket"]] = r["counter"]
        sk.total = int(sk.table[0].sum())
        return sk

    def check(self, kind: str, sk) -> None:
        if sk.total != self.n_tokens:
            raise CheckFailed(f"{kind}: sketch total {sk.total} != "
                              f"{self.n_tokens} generated tokens")
        digest = hashlib.sha1(sk.table.tobytes()).hexdigest()
        first = "table" not in self._digests
        if not self._same_digest("table", digest):
            raise CheckFailed(f"{kind}: table differs from the first build "
                              "(rails or repetitions disagree)")
        if first:
            est = sk.point_query(self.truth_ids)
            if (est < self.truth_counts).any():
                raise CheckFailed(f"{kind}: CMS estimate below the true count")
            over = est - self.truth_counts
            self.probes = len(est)
            self.bound_misses = int((over > CMS_CFG.epsilon * sk.total).sum())

    def result_rows(self, sk) -> int:
        return 1

    def kernel_sample(self) -> pa.Array:
        first = sorted(os.listdir(os.path.join(self.dir, "pages")))[0]
        text = pq.read_table(os.path.join(self.dir, "pages", first),
                             columns=["text"]).column("text")
        return pc.list_flatten(pc.split_pattern(text.combine_chunks(), " "))


class HostGroups(Workload):
    """One distinct-URL HLL per URL host (grouped rail)."""

    name = "host_groups"
    kinds = ["grouped"]
    warmup_kinds = kinds

    def inputs(self) -> float:
        self.dir, gen_s = gen.ensure("web", self.seed, self.size)
        truth = pq.read_table(os.path.join(self.dir, "truth_hosts.parquet"))
        self.truth = dict(zip(truth.column("host").to_pylist(),
                              truth.column("urls").to_pylist()))
        return gen_s

    def bind(self, spark) -> None:
        super().bind(spark)
        self.pages = spark.read.parquet(os.path.join(self.dir, "pages"))

    def construct(self, kind: str):
        from parallel_count_min_sketch_spark.operators.sketch_agg import (
            finalize_grouped, sketch_grouped)
        from parallel_count_min_sketch_spark.operators.skew import host_of_url

        urls = self.pages.select(host_of_url("url").alias("host"), "url")
        grouped = sketch_grouped(urls, "host", "url", make_hll, hll_from_bytes,
                                 string_items=True)
        return finalize_grouped(grouped, hll_estimate_rows, HLL_ROWS_SCHEMA,
                                HLL_ROWS_PA)

    def check(self, kind: str, rows) -> None:
        got = {r["host"]: (r["rows_seen"], r["estimate"]) for r in rows}
        if got.keys() != self.truth.keys():
            raise CheckFailed(f"{len(got)} host groups, expected {len(self.truth)}")
        bad = [h for h, n in self.truth.items() if got[h][0] != n]
        if bad:
            raise CheckFailed(f"rows_seen wrong for {len(bad)} hosts, e.g. {bad[0]}")
        first = "rows" not in self._digests
        if not self._same_digest("rows", _rows_digest(rows)):
            raise CheckFailed("grouped result differs between repetitions")
        if first:
            self.probes = len(self.truth)
            self.bound_misses = sum(
                abs(got[h][1] - n) > HLL_BOUND * n for h, n in self.truth.items())

    def kernel_sample(self) -> pa.Array:
        return pq.read_table(os.path.join(self.dir, "pages"),
                             columns=["url"]).column("url").combine_chunks()


class QueryMix(Workload):
    """Registry queries in a closed loop with one client."""

    name = "query_mix"

    def __init__(self, seed: int, scale: str = "full"):
        super().__init__(seed, scale)
        self.kinds = list(QUERIES)
        random.Random(seed).shuffle(self.kinds)
        self.warmup_kinds = self.kinds
        self._oracle_checked: set[str] = set()

    def inputs(self) -> float:
        self.dir, gen_s = gen.ensure("tables", self.seed, self.size)
        return gen_s

    def construct(self, kind: str):
        from parallel_count_min_sketch_spark.plans import all_queries

        return all_queries()[kind](self.spark, self.dir)

    def execute(self, kind: str, df):
        return df.columns, df.collect()

    def check(self, kind: str, result) -> None:
        cols, rows = result
        if not self._same_digest(kind, _rows_digest(rows)):
            raise CheckFailed(f"{kind}: result differs between repetitions")
        if kind in self._oracle_checked:
            return
        self._oracle_checked.add(kind)
        import duckdb
        import pandas as pd

        from parallel_count_min_sketch_spark.plans import all_oracles
        from scripts.check_correctness import normalize

        con = duckdb.connect()
        try:
            for t in ("documents", "events"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(self.dir, t)}.parquet')")
            want = normalize(con.execute(all_oracles()[kind]).df())
        finally:
            con.close()
        got = normalize(pd.DataFrame([tuple(r) for r in rows], columns=cols))
        if list(got.columns) != list(want.columns) or len(got) != len(want) \
                or not got.equals(want):
            raise CheckFailed(f"{kind}: result differs from its DuckDB oracle "
                              f"({len(got)} vs {len(want)} rows)")

    def result_rows(self, result) -> int:
        return len(result[1])

    def kernel_sample(self) -> pa.Array:
        text = pq.read_table(os.path.join(self.dir, "documents.parquet"),
                             columns=["text"]).column("text").combine_chunks()
        return pc.list_flatten(pc.split_pattern(text, " "))


WORKLOADS = {w.name: w for w in (WebTokens, HostGroups, QueryMix)}
