"""Streaming maintenance of the rollup store: the stream-maintained
per-day partials must fold to the SAME bytes as the batch rollup (and
therefore as a direct build over the filtered rows), and a foreachBatch
replay must not double-count."""

import pytest
from pyspark.sql import functions as F

from parallel_count_min_sketch_spark.config import CMSConfig
from parallel_count_min_sketch_spark.operators.rollup import (
    sketch_rollup_range,
    sketch_time_buckets,
)
from parallel_count_min_sketch_spark.streaming.stream_rollup import (
    read_stream_rollup,
    rollup_sink,
    start_rollup_stream,
)

CFG = CMSConfig(epsilon=0.01, delta=0.1, seed=7)
CMS = (CFG.new_sketch, CFG.from_bytes)
LO, HI = "2024-01-05", "2024-01-12"


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet("/root/testdata/sf0.001/events.parquet")


@pytest.fixture()
def staged_events(spark, tmp_path, events):
    """The events table staged as two parquet files, acting as a
    file-stream source that yields two micro-batches."""
    src = str(tmp_path / "incoming")
    a = events.filter(F.col("event_id") % 2 == 0).coalesce(1)
    b = events.filter(F.col("event_id") % 2 == 1).coalesce(1)
    a.write.mode("append").parquet(src)
    b.write.mode("append").parquet(src)
    return src


def test_stream_rollup_equals_batch_rollup(spark, tmp_path, events, staged_events):
    schema = spark.read.parquet(staged_events).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")  # force multiple micro-batches
        .parquet(staged_events)
    )
    store = str(tmp_path / "rollup_store")
    q = start_rollup_stream(stream, *CMS, "ts", "user_id", store,
                            str(tmp_path / "ckpt"))
    assert q.awaitTermination(180), "stream did not drain within 180s"

    streamed = read_stream_rollup(spark, store)
    # a day spanning both micro-batches carries two partial rows
    assert streamed.count() > streamed.select("bucket").distinct().count()
    merged = sketch_rollup_range(streamed, LO, HI, *CMS)
    batch = sketch_rollup_range(
        sketch_time_buckets(events, "ts", "user_id", *CMS), LO, HI, *CMS)
    assert merged.to_bytes() == batch.to_bytes()


def test_compact_rollup_preserves_range_bytes(spark, tmp_path, events):
    """Compaction folds the per-(batch, day) partials into one row per
    day; every range query must answer with the same bytes before and
    after (merge associativity)."""
    from parallel_count_min_sketch_spark.operators.rollup import read_rollup
    from parallel_count_min_sketch_spark.streaming.stream_rollup import (
        compact_rollup,
    )

    store = str(tmp_path / "store")
    sink = rollup_sink(*CMS, "ts", "user_id", store)
    sink(events.filter(F.col("event_id") % 2 == 0), 0)
    sink(events.filter(F.col("event_id") % 2 == 1), 1)
    raw = read_stream_rollup(spark, store)
    assert raw.count() > raw.select("bucket").distinct().count()

    out = str(tmp_path / "compacted")
    compact_rollup(spark, store, out, CFG.from_bytes)
    compacted = read_rollup(spark, out)
    assert compacted.count() == compacted.select("bucket").distinct().count()
    assert (
        sketch_rollup_range(compacted, LO, HI, *CMS).to_bytes()
        == sketch_rollup_range(raw, LO, HI, *CMS).to_bytes()
    )


def test_stream_rollup_replay_is_idempotent(spark, tmp_path, events):
    """At-least-once foreachBatch: replaying a batch overwrites its own
    (batch_id, bucket) directories instead of appending duplicates."""
    half = events.filter(F.col("event_id") % 2 == 0)
    other = events.filter(F.col("event_id") % 2 == 1)
    store = str(tmp_path / "store")
    sink = rollup_sink(*CMS, "ts", "user_id", store)
    sink(half, 0)
    sink(other, 1)
    once = sketch_rollup_range(read_stream_rollup(spark, store), LO, HI, *CMS)
    sink(half, 0)  # replay after a simulated crash-before-commit
    again = sketch_rollup_range(read_stream_rollup(spark, store), LO, HI, *CMS)
    assert once.to_bytes() == again.to_bytes()
    batch = sketch_rollup_range(
        sketch_time_buckets(events, "ts", "user_id", *CMS), LO, HI, *CMS)
    assert once.to_bytes() == batch.to_bytes()


def test_generic_stream_rollup_hll_equals_batch(spark, tmp_path, events,
                                                staged_events):
    """The same streaming maintainer with another kernel: a
    stream-maintained per-day HLL store, drained in multiple micro-batches, must fold to registers
    BYTE-IDENTICAL to a one-shot batch rollup (HLL max-merge is
    idempotent AND associative, so the batch split cannot matter) — and
    therefore to a direct build over the date-filtered rows."""
    from functools import partial

    from parallel_count_min_sketch_spark.sketches.hll import HyperLogLog

    mk = partial(HyperLogLog, 12, 7)
    # package-level wrapper: a bound classmethod passed from a TEST module
    # is cloudpickled by value and trips over struct.Struct constants
    from parallel_count_min_sketch_spark.plans.sketch_queries import (
        _hll_from_bytes as fb,
    )
    schema = spark.read.parquet(staged_events).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged_events)
    )
    store = str(tmp_path / "hll_store")
    q = start_rollup_stream(stream, mk, fb, "ts", "user_id", store,
                            str(tmp_path / "hll_ckpt"))
    assert q.awaitTermination(180), "stream did not drain within 180s"

    merged = sketch_rollup_range(read_stream_rollup(spark, store), LO, HI,
                                 mk, fb)
    batch = sketch_rollup_range(
        sketch_time_buckets(events, "ts", "user_id", mk, fb), LO, HI, mk, fb)
    assert merged.to_bytes() == batch.to_bytes()
    direct = HyperLogLog(12, 7)
    rows = (events.filter(
        (F.col("ts").cast("date") >= F.lit(LO).cast("date"))
        & (F.col("ts").cast("date") <= F.lit(HI).cast("date"))
        & F.col("user_id").isNotNull())
        .select("user_id").toPandas()["user_id"].to_numpy())
    direct.update_batch(rows)
    assert merged.to_bytes() == direct.to_bytes()
