"""Streaming maintenance of the rollup store: the stream-maintained
per-day partials must fold to the SAME bytes as the batch rollup (and
therefore as a direct build over the filtered rows), a foreachBatch
replay must not double-count, and a store is refused under another
config or another streaming checkpoint before anything is written."""

import os
from functools import partial

import pytest
from pyspark.sql import functions as F

from parallel_count_min_sketch_spark.config import CMSConfig
from parallel_count_min_sketch_spark.operators.rollup import (
    sketch_rollup_range,
    sketch_time_buckets,
)
from parallel_count_min_sketch_spark.operators.sketch_store import SketchStore
from parallel_count_min_sketch_spark.streaming.stream_rollup import (
    STREAM_KEYS,
    compact,
    sketch_sink,
    start_sketch_stream,
)

CFG = CMSConfig(epsilon=0.01, delta=0.1, seed=7)
CMS = (CFG.new_sketch, CFG.from_bytes)
LO, HI = "2024-01-05", "2024-01-12"


def _in_range():
    return F.col("bucket").between(LO, HI)


def _days(make_sketch, from_bytes):
    return partial(sketch_time_buckets, ts_col="ts", item_col="user_id",
                   make_sketch=make_sketch, from_bytes=from_bytes)


def _store(path, cfg=CFG):
    return SketchStore(path, STREAM_KEYS, cfg.new_sketch, cfg.from_bytes)


def _stream(spark, src, files_per_trigger):
    schema = spark.read.parquet(src).schema
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", str(files_per_trigger))
            .parquet(src))


def _tree(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, files in os.walk(root) for f in files)


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet("/root/testdata/sf0.001/events.parquet")


@pytest.fixture(scope="module")
def batch_range(events):
    return sketch_rollup_range(
        sketch_time_buckets(events, "ts", "user_id", *CMS), LO, HI, *CMS)


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


def test_stream_rollup_equals_batch_rollup(spark, tmp_path, staged_events,
                                           batch_range):
    q, store = start_sketch_stream(
        _stream(spark, staged_events, 1), _days(*CMS),
        str(tmp_path / "rollup_store"), *CMS, str(tmp_path / "ckpt"))
    assert q.awaitTermination(180), "stream did not drain within 180s"

    streamed = store.read(spark)
    # a day spanning both micro-batches carries two partial rows
    assert streamed.count() > streamed.select("bucket").distinct().count()
    assert store.fold(spark, _in_range()).to_bytes() == batch_range.to_bytes()


def test_compact_rollup_preserves_range_bytes(spark, tmp_path, events):
    """Compaction folds the per-(batch, day) partials into one row per
    day; every range query must answer with the same bytes before and
    after (merge associativity)."""
    store = _store(str(tmp_path / "store"))
    sink = sketch_sink(store, _days(*CMS))
    sink(events.filter(F.col("event_id") % 2 == 0), 0)
    sink(events.filter(F.col("event_id") % 2 == 1), 1)
    raw = store.read(spark)
    assert raw.count() > raw.select("bucket").distinct().count()

    compacted = compact(store, spark, str(tmp_path / "compacted"))
    back = compacted.read(spark)
    assert back.count() == back.select("bucket").distinct().count()
    assert (compacted.fold(spark, _in_range()).to_bytes()
            == store.fold(spark, _in_range()).to_bytes())


def test_stream_rollup_replay_is_idempotent(spark, tmp_path, events,
                                            batch_range):
    """At-least-once foreachBatch: replaying a batch overwrites its own
    (batch_id, bucket) directories instead of appending duplicates."""
    half = events.filter(F.col("event_id") % 2 == 0)
    other = events.filter(F.col("event_id") % 2 == 1)
    store = _store(str(tmp_path / "store"))
    sink = sketch_sink(store, _days(*CMS))
    sink(half, 0)
    sink(other, 1)
    once = store.fold(spark, _in_range())
    sink(half, 0)  # replay after a simulated crash-before-commit
    assert store.fold(spark, _in_range()).to_bytes() == once.to_bytes()
    assert once.to_bytes() == batch_range.to_bytes()


def test_generic_stream_rollup_hll_equals_batch(spark, tmp_path, events,
                                                staged_events):
    """The same streaming maintainer with another kernel: a
    stream-maintained per-day HLL store, drained in multiple micro-batches, must fold to registers
    BYTE-IDENTICAL to a one-shot batch rollup (HLL max-merge is
    idempotent AND associative, so the batch split cannot matter) — and
    therefore to a direct build over the date-filtered rows."""
    from parallel_count_min_sketch_spark.sketches.hll import HyperLogLog

    mk = partial(HyperLogLog, 12, 7)
    # package-level wrapper: a bound classmethod passed from a TEST module
    # is cloudpickled by value and trips over struct.Struct constants
    from parallel_count_min_sketch_spark.plans.sketch_queries import (
        _hll_from_bytes as fb,
    )
    q, store = start_sketch_stream(
        _stream(spark, staged_events, 1), _days(mk, fb),
        str(tmp_path / "hll_store"), mk, fb, str(tmp_path / "hll_ckpt"))
    assert q.awaitTermination(180), "stream did not drain within 180s"

    merged = store.fold(spark, _in_range())
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


def test_stream_rollup_store_rejects_other_config(spark, tmp_path,
                                                  staged_events):
    """A stream store written under one seed refuses a restart under
    another seed with the same streaming checkpoint, so only the config
    differs, before the query starts."""
    path, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    q, _ = start_sketch_stream(_stream(spark, staged_events, 1), _days(*CMS),
                               path, *CMS, ckpt)
    assert q.awaitTermination(180), "stream did not drain within 180s"
    before = _tree(path)
    other = CMSConfig(epsilon=0.01, delta=0.1, seed=8)
    with pytest.raises(ValueError, match="is bound to") as err:
        start_sketch_stream(_stream(spark, staged_events, 1),
                            _days(other.new_sketch, other.from_bytes), path,
                            other.new_sketch, other.from_bytes, ckpt)
    assert SketchStore(path, STREAM_KEYS, *CMS).binding["config_sha256"] \
        in str(err.value)
    assert spark.streams.active == []
    assert _tree(path) == before


def test_fresh_checkpoint_on_used_store_is_refused(spark, tmp_path,
                                                   staged_events, events):
    """Batch ids restart at 0 under a new streaming checkpoint, so the
    batch_id overwrite would replace or double-count the first stream's
    batches. The store is bound to its first checkpoint and refuses the
    second before any write."""
    path = str(tmp_path / "store")
    q, store = start_sketch_stream(_stream(spark, staged_events, 1),
                                   _days(*CMS), path, *CMS,
                                   str(tmp_path / "ckptA"))
    assert q.awaitTermination(180), "stream did not drain within 180s"
    whole = sketch_rollup_range(
        sketch_time_buckets(events, "ts", "user_id", *CMS),
        "0000-01-01", "9999-12-31", *CMS)
    assert store.fold(spark).to_bytes() == whole.to_bytes()
    before = _tree(path)

    with pytest.raises(ValueError, match="stream_checkpoint"):
        start_sketch_stream(_stream(spark, staged_events, 10), _days(*CMS),
                            path, *CMS, str(tmp_path / "ckptB"))
    assert spark.streams.active == []
    assert _tree(path) == before
    assert store.fold(spark).to_bytes() == whole.to_bytes()
