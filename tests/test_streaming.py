"""Structured Streaming token CMS: a stream feeding a sketch store under
one constant bucket must fold to the batch build over the same data,
resume after a restart, absorb a replayed batch, and refuse another
streaming checkpoint or config before the query starts."""

import os
from functools import partial

import pytest

from parallel_count_min_sketch_spark.config import CMSConfig
from parallel_count_min_sketch_spark.operators.agg import build_cms_from_text
from parallel_count_min_sketch_spark.operators.sketch_store import SketchStore
from parallel_count_min_sketch_spark.sources.web_pages import web_pages
from parallel_count_min_sketch_spark.streaming.stream_rollup import (
    STREAM_KEYS,
    sketch_sink,
    start_sketch_stream,
    token_sketch,
)

CFG = CMSConfig(epsilon=0.01, delta=0.1, seed=8)


def _tokens(cfg=CFG):
    return partial(token_sketch, text_col="text", make_sketch=cfg.new_sketch,
                   from_bytes=cfg.from_bytes)


def _store(path, cfg=CFG):
    return SketchStore(path, STREAM_KEYS, cfg.new_sketch, cfg.from_bytes)


def _start(stream, path, ckpt, cfg=CFG):
    return start_sketch_stream(stream, _tokens(cfg), path, cfg.new_sketch,
                               cfg.from_bytes, ckpt)


def _tree(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, files in os.walk(root) for f in files)


@pytest.fixture()
def staged_pages(spark, tmp_path):
    """Two parquet files in a dir, acting as a file-stream source."""
    src = str(tmp_path / "incoming")
    a = web_pages(spark, 200, seed=11, partitions=1)
    b = web_pages(spark, 150, seed=12, partitions=1)
    a.write.mode("append").parquet(src)
    b.write.mode("append").parquet(src)
    return src, a.unionByName(b)


def test_stream_build_equals_batch_build(spark, tmp_path, staged_pages):
    src, both = staged_pages
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")  # force multiple micro-batches
        .parquet(src)
    )
    q, store = _start(stream, str(tmp_path / "store"), str(tmp_path / "ckpt"))
    assert q.awaitTermination(180), "stream did not drain"
    assert store.read(spark).select("batch_id").distinct().count() >= 2
    expected = build_cms_from_text(both, "text", CFG)
    assert store.fold(spark).to_bytes() == expected.to_bytes()


def test_stream_resume_from_state(spark, tmp_path):
    src = str(tmp_path / "incoming")
    a = web_pages(spark, 120, seed=21, partitions=1)
    a.write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    path = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    q, _ = _start(spark.readStream.schema(schema).parquet(src), path, ckpt)
    assert q.awaitTermination(180), "stream did not drain"

    # new data arrives; a restarted query under the same checkpoint folds
    # into the same store, and Spark's source checkpoint skips the
    # processed files
    b = web_pages(spark, 80, seed=22, partitions=1)
    b.write.mode("append").parquet(src)
    q2, store = _start(spark.readStream.schema(schema).parquet(src), path, ckpt)
    assert q2.awaitTermination(180), "stream did not drain"

    expected = build_cms_from_text(a.unionByName(b), "text", CFG)
    assert store.fold(spark).to_bytes() == expected.to_bytes()


def test_replayed_batch_is_not_double_counted(spark, tmp_path):
    """foreachBatch is at-least-once: a crash between the store write and
    Spark's offset commit replays the micro-batch. The replay overwrites
    the batch's own partition, so it changes nothing."""
    df = web_pages(spark, 60, seed=31, partitions=1)
    path = str(tmp_path / "store")
    sink = sketch_sink(_store(path), _tokens())
    sink(df, 0)
    once = _store(path).fold(spark).to_bytes()
    sink(df, 0)  # replay on the live sink
    assert _store(path).fold(spark).to_bytes() == once
    # replay after a restart (store reopened from disk) is also a no-op
    sink2 = sketch_sink(_store(path), _tokens())
    sink2(df, 0)
    assert _store(path).fold(spark).to_bytes() == once
    sink2(df, 1)  # a genuinely new batch still merges
    assert _store(path).fold(spark).to_bytes() != once


def test_state_refuses_foreign_checkpoint_dir(spark, tmp_path):
    """Batch ids restart at 0 under a new streaming checkpoint dir; reusing
    a store there would overwrite the first stream's batches."""
    src = str(tmp_path / "incoming")
    web_pages(spark, 50, seed=41, partitions=1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    path = str(tmp_path / "store")
    q, _ = _start(spark.readStream.schema(schema).parquet(src), path,
                  str(tmp_path / "ckptA"))
    assert q.awaitTermination(180), "stream did not drain"
    before = _tree(path)

    with pytest.raises(ValueError, match="stream_checkpoint"):
        _start(spark.readStream.schema(schema).parquet(src), path,
               str(tmp_path / "ckptB"))
    assert spark.streams.active == []
    assert _tree(path) == before


def test_stream_store_rejects_other_config(spark, tmp_path):
    """A token store streamed under one seed refuses a restart under
    another seed, even with the same checkpoint, before the query starts."""
    src = str(tmp_path / "incoming")
    web_pages(spark, 50, seed=51, partitions=1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    path, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    q, _ = _start(spark.readStream.schema(schema).parquet(src), path, ckpt)
    assert q.awaitTermination(180), "stream did not drain"
    before = _tree(path)

    other = CMSConfig(epsilon=0.01, delta=0.1, seed=9)
    with pytest.raises(ValueError, match="is bound to"):
        _start(spark.readStream.schema(schema).parquet(src), path, ckpt, other)
    assert spark.streams.active == []
    assert _tree(path) == before
