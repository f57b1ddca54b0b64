"""Checkpoint/lineage/resume: a resumed build must be bit-identical to an
uninterrupted one, recomputing only the missing partitions."""

import os
import shutil

import numpy as np
import pytest

from parallel_count_min_sketch_spark.config import CMSConfig
from parallel_count_min_sketch_spark.operators.agg import build_cms_from_text
from parallel_count_min_sketch_spark.operators.checkpoint import CheckpointedCMSBuild
from parallel_count_min_sketch_spark.sources.web_pages import web_pages

CFG = CMSConfig(epsilon=0.01, delta=0.1, seed=21)


@pytest.fixture()
def ckpt_dir(tmp_path):
    return str(tmp_path / "ckpt")


def test_full_build_writes_lineage_and_matches_direct(spark, ckpt_dir):
    df = web_pages(spark, 400, seed=3, partitions=6)
    build = CheckpointedCMSBuild(CFG, ckpt_dir)
    sk = build.run(df, "text", input_desc="web_pages(400, seed=3)")
    direct = build_cms_from_text(df, "text", CFG)
    assert sk.to_bytes() == direct.to_bytes()
    assert build.metrics["n_partitions"] == 6
    assert build.metrics["partitions_computed"] == 6
    assert build.metrics["rows_seen"] == sk.total
    assert os.path.exists(os.path.join(ckpt_dir, "meta.json"))


def test_resume_after_partial_loss(spark, ckpt_dir):
    """Simulate executor loss: drop some partials from the checkpoint,
    resume, and verify only the missing partitions are recomputed and the
    merged result is unchanged."""
    df = web_pages(spark, 400, seed=3, partitions=6)
    build = CheckpointedCMSBuild(CFG, ckpt_dir)
    sk_full = build.run(df, "text")

    # knock out some completed partitions by rewriting the partials dir
    partials = spark.read.parquet(os.path.join(ckpt_dir, "partials"))
    kept = partials.filter("partition_id NOT IN (1, 4)").collect()
    shutil.rmtree(os.path.join(ckpt_dir, "partials"))
    spark.createDataFrame(kept, partials.schema).write.parquet(
        os.path.join(ckpt_dir, "partials")
    )

    resumed = CheckpointedCMSBuild(CFG, ckpt_dir)
    sk2 = resumed.run(df, "text")
    assert resumed.metrics["partitions_skipped"] == 4
    assert resumed.metrics["partitions_computed"] == 2
    assert sk2.to_bytes() == sk_full.to_bytes()


def test_corrupt_partial_fails_resume_before_writing(spark, ckpt_dir):
    """A corrupt partial file is an error, not an empty checkpoint: the
    resume must fail before it recomputes and appends any partial."""
    df = web_pages(spark, 200, seed=5, partitions=4)
    CheckpointedCMSBuild(CFG, ckpt_dir).run(df, "text")
    partials_dir = os.path.join(ckpt_dir, "partials")
    with open(os.path.join(partials_dir, "part-99999-corrupt.parquet"), "wb") as f:
        f.write(b"this is not a parquet file")
    before = sorted(os.listdir(partials_dir))
    with pytest.raises(Exception) as err:
        CheckpointedCMSBuild(CFG, ckpt_dir).run(df, "text", resume=True)
    assert "checkpoint incomplete" not in str(err.value)
    assert sorted(os.listdir(partials_dir)) == before


def test_noop_resume_recomputes_nothing(spark, ckpt_dir):
    df = web_pages(spark, 200, seed=5, partitions=4)
    CheckpointedCMSBuild(CFG, ckpt_dir).run(df, "text")
    again = CheckpointedCMSBuild(CFG, ckpt_dir)
    sk = again.run(df, "text")
    assert again.metrics["partitions_computed"] == 0
    assert again.metrics["partitions_skipped"] == 4
    assert sk.total > 0


def test_file_lineage_resume_scans_only_new_files(spark, ckpt_dir, tmp_path):
    """File-granular lineage: a resumed build must merge to the same
    sketch as a fresh full build while computing only the new files."""
    from parallel_count_min_sketch_spark.operators.checkpoint import FileCheckpointedCMSBuild

    src = str(tmp_path / "dataset")
    web_pages(spark, 300, seed=7, partitions=3).write.mode("append").parquet(src)
    b1 = FileCheckpointedCMSBuild(CFG, ckpt_dir)
    sk1 = b1.run(spark, src)
    assert b1.metrics["files_computed"] == b1.metrics["n_files"] >= 3

    # new files land (late-arriving data / previously failed files)
    web_pages(spark, 200, seed=8, partitions=2).write.mode("append").parquet(src)
    b2 = FileCheckpointedCMSBuild(CFG, ckpt_dir)
    sk2 = b2.run(spark, src)
    assert b2.metrics["files_skipped"] == b1.metrics["n_files"]
    assert b2.metrics["files_computed"] == b2.metrics["n_files"] - b1.metrics["n_files"] > 0

    fresh = build_cms_from_text(spark.read.parquet(src), "text", CFG)
    assert sk2.to_bytes() == fresh.to_bytes()
    # and a no-op resume computes nothing
    b3 = FileCheckpointedCMSBuild(CFG, ckpt_dir)
    sk3 = b3.run(spark, src)
    assert b3.metrics["files_computed"] == 0
    assert sk3.to_bytes() == fresh.to_bytes()


def test_config_mismatch_rejected(spark, ckpt_dir):
    df = web_pages(spark, 200, seed=5, partitions=4)
    CheckpointedCMSBuild(CFG, ckpt_dir).run(df, "text")
    other = CMSConfig(epsilon=0.01, delta=0.1, seed=999)
    with pytest.raises(ValueError, match="different config"):
        CheckpointedCMSBuild(other, ckpt_dir).run(df, "text")
    # a shuffled input is rejected outright: partition contents shift with
    # parallelism while the count stays fixed — resume would silently
    # drop/double-count rows (ADVICE r1)
    with pytest.raises(ValueError, match="lineage is unsound"):
        CheckpointedCMSBuild(CFG, ckpt_dir).run(df.repartition(3), "text")


def test_salted_repartition_rejected(spark, ckpt_dir):
    from parallel_count_min_sketch_spark.operators.skew import salted_repartition

    df = salted_repartition(web_pages(spark, 100, seed=5, partitions=4), 4)
    with pytest.raises(ValueError, match="lineage is unsound"):
        CheckpointedCMSBuild(CFG, ckpt_dir).run(df, "text")


def test_resume_false_clears_stale_partials(spark, ckpt_dir):
    """Starting over must not leave old-input partials next to new ones —
    the per-partition dedupe would arbitrarily keep stale rows."""
    old = web_pages(spark, 200, seed=5, partitions=4)
    CheckpointedCMSBuild(CFG, ckpt_dir).run(old, "text")
    new = web_pages(spark, 300, seed=9, partitions=4)
    sk = CheckpointedCMSBuild(CFG, ckpt_dir).run(new, "text", resume=False)
    fresh = build_cms_from_text(new, "text", CFG)
    assert sk.to_bytes() == fresh.to_bytes()


def test_changed_input_files_rejected(spark, ckpt_dir, tmp_path):
    src = str(tmp_path / "dataset")
    web_pages(spark, 100, seed=5, partitions=2).write.mode("append").parquet(src)
    df = spark.read.parquet(src)
    CheckpointedCMSBuild(CFG, ckpt_dir).run(df, "text")
    # new files land -> partition ids no longer line up with the lineage
    web_pages(spark, 100, seed=6, partitions=2).write.mode("append").parquet(src)
    df2 = spark.read.parquet(src)
    with pytest.raises(ValueError, match="input files changed"):
        CheckpointedCMSBuild(CFG, ckpt_dir).run(df2, "text")


def test_global_sort_rejected(spark, ckpt_dir):
    """A global orderBy range-partitions on SAMPLED boundaries — partition
    contents are not reproducible across runs, so lineage must refuse it
    (sortWithinPartitions keeps contents per-partition and stays fine)."""
    df = web_pages(spark, 100, seed=5, partitions=4)
    with pytest.raises(ValueError, match="lineage is unsound"):
        CheckpointedCMSBuild(CFG, ckpt_dir).run(df.orderBy("page_id"), "text")
    # non-global sort: same rows in the same partitions, only order differs
    sk = CheckpointedCMSBuild(CFG, ckpt_dir).run(
        df.sortWithinPartitions("page_id"), "text", resume=False)
    assert sk.total > 0
