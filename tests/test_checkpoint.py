"""Checkpoint/lineage/resume: a resumed build must be bit-identical to an
uninterrupted one, scanning only the input files that have no partial."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from parallel_count_min_sketch_spark.config import CMSConfig
from parallel_count_min_sketch_spark.operators.agg import build_cms_from_text
from parallel_count_min_sketch_spark.operators.checkpoint import CheckpointedCMSBuild
from parallel_count_min_sketch_spark.sources.web_pages import web_pages

CFG = CMSConfig(epsilon=0.01, delta=0.1, seed=21)


@pytest.fixture()
def ckpt_dir(tmp_path):
    return str(tmp_path / "ckpt")


@pytest.fixture()
def src(tmp_path):
    return str(tmp_path / "dataset")


def _write(spark, path, n, seed, files, mode="append"):
    web_pages(spark, n, seed=seed, partitions=files).write.mode(mode).parquet(path)


def _run_partitions(build):
    data = build.store.data_dir
    return sorted(os.path.join(data, d) for d in os.listdir(data)
                  if d.startswith("run="))


def _tree(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, files in os.walk(root) for f in files)


def _direct(spark, path):
    return build_cms_from_text(spark.read.parquet(path), "text", CFG).to_bytes()


def test_full_build_writes_lineage_and_matches_direct(spark, ckpt_dir, src):
    _write(spark, src, 400, seed=3, files=6)
    build = CheckpointedCMSBuild(CFG, ckpt_dir)
    sk = build.run(spark, src)
    assert sk.to_bytes() == _direct(spark, src)
    assert build.metrics["n_files"] == 6
    assert build.metrics["files_computed"] == 6
    assert build.metrics["rows_seen"] == sk.total
    assert os.path.exists(os.path.join(ckpt_dir, "meta.json"))


def test_resume_after_partial_loss(spark, ckpt_dir, src):
    """Simulate a lost write: drop the partials of the run that computed
    two of the files, resume, and verify only those files are recomputed
    and the merged result is unchanged."""
    _write(spark, src, 300, seed=3, files=4)
    build = CheckpointedCMSBuild(CFG, ckpt_dir)
    build.run(spark, src)
    first = _run_partitions(build)
    _write(spark, src, 100, seed=4, files=2)
    build.run(spark, src)

    (lost,) = set(_run_partitions(build)) - set(first)
    shutil.rmtree(lost)

    resumed = CheckpointedCMSBuild(CFG, ckpt_dir)
    sk2 = resumed.run(spark, src)
    assert resumed.metrics["files_skipped"] == 4
    assert resumed.metrics["files_computed"] == 2
    assert sk2.to_bytes() == _direct(spark, src)


def test_corrupt_partial_fails_resume_before_writing(spark, ckpt_dir, src):
    """A corrupt partial file is an error, not an empty checkpoint: the
    resume must fail before it recomputes and appends any partial."""
    _write(spark, src, 200, seed=5, files=4)
    build = CheckpointedCMSBuild(CFG, ckpt_dir)
    build.run(spark, src)
    (part,) = _run_partitions(build)
    with open(os.path.join(part, "part-99999-corrupt.parquet"), "wb") as f:
        f.write(b"this is not a parquet file")
    before = _tree(ckpt_dir)
    with pytest.raises(Exception) as err:
        CheckpointedCMSBuild(CFG, ckpt_dir).run(spark, src)
    assert "checkpoint incomplete" not in str(err.value)
    assert _tree(ckpt_dir) == before


def test_noop_resume_recomputes_nothing(spark, ckpt_dir, src):
    _write(spark, src, 200, seed=5, files=4)
    CheckpointedCMSBuild(CFG, ckpt_dir).run(spark, src)
    again = CheckpointedCMSBuild(CFG, ckpt_dir)
    sk = again.run(spark, src)
    assert again.metrics["files_computed"] == 0
    assert again.metrics["files_skipped"] == 4
    assert sk.total > 0
    assert sk.to_bytes() == _direct(spark, src)


def test_file_lineage_resume_scans_only_new_files(spark, ckpt_dir, src):
    """A resumed build must merge to the same sketch as a fresh full build
    while computing only the new files."""
    _write(spark, src, 300, seed=7, files=3)
    b1 = CheckpointedCMSBuild(CFG, ckpt_dir)
    b1.run(spark, src)
    assert b1.metrics["files_computed"] == b1.metrics["n_files"] >= 3

    # new files land (late-arriving data / previously failed files)
    _write(spark, src, 200, seed=8, files=2)
    b2 = CheckpointedCMSBuild(CFG, ckpt_dir)
    sk2 = b2.run(spark, src)
    assert b2.metrics["files_skipped"] == b1.metrics["n_files"]
    assert b2.metrics["files_computed"] == b2.metrics["n_files"] - b1.metrics["n_files"] > 0

    fresh = _direct(spark, src)
    assert sk2.to_bytes() == fresh
    # and a no-op resume computes nothing
    b3 = CheckpointedCMSBuild(CFG, ckpt_dir)
    sk3 = b3.run(spark, src)
    assert b3.metrics["files_computed"] == 0
    assert sk3.to_bytes() == fresh


def test_config_mismatch_rejected(spark, ckpt_dir, src):
    """A resume under another config fails before any compute, even when
    no file is new (it must not return the old config's sketch)."""
    _write(spark, src, 200, seed=5, files=4)
    CheckpointedCMSBuild(CFG, ckpt_dir).run(spark, src)
    before = _tree(ckpt_dir)
    other = CMSConfig(epsilon=0.01, delta=0.1, seed=999)
    with pytest.raises(ValueError, match="is bound to"):
        CheckpointedCMSBuild(other, ckpt_dir).run(spark, src)
    _write(spark, src, 100, seed=6, files=1)
    with pytest.raises(ValueError, match="is bound to"):
        CheckpointedCMSBuild(other, ckpt_dir).run(spark, src)
    assert _tree(ckpt_dir) == before


def test_dataset_overwrite_ignores_stale_partials(spark, ckpt_dir, src):
    """An overwritten dataset has new part-file names: the old files'
    partials must not be merged, and the result equals a fresh build."""
    _write(spark, src, 200, seed=5, files=4)
    CheckpointedCMSBuild(CFG, ckpt_dir).run(spark, src)
    _write(spark, src, 300, seed=9, files=4, mode="overwrite")
    build = CheckpointedCMSBuild(CFG, ckpt_dir)
    sk = build.run(spark, src)
    assert build.metrics["files_skipped"] == 0
    assert build.metrics["files_computed"] == 4
    assert sk.to_bytes() == _direct(spark, src)


def test_long_input_path_checkpoints_and_resumes(spark, tmp_path, ckpt_dir):
    """The input file URI is a data column, not a partition dir name, so
    a source path far past one directory name's 255-byte limit still
    checkpoints and resumes."""
    src = str(tmp_path.joinpath(*["d" * 60] * 4, "dataset"))
    assert len(src) > 250
    _write(spark, src, 200, seed=5, files=2)
    build = CheckpointedCMSBuild(CFG, ckpt_dir)
    sk = build.run(spark, src)
    (part,) = _run_partitions(build)
    assert len(os.path.basename(part)) == len("run=") + 40
    assert sk.to_bytes() == _direct(spark, src)
    again = CheckpointedCMSBuild(CFG, ckpt_dir)
    assert again.run(spark, src).to_bytes() == sk.to_bytes()
    assert again.metrics["files_computed"] == 0


def test_token_free_file_is_not_missing(spark, ckpt_dir, src):
    """A file whose text holds no token yields no partial; that is not an
    incomplete checkpoint, on the first run or on a resume."""
    _write(spark, src, 200, seed=5, files=2)
    web_pages(spark, 4, seed=6, partitions=1) \
        .withColumn("text", F.expr("IF(length(url) % 2 = 0, '  ', NULL)")) \
        .write.mode("append").parquet(src)
    for _ in range(2):
        build = CheckpointedCMSBuild(CFG, ckpt_dir)
        sk = build.run(spark, src)
        assert build.metrics["n_files"] == 3
        assert sk.to_bytes() == _direct(spark, src)
