"""The sketch store's binding and the rule that one module knows the
persisted-sketch layout.

- The first write records a store's kernel, config digest, key columns
  and row key (and a stream writer's checkpoint); reopening it with
  another kernel, config, key layout or checkpoint raises in the constructor,
  before any compute, naming both sides. Opening alone creates nothing,
  so a reader that opens a new path first does not bind it.
- A source scan: only ``operators/sketch_store.py`` names ``meta.json``
  or uses ``partitionOverwriteMode``.
"""

import ast
import json
import os
from functools import partial
from pathlib import Path

import pytest

from parallel_count_min_sketch_spark.config import CMSConfig
from parallel_count_min_sketch_spark.operators.sketch_store import SketchStore
from parallel_count_min_sketch_spark.sketches.hll import HyperLogLog

PKG_DIR = Path(__file__).resolve().parents[1] / "parallel_count_min_sketch_spark"
CFG = CMSConfig(epsilon=0.01, delta=0.1, seed=7)
CMS = (CFG.new_sketch, CFG.from_bytes)
STREAM = ("batch_id", "bucket")


def _write_one(spark, store):
    """One (keys..., rows_seen, sketch) row: a single token's sketch."""
    sk = CFG.new_sketch()
    sk.update_strings(["a"])
    row = tuple("0" for _ in store.keys) + (1, sk.to_bytes())
    store.write(spark.createDataFrame(
        [row], ", ".join([f"`{k}` STRING" for k in store.keys]
                         + ["rows_seen BIGINT", "sketch BINARY"])))
    return sk


def test_reopen_checks_kernel_config_and_keys(spark, tmp_path):
    path = str(tmp_path / "store")
    _write_one(spark, SketchStore(path, ("bucket",), *CMS))
    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    assert meta["kernel"] == "CountMinSketch"
    assert meta["keys"] == ["bucket"]
    SketchStore(path, ("bucket",), *CMS)  # same binding: accepted

    other = CMSConfig(epsilon=0.01, delta=0.1, seed=8)
    hll = partial(HyperLogLog, 12, 7)
    for keys, mk, fb in [(("bucket",), other.new_sketch, other.from_bytes),
                         (("bucket",), hll, HyperLogLog.from_bytes),
                         (("file",), *CMS)]:
        with pytest.raises(ValueError, match="is bound to") as err:
            SketchStore(path, keys, mk, fb)
        assert meta["config_sha256"] in str(err.value)
    with pytest.raises(ValueError, match="is bound to"):
        SketchStore(path, ("bucket",), *CMS, row_key="file")
    with open(os.path.join(path, "meta.json")) as f:
        assert json.load(f) == meta


def test_stream_checkpoint_is_checked_only_when_given(spark, tmp_path):
    path = str(tmp_path / "store")
    ckpt_a = str(tmp_path / "ckptA")
    _write_one(spark, SketchStore(path, STREAM, *CMS, stream_checkpoint=ckpt_a))
    SketchStore(path, STREAM, *CMS)  # a reader
    SketchStore(path, STREAM, *CMS, stream_checkpoint=ckpt_a)
    with pytest.raises(ValueError, match="ckptA.*ckptB"):
        SketchStore(path, STREAM, *CMS,
                    stream_checkpoint=str(tmp_path / "ckptB"))


def test_reader_first_leaves_a_new_store_unbound(spark, tmp_path):
    """A reader opening a path before any writer creates nothing and reads
    an empty store; the stream that writes it later binds it to its own
    checkpoint."""
    path = str(tmp_path / "store")
    reader = SketchStore(path, STREAM, *CMS)
    assert not os.path.exists(path)
    assert reader.read(spark).count() == 0
    assert reader.fold(spark).to_bytes() == CFG.new_sketch().to_bytes()

    ckpt_a = str(tmp_path / "ckptA")
    sk = _write_one(spark, SketchStore(path, STREAM, *CMS,
                                       stream_checkpoint=ckpt_a))
    with open(os.path.join(path, "meta.json")) as f:
        assert json.load(f)["stream_checkpoint"] == ckpt_a
    assert reader.fold(spark).to_bytes() == sk.to_bytes()
    with pytest.raises(ValueError, match="stream_checkpoint"):
        SketchStore(path, STREAM, *CMS,
                    stream_checkpoint=str(tmp_path / "ckptB"))


def test_data_without_meta_is_refused(tmp_path):
    path = tmp_path / "store"
    (path / "data").mkdir(parents=True)
    with pytest.raises(ValueError, match="without a meta.json"):
        SketchStore(str(path), ("bucket",), *CMS)


def _strings(tree):
    """Non-docstring string constants of a module."""
    docs = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)) and node.body:
            first = node.body[0]
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant):
                docs.add(id(first.value))
    return [n.value for n in ast.walk(tree)
            if isinstance(n, ast.Constant) and isinstance(n.value, str)
            and id(n) not in docs]


def _modules_using(needle):
    found = set()
    for path in PKG_DIR.rglob("*.py"):
        tree = ast.parse(path.read_text(), filename=str(path))
        if any(needle in s for s in _strings(tree)):
            found.add(path.relative_to(PKG_DIR).as_posix())
    return found


def test_one_module_knows_the_store_layout():
    assert _modules_using("meta.json") == {"operators/sketch_store.py"}
    assert _modules_using("partitionOverwriteMode") == {
        "operators/sketch_store.py"}
