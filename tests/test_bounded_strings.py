"""Worker memory bounded by string bytes, not Arrow batch rows.

- ``djb2_batch`` hashes in blocks of at most ``hashing._BLOCK_BYTES`` of
  UTF-8; with the bound monkeypatched down to a few bytes it still equals
  the scalar ``djb2_py`` token by token, the largest UTF-8 bytes at the
  maximum length stay exact without a per-byte modulo, and a token over
  ``_MAX_TOKEN_LEN`` bytes still raises.
- ``_arrow_np.token_counts`` tokenizes a text column in slices bounded by
  text bytes. With the slice bound monkeypatched small, every token-count
  kernel (the CMS and HLL text partials, the grouped text partials and
  both outputs of ``fused_sketch_and_candidates``)
  is byte-identical to a one-slice run. The kernels are the real worker
  functions, captured from ``mapInArrow`` with a stub DataFrame.
- A fresh interpreter with the worker's malloc settings folds an 8 MB
  high-cardinality text batch into a CMS (``token_counts`` +
  ``fold_token_counts``, which hashes with ``djb2_batch``) with a bounded
  ``VmHWM`` growth, for Zipf and for near-all-distinct tokens.
"""

import functools
import json
import subprocess
import sys
import textwrap
from pathlib import Path

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from parallel_count_min_sketch_spark import _arrow_np as anp
from parallel_count_min_sketch_spark.config import CMSConfig
from parallel_count_min_sketch_spark.operators import heavy_hitters, sketch_agg
from parallel_count_min_sketch_spark.sketches import hashing
from parallel_count_min_sketch_spark.sketches.hashing import djb2_batch, djb2_py
from parallel_count_min_sketch_spark.sketches.hll import HyperLogLog

ROOT = Path(__file__).resolve().parents[1]
CFG = CMSConfig(epsilon=0.01, delta=0.1, seed=12345)
LONG = "é" * 2048  # 4,096 UTF-8 bytes: the longest token djb2 takes


# ------------------------------ djb2 blocks ---------------------------------
@settings(max_examples=60, deadline=None)
@given(
    tokens=st.lists(st.one_of(st.none(), st.text(max_size=12),
                              st.just(""), st.just(LONG)), max_size=40),
    block=st.integers(1, 24),
    offset=st.integers(0, 3),
    large=st.booleans(),
)
def test_djb2_blocks_equal_scalar(tokens, block, offset, large):
    arr = pa.array(["pad"] * offset + tokens,
                   pa.large_string() if large else pa.string()).slice(offset)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(hashing, "_BLOCK_BYTES", block)
        got = djb2_batch(arr)
    assert got.tolist() == [djb2_py(t or "") for t in tokens]


def test_djb2_largest_bytes_at_max_len_equal_scalar():
    """The kernel sums a token's terms with no per-byte modulo: 4,096 bytes
    of ``F4 8F BF BF`` (the largest UTF-8 bytes, at the maximum length)
    keep every segment sum below 2^53, so the hash stays exact."""
    top = "\U0010FFFF" * 1024
    assert len(top.encode("utf-8")) == hashing._MAX_TOKEN_LEN
    for tokens in ([top], ["a", top, "", "日本", top, "zz", None]):
        assert djb2_batch(tokens).tolist() == [djb2_py(t or "") for t in tokens]


def test_djb2_token_over_max_len_raises():
    assert djb2_batch([LONG]).tolist() == [djb2_py(LONG)]
    with pytest.raises(ValueError):
        djb2_batch(["a", LONG + "x"])


# ---------------------------- token_counts slices ---------------------------
class _StubDF:
    """Stands in for a DataFrame: ``mapInArrow`` returns the worker
    function instead of planning it, so the test runs it in-process."""

    def select(self, *cols):
        return self

    def mapInArrow(self, fn, schema):
        return fn


def _texts():
    rng = np.random.default_rng(5)
    words = [f"w{i}" for i in range(40)] + ["日本", "é"]
    texts = [" ".join(rng.choice(words, size=rng.integers(0, 30)))
             for _ in range(60)]
    texts += [None, "", "   ", " ".join(["long"] * 200), "a  b ", None]
    # repetitive rows: few distinct tokens, so slices take the growth branch
    texts += [" ".join(["rep", "rep", "eat", "rep"] * 20)] * 40
    return texts


def _batches():
    texts = _texts()
    groups = [("g0", "g1", "g2")[i % 3] for i in range(len(texts))]
    # two batches: the sliced state must carry across batch boundaries
    return [pa.record_batch([pa.array(groups[lo:hi]), pa.array(texts[lo:hi])],
                            names=["group", "text"])
            for lo, hi in ((0, 50), (50, len(texts)))]


def _run(kernel, text_only=True):
    batches = _batches()
    if text_only:
        batches = [pa.record_batch([b.column(1)], names=["text"])
                   for b in batches]
    return pa.Table.from_batches(list(kernel(iter(batches))))


KERNELS = {
    "cms_text_partials": lambda: sketch_agg.text_token_partials(
        _StubDF(), "text", CFG.new_sketch),
    "hll_text_partials": lambda: sketch_agg.text_token_partials(
        _StubDF(), "text", functools.partial(HyperLogLog, 10, 3)),
    "grouped_text_partials": lambda: sketch_agg.text_token_grouped_partials(
        _StubDF(), "group", "text", CFG.new_sketch),
    "fused_sketch_and_candidates":
        lambda: heavy_hitters.fused_sketch_and_candidates(
            _StubDF(), "text", CFG, 7),
}


@pytest.mark.parametrize("name", sorted(KERNELS))
def test_sliced_kernels_equal_one_slice(name, monkeypatch):
    text_only = name != "grouped_text_partials"
    monkeypatch.setattr(anp, "_SLICE_BYTES", 1 << 40)
    whole = _run(KERNELS[name](), text_only)
    monkeypatch.setattr(anp, "_SLICE_BYTES", 48)  # < the 1,000-byte row
    sliced = _run(KERNELS[name](), text_only)
    assert whole.num_rows > 0
    assert sliced.equals(whole)
    if name == "fused_sketch_and_candidates":  # both outputs are present
        assert set(whole.column("kind").to_pylist()) == {0, 1}


def test_token_counts_slices_grow_on_repetitive_text(monkeypatch):
    monkeypatch.setattr(anp, "_SLICE_BYTES", 48)
    rep = pa.array([" ".join(["rep", "rep", "eat", "rep"] * 3)] * 200)
    per_slice = [int(c.sum()) for _, c in anp.token_counts(rep)]
    assert sum(per_slice) == 200 * 12
    # each row is 47 bytes: budgets of 48, 192 and 768 bytes hold 1, 4, 16
    assert per_slice[:3] == [12, 48, 192]
    mixed = pa.array([f"a{i} b{i} c{i}" for i in range(100)])
    assert all(len(v) * 4 >= int(c.sum()) for v, c in anp.token_counts(mixed))
    assert len(list(anp.token_counts(mixed))) > 1  # high-cardinality: no growth


def test_token_counts_skip_rows_without_tokens(monkeypatch):
    monkeypatch.setattr(anp, "_SLICE_BYTES", 4)
    texts = pa.array([None, "", "   ", "x y", None, " y "])
    got = {}
    for vals, counts in anp.token_counts(texts):
        for v, c in zip(vals.to_pylist(), counts.tolist()):
            got[v] = got.get(v, 0) + c
    assert got == {"x": 1, "y": 2}
    assert list(anp.token_counts(pa.array([], pa.string()))) == []


# ------------------------------- memory guard -------------------------------
_GUARD = textwrap.dedent("""
    import json, sys
    sys.path.insert(0, {root!r})
    import numpy as np
    import pyarrow as pa

    from parallel_count_min_sketch_spark import _arrow_np as anp
    from parallel_count_min_sketch_spark.config import CMSConfig
    from parallel_count_min_sketch_spark.memtune import tune_worker
    from parallel_count_min_sketch_spark.operators.sketch_agg import (
        fold_token_counts)


    def hwm_kb():
        with open("/proc/self/status") as f:
            return next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))


    tune_worker()
    # ~8 MB of text, 100 tokens "w<7 digits> " per row. Token ids follow
    # the web_tokens workload: Zipf (s=1) over a 2M vocabulary, drawn as
    # floor(V ** u) - 1 so no CDF table is built. Written 16,384 tokens at
    # a time so the build's own peak stays small.
    n_tok, width, chunk, vocab = 930_000, 9, 1 << 14, 2_000_000
    rng = np.random.default_rng(11)
    data = np.empty(n_tok * width, dtype=np.uint8)
    place = 10 ** np.arange(6, -1, -1, dtype=np.int64)
    for lo in range(0, n_tok, chunk):
        u = rng.random(min(chunk, n_tok - lo))
        ids = np.floor(np.exp(u * np.log(vocab))).astype(np.int64) - 1
        tok = np.empty((len(ids), width), dtype=np.uint8)
        tok[:, 0], tok[:, -1] = ord("w"), ord(" ")
        tok[:, 1:-1] = ids[:, None] // place % 10 + ord("0")
        data[lo * width:(lo + len(ids)) * width] = tok.ravel()
    offsets = np.arange(0, n_tok * width + 1, 100 * width, dtype=np.int32)
    texts = pa.Array.from_buffers(pa.string(), len(offsets) - 1, [
        None, pa.py_buffer(offsets), pa.py_buffer(data)])
    sk = CMSConfig(epsilon=0.001, delta=0.1, seed=12345).new_sketch()
    for vals, counts in anp.token_counts(texts.slice(0, 1)):  # warm imports
        fold_token_counts(sk, vals, counts)
    before = hwm_kb()
    for vals, counts in anp.token_counts(texts):
        fold_token_counts(sk, vals, counts)
    print(json.dumps({{"text_mb": len(data) / 2**20, "tokens": int(sk.total),
                      "growth_mb": (hwm_kb() - before) / 1024}}))
""")


@pytest.mark.skipif(not Path("/proc/self/status").exists(),
                    reason="needs /proc/self/status (Linux)")
def test_token_fold_heap_growth_is_bounded_by_string_bytes():
    out = subprocess.run([sys.executable, "-c", _GUARD.format(root=str(ROOT))],
                         capture_output=True, text=True, timeout=300, check=True)
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["tokens"] == 930_000 + 100 and got["text_mb"] > 7.9
    assert got["growth_mb"] < 24, got


# The same fold over near-all-distinct text: uniform ids over 400k words
# leave most of each slice distinct, so ``value_counts`` and the CMS update
# over ``sketch_agg._CHUNK`` items carry nearly every token.
_ZIPF_DRAW = ("n_tok, width, chunk, vocab = 930_000, 9, 1 << 14, 2_000_000",
              "ids = np.floor(np.exp(u * np.log(vocab))).astype(np.int64) - 1")
_UNIFORM_DRAW = ("n_tok, width, chunk, vocab = 930_000, 9, 1 << 14, 400_000",
                 "ids = np.floor(u * vocab).astype(np.int64)")


@pytest.mark.skipif(not Path("/proc/self/status").exists(),
                    reason="needs /proc/self/status (Linux)")
def test_near_distinct_token_fold_heap_growth_is_bounded():
    guard = _GUARD
    for zipf, uniform in zip(_ZIPF_DRAW, _UNIFORM_DRAW):
        assert guard.count(zipf) == 1
        guard = guard.replace(zipf, uniform)
    out = subprocess.run([sys.executable, "-c", guard.format(root=str(ROOT))],
                         capture_output=True, text=True, timeout=300, check=True)
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["tokens"] == 930_000 + 100 and got["text_mb"] > 7.9
    assert got["growth_mb"] < 24, got
