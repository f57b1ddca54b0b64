"""Generic sketch rails: weighted (pre-aggregated) builds and per-group
sketches must agree with the exploded / per-group sequential builds."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from parallel_count_min_sketch_spark.operators.sketch_agg import (
    build_sketch,
    sketch_grouped,
)
from parallel_count_min_sketch_spark.sketches.cms import CountMinSketch
from parallel_count_min_sketch_spark.sketches.hll import HyperLogLog
from parallel_count_min_sketch_spark.sketches.kll import KLLSketch
from parallel_count_min_sketch_spark.sketches.tdigest import TDigest


@pytest.fixture(scope="module", autouse=True)
def _ship_module(spark):
    # factories below are pickled by reference to THIS module; make it
    # importable on executors
    spark.sparkContext.addPyFile(__file__)


def _mk_cms():
    return CountMinSketch(0.01, 0.1, seed=5)


def _cms_from_bytes(b):
    return CountMinSketch.from_bytes(b, 0.01, 0.1)


def _mk_hll():
    return HyperLogLog(10, seed=5)


def _mk_kll():
    return KLLSketch(200, seed=5)


def _mk_td():
    return TDigest(100.0)


# module-level wrappers: bound classmethods pickle by value and trip over
# module-level struct.Struct constants (same pattern as plans/sketch_queries)
def _hll_from_bytes(b):
    return HyperLogLog.from_bytes(b)


def _kll_from_bytes(b):
    return KLLSketch.from_bytes(b)


def _td_from_bytes(b):
    return TDigest.from_bytes(b)


@pytest.fixture(scope="module")
def weighted_df(spark):
    rng = np.random.default_rng(7)
    items = rng.integers(1, 400, size=600)
    counts = rng.integers(1, 6, size=600)
    rows = [(int(i), int(c)) for i, c in zip(items, counts)]
    df = spark.createDataFrame(rows, "item BIGINT, cnt BIGINT").repartition(4)
    exploded = df.select(
        F.explode(F.expr("transform(sequence(1, cnt), x -> item)")).alias("item")
    )
    return df, exploded


def test_weighted_cms_equals_exploded(spark, weighted_df):
    df, exploded = weighted_df
    w = build_sketch(df, "item", _mk_cms, _cms_from_bytes, weight_col="cnt")
    e = build_sketch(exploded, "item", _mk_cms, _cms_from_bytes)
    assert w.to_bytes() == e.to_bytes()  # CMS is weight-exact and order-free


def test_weighted_hll_equals_exploded(spark, weighted_df):
    df, exploded = weighted_df
    w = build_sketch(df, "item", _mk_hll, _hll_from_bytes, weight_col="cnt")
    e = build_sketch(exploded, "item", _mk_hll, _hll_from_bytes)
    # duplicates are invariant for HLL -> identical registers
    assert w.to_bytes() == e.to_bytes()


def test_weighted_kll_counts_all_mass(spark, weighted_df):
    df, _ = weighted_df
    total = df.agg(F.sum("cnt")).collect()[0][0]
    w = build_sketch(df, "item", _mk_kll, _kll_from_bytes,
                     weight_col="cnt", as_float=False)
    assert w.n == total  # repeat-expansion consumed every weighted row
    # rank guarantee against the exact weighted distribution
    rows = df.collect()
    data = np.repeat([r["item"] for r in rows], [r["cnt"] for r in rows])
    data.sort()
    for q in (0.1, 0.5, 0.9):
        est = float(w.quantile(np.array([q]))[0])
        rank = np.searchsorted(data, est, side="right") / data.size
        assert abs(rank - q) < 0.05


def test_weighted_tdigest_native_weights(spark, weighted_df):
    df, _ = weighted_df
    w = build_sketch(df, "item", _mk_td, _td_from_bytes,
                     weight_col="cnt", as_float=False)
    rows = df.collect()
    data = np.repeat([r["item"] for r in rows], [r["cnt"] for r in rows])
    data.sort()
    assert int(round(w.n)) == data.size
    for q in (0.1, 0.5, 0.9):
        est = float(w.quantile(np.array([q]))[0])
        rank = np.searchsorted(data, est, side="right") / data.size
        assert abs(rank - q) < 0.05


def test_weighted_nulls_and_zeros_are_dropped(spark):
    """Null weight = no occurrences (SQL SUM semantics, not int64(nan)
    garbage); zero weight must not touch HLL/Bloom registers; negative
    weights are rejected."""
    rows = [(1, 3), (2, None), (3, 0), (4, 2)]
    df = spark.createDataFrame(rows, "item BIGINT, cnt BIGINT").repartition(2)
    clean = spark.createDataFrame([(1, 3), (4, 2)], "item BIGINT, cnt BIGINT")

    w = build_sketch(df, "item", _mk_cms, _cms_from_bytes, weight_col="cnt")
    e = build_sketch(clean, "item", _mk_cms, _cms_from_bytes, weight_col="cnt")
    assert w.to_bytes() == e.to_bytes()
    assert w.total == 5

    h = build_sketch(df, "item", _mk_hll, _hll_from_bytes, weight_col="cnt")
    he = build_sketch(clean, "item", _mk_hll, _hll_from_bytes, weight_col="cnt")
    assert h.to_bytes() == he.to_bytes()  # items 2 and 3 never inserted

    neg = spark.createDataFrame([(1, -2)], "item BIGINT, cnt BIGINT")
    with pytest.raises(Exception, match="negative weights"):
        build_sketch(neg, "item", _mk_cms, _cms_from_bytes, weight_col="cnt")


@pytest.mark.parametrize("parts", [8, 32])
def test_multi_level_fanin_hll_equals_sequential(spark, monkeypatch, parts):
    """The generic rail through several mapInArrow merge levels (fan-in
    2): HLL registers equal the sequential build's bit for bit."""
    from parallel_count_min_sketch_spark.operators import sketch_agg

    monkeypatch.setattr(sketch_agg, "FANIN", 2)
    items = np.random.default_rng(3).integers(1, 100_000, size=20_000)
    df = spark.createDataFrame([(int(x),) for x in items], "item BIGINT")
    got = build_sketch(df.repartition(parts), "item", _mk_hll, _hll_from_bytes)
    exp = _mk_hll()
    exp.update_batch(items)
    assert got.to_bytes() == exp.to_bytes()


@pytest.mark.parametrize("mk,fb", [(_mk_hll, _hll_from_bytes),
                                   (_mk_cms, _cms_from_bytes)],
                         ids=["hll", "cms"])
def test_grouped_hll_matches_per_group_sequential(spark, mk, fb):
    """The stacked grouped folds (scatter-max for HLL, scatter-add for
    CMS) equal a per-group sequential build byte for byte."""
    rng = np.random.default_rng(11)
    rows = [
        (["en", "de", "fr"][int(g)], int(x))
        for g, x in zip(rng.integers(0, 3, 3000), rng.integers(1, 500, 3000))
    ]
    df = spark.createDataFrame(rows, "lang STRING, item BIGINT").repartition(5)
    out = sketch_grouped(df, "lang", "item", mk, fb).collect()
    got = {r["group"]: fb(bytes(r["sketch"])) for r in out}
    assert set(got) == {"en", "de", "fr"}
    for r in out:
        assert r["rows_seen"] == sum(1 for l, _ in rows if l == r["group"])
    for lang in got:
        exp = mk()
        exp.update_batch(np.array([x for l, x in rows if l == lang]))
        assert got[lang].to_bytes() == exp.to_bytes()


def test_stacked_fold_dispatch_is_by_exact_type():
    """Only the exact CountMinSketch / HyperLogLog types get a stacked
    fold; subclasses and other kernels take the per-group-segment fold."""
    from parallel_count_min_sketch_spark.operators.sketch_agg import (
        GroupedCMSFold,
        GroupedHLLFold,
        _stacked_fold,
    )

    class SubCMS(CountMinSketch):
        pass

    assert type(_stacked_fold(_mk_cms())) is GroupedCMSFold
    assert type(_stacked_fold(_mk_hll())) is GroupedHLLFold
    assert _stacked_fold(SubCMS(0.01, 0.1, seed=5)) is None
    assert _stacked_fold(_mk_kll()) is None


def test_repeat_bounded_matches_unbounded_mass():
    """Bounded 'repeat' expansion (chunked np.repeat) consumes the same
    mass and honors the rank guarantee even when one row's weight dwarfs
    the chunk cap (pre-aggregated shape that used to OOM)."""
    from parallel_count_min_sketch_spark.operators.sketch_agg import (
        _update_repeat_bounded,
    )

    vals = np.array([1.0, 2.0, 3.0, 4.0])
    w = np.array([5, 3000, 17, 700])
    sk = KLLSketch(200, seed=5)
    _update_repeat_bounded(sk, vals, w, max_chunk=256)
    assert sk.n == int(w.sum())
    data = np.sort(np.repeat(vals, w))
    for q in (0.1, 0.5, 0.9):
        est = float(sk.quantile(np.array([q]))[0])
        # heavy atoms make single-value rank intervals wide: the estimate
        # is right when q lies inside its [left_rank, right_rank] interval
        lo = np.searchsorted(data, est, side="left") / data.size
        hi = np.searchsorted(data, est, side="right") / data.size
        assert lo - 0.05 <= q <= hi + 0.05


def test_repeat_bounded_one_bin_per_row_shape():
    """Adversarial shape for the run binning: every weight just under the
    chunk cap puts each row in its own bin. The contiguous-run slicing must
    still consume exact mass (the old per-bin boolean mask was
    O(n_rows * n_bins) here)."""
    from parallel_count_min_sketch_spark.operators.sketch_agg import (
        _update_repeat_bounded,
    )

    n = 64
    vals = np.arange(n, dtype=np.float64)
    w = np.full(n, 255, dtype=np.int64)  # max_chunk-1 each: one bin per row
    sk = KLLSketch(200, seed=5)
    _update_repeat_bounded(sk, vals, w, max_chunk=256)
    assert sk.n == int(w.sum())
    est = float(sk.quantile(np.array([0.5]))[0])
    assert 0 <= est < n


def test_weighted_dyadic_native_equals_exploded():
    """DyadicCMS declares WEIGHTED='native': a weighted build must be
    bit-identical to the exploded per-occurrence build at every level
    (and must NOT route through repeat expansion)."""
    from parallel_count_min_sketch_spark.operators.sketch_agg import _weighted_update
    from parallel_count_min_sketch_spark.sketches.dyadic import DyadicCMS

    assert DyadicCMS.WEIGHTED == "native"
    vals = np.array([3, 90, 4097, 3, 17], dtype=np.int64)
    w = np.array([2, 5, 1, 3, 4], dtype=np.int64)
    a = DyadicCMS(0.01, 0.1, 7, base=4, levels=5)
    consumed = _weighted_update(a, vals, w)
    assert consumed == int(w.sum())
    b = DyadicCMS(0.01, 0.1, 7, base=4, levels=5)
    b.update_batch(np.repeat(vals, w))
    assert a.to_bytes() == b.to_bytes()


@pytest.fixture(scope="module")
def grouped_weighted_df(spark):
    rng = np.random.default_rng(11)
    groups = rng.choice(["en", "de", "fr"], size=500).tolist()
    items = rng.integers(1, 300, size=500)
    counts = rng.integers(1, 5, size=500)
    rows = [(g, int(i), int(c)) for g, i, c in zip(groups, items, counts)]
    df = spark.createDataFrame(rows, "g STRING, item BIGINT, cnt BIGINT") \
        .repartition(4)
    exploded = df.select(
        "g", F.explode(F.expr("transform(sequence(1, cnt), x -> item)")).alias("item")
    )
    return df, exploded


def test_weighted_grouped_cms_equals_exploded(spark, grouped_weighted_df):
    from parallel_count_min_sketch_spark.config import CMSConfig
    from parallel_count_min_sketch_spark.operators.agg import cms_grouped

    df, exploded = grouped_weighted_df
    cfg = CMSConfig(epsilon=0.01, delta=0.1, seed=5)
    w = {r["group"]: bytes(r["sketch"])
         for r in cms_grouped(df, "g", "item", cfg, weight_col="cnt").collect()}
    e = {r["group"]: bytes(r["sketch"])
         for r in cms_grouped(exploded, "g", "item", cfg).collect()}
    assert w == e  # native weighted CMS update is exact per group


def test_weighted_grouped_hll_equals_exploded(spark, grouped_weighted_df):
    df, exploded = grouped_weighted_df
    w = {r["group"]: bytes(r["sketch"])
         for r in sketch_grouped(df, "g", "item", _mk_hll, _hll_from_bytes,
                                 weight_col="cnt").collect()}
    e = {r["group"]: bytes(r["sketch"])
         for r in sketch_grouped(exploded, "g", "item", _mk_hll,
                                 _hll_from_bytes).collect()}
    assert w == e  # duplicates invariant for HLL -> identical registers


def test_text_build_equals_exploded_build(spark, sf_dir):
    """build_sketch_from_text (doc-local tokenize + value_counts +
    weighted update) must produce the same state as the exploded-row
    build for an order/duplicate-invariant kernel (HLL: register = max)."""
    from pyspark.sql import functions as F

    from parallel_count_min_sketch_spark.operators.sketch_agg import (
        build_sketch, build_sketch_from_text)
    from parallel_count_min_sketch_spark.plans.sketch_queries import (
        _hll_from_bytes, _mk_hll)
    from parallel_count_min_sketch_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok")) \
        .filter(F.col("tok") != "")
    a = build_sketch_from_text(docs, "text", _mk_hll, _hll_from_bytes)
    b = build_sketch(toks, "tok", _mk_hll, _hll_from_bytes, string_items=True)
    assert (a.registers == b.registers).all()
    # and the weighted path consumed the same token mass as the stream
    assert a.estimate() == b.estimate()


def test_grouped_text_build_equals_exploded_grouped(spark, sf_dir):
    """sketch_grouped_from_text must match sketch_grouped over the
    exploded (group, token) stream for an order-invariant kernel (HLL)."""
    from pyspark.sql import functions as F

    from parallel_count_min_sketch_spark.operators.sketch_agg import (
        sketch_grouped, sketch_grouped_from_text)
    from parallel_count_min_sketch_spark.plans.sketch_queries import (
        _hll_from_bytes, _mk_hll)
    from parallel_count_min_sketch_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    toks = docs.select("lang", F.explode(F.split("text", " ")).alias("tok")) \
        .filter(F.col("tok") != "")
    a = {r["group"]: (r["rows_seen"], bytes(r["sketch"]))
         for r in sketch_grouped_from_text(
             docs.select(F.col("lang").alias("group"), "text"),
             "group", "text", _mk_hll, _hll_from_bytes).collect()}
    b = {r["group"]: (r["rows_seen"], bytes(r["sketch"]))
         for r in sketch_grouped(toks, "lang", "tok", _mk_hll,
                                 _hll_from_bytes, string_items=True).collect()}
    assert set(a) == set(b) and len(a) >= 2
    for g in a:
        assert a[g][0] == b[g][0]  # same token mass per group
        ra = _hll_from_bytes(a[g][1]).registers
        rb = _hll_from_bytes(b[g][1]).registers
        assert (ra == rb).all()
