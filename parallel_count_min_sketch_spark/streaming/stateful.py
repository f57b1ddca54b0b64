"""Custom stateful streaming operator: per-group sketches maintained in
Spark's keyed state store via applyInPandasWithState.

Unlike the foreachBatch sketch store (stream_rollup.py) — one partial
per (micro-batch, bucket) in a parquet store, folded at read time — this
keeps one sketch PER GROUP inside Spark's state store: distributed,
fault-tolerant through the checkpoint, and scalable to arbitrarily many
groups. Each trigger folds the group's new rows into its
sketch (vectorized kernel, no per-row Python) and emits the updated
(group, rows_in_batch, total_mass, sketch) row. ``total_mass`` is the
CUMULATIVE token mass folded into the group's state since the stream
started, for every kernel — it rides in the state row next to the sketch
blob, so kernels without a native total (HLL, Bloom) report the same
cumulative semantics as CMS/Misra-Gries.

Restart note (verified): state recovery across a query restart requires a
checkpoint-recoverable sink (foreachBatch / file / kafka). The memory sink
refuses recovery ("This query does not support recovering from checkpoint
location") — use it only for single-run tests.
"""

from __future__ import annotations

from functools import partial
from typing import Iterator

import pandas as pd

from ..config import CMSConfig
from ..sketches.cms import CountMinSketch
from ..sketches.hashing import djb2_batch

OUTPUT_SCHEMA = "group STRING, rows_in_batch BIGINT, total_mass BIGINT, sketch BINARY"
STATE_SCHEMA = "sketch BINARY, mass LONG"


def _mk_cms(eps: float, delta: float, seed: int) -> CountMinSketch:
    return CMSConfig(eps, delta, seed).new_sketch()


def _cms_from_bytes(eps: float, delta: float, b: bytes) -> CountMinSketch:
    return CountMinSketch.from_bytes(b, eps, delta)


def stateful_grouped_sketch(stream_df, group_col: str, text_col: str,
                            make_sketch, from_bytes, *, sep: str = " "):
    """streaming DataFrame -> per-group updated sketches each trigger, for
    ANY token-frequency/membership kernel implementing update_batch /
    to_bytes (CMS counts, Misra-Gries frequent items, HLL distinct
    tokens, Bloom membership). Each trigger tokenizes the group's new
    rows doc-locally (Arrow C kernels + value_counts, same hot path as
    the batch builds), feeds the kernel through its WEIGHTED protocol,
    and emits the updated state. Items are djb2 hashes of text tokens —
    numeric-distribution kernels (KLL/t-digest) need a numeric-column
    mode this text operator deliberately does not offer (quantiles of
    hash values are meaningless). ``make_sketch`` / ``from_bytes`` must
    pickle by reference (partials / module-level wrappers, same rule as
    the batch rails).

    Usage:
        out = stateful_grouped_sketch(stream, "lang", "text", mk, fb)
        out.writeStream.outputMode("update")...
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.sketch_agg import _weighted_update

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        from ..memtune import tune_worker

        tune_worker()
        if state.exists:
            blob, mass = state.get
            sk = from_bytes(bytes(blob))
            mass = int(mass)
        else:
            sk = make_sketch()
            mass = 0
        rows = 0
        for pdf in pdfs:
            texts = pdf[text_col].dropna()
            if len(texts):
                # tokenize in Arrow C kernels (split + flatten + filter),
                # then collapse to (distinct token, count) so the kernel
                # sees one weighted update per distinct token — no
                # Python-level string concat or per-token loop
                import numpy as np
                import pyarrow as pa
                import pyarrow.compute as pc

                tokens = pc.list_flatten(
                    pc.split_pattern(pa.array(texts, type=pa.string()), sep)
                )
                if len(tokens):
                    tokens = pc.filter(tokens, pc.not_equal(tokens, ""))
                if len(tokens):
                    vc = pc.value_counts(tokens)
                    w = vc.field("counts").to_numpy(zero_copy_only=False) \
                        .astype(np.int64, copy=False)
                    rows += _weighted_update(
                        sk, djb2_batch(vc.field("values")), w)
        mass += rows
        state.update((sk.to_bytes(), mass))
        yield pd.DataFrame(
            {
                "group": [key[0]],
                "rows_in_batch": [rows],
                "total_mass": [mass],
                "sketch": [sk.to_bytes()],
            }
        )

    return (
        stream_df.groupBy(group_col)
        .applyInPandasWithState(
            update, OUTPUT_SCHEMA, STATE_SCHEMA, "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def stateful_grouped_cms(stream_df, group_col: str, text_col: str,
                         cfg: CMSConfig, *, sep: str = " "):
    """Per-group CMS in the state store — a thin binding of the generic
    operator to the CMS kernel (CMS is WEIGHTED='native': the weighted
    distinct-token update adds the same integer sums as per-occurrence
    updates, so the state is byte-identical to a batch grouped build —
    tested in test_stateful_streaming.py). The emitted ``total_mass``
    equals the sketch's own cumulative ``total``.

    Usage:
        out = stateful_grouped_cms(stream, "lang", "text", cfg)
        out.writeStream.outputMode("update")...
    """
    return stateful_grouped_sketch(
        stream_df, group_col, text_col,
        partial(_mk_cms, cfg.epsilon, cfg.delta, cfg.seed),
        partial(_cms_from_bytes, cfg.epsilon, cfg.delta),
        sep=sep,
    )
