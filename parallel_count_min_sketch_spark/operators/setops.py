"""Distributed set-operation estimates over grouped KMV sketches.

Takes the DataFrame[group, rows_seen, sketch] produced by
``sketch_agg.sketch_grouped`` with a KMV kernel and emits one row per
unordered group pair with intersection / union / Jaccard estimates —
decoded and combined INSIDE executors (``mapInArrow``), so no sketch
bytes ever reach the driver (the same rule ``finalize_grouped``
enforces for single-sketch probes).

Scale shape: with G groups the pair join produces G*(G-1)/2 rows of
O(k) integers each — independent of corpus size. The join broadcasts
the (tiny) grouped-sketch relation against itself; at 10k+ groups a
user would bound the pair set with an explicit group filter first.

All output estimates are INTEGER floors ((n*p^2) // theta) computed in
arbitrary-precision Python ints (the intermediate exceeds int64 now the
hash space is ~62 bits; the RESULT is a cardinality estimate, well
inside int64), so a SQL oracle replaying the bottom-k state in HUGEINT
reproduces every column bit-for-bit.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import _arrow_np as anp
from ..memtune import tune_worker
from ..sketches.kmv import KMV_HASH_SPACE, KMVSketch

PAIR_SCHEMA = (
    "group_a STRING, group_b STRING, theta LONG, n_common LONG, "
    "n_union_below_theta LONG, inter_floor LONG, union_floor LONG, "
    "jaccard_bp LONG"
)
_PAIR_PA = pa.schema(
    [
        ("group_a", pa.string()),
        ("group_b", pa.string()),
        ("theta", pa.int64()),
        ("n_common", pa.int64()),
        ("n_union_below_theta", pa.int64()),
        ("inter_floor", pa.int64()),
        ("union_floor", pa.int64()),
        ("jaccard_bp", pa.int64()),
    ]
)


def kmv_pair_estimates(grouped_df: DataFrame, pair_cond=None) -> DataFrame:
    """DataFrame[group_a < group_b, theta, n_common, n_union_below_theta,
    inter_floor, union_floor, jaccard_bp] for every unordered group pair.
    ``pair_cond`` (a Column over group_a/group_b) restricts WHICH pairs
    are combined — e.g. consecutive-day pairs for retention over a
    per-day rollup — keeping the pair set linear in G instead of G²."""
    a = grouped_df.select(
        F.col("group").alias("group_a"), F.col("sketch").alias("sketch_a")
    )
    b = grouped_df.select(
        F.col("group").alias("group_b"), F.col("sketch").alias("sketch_b")
    )
    cond = F.col("group_a") < F.col("group_b")
    if pair_cond is not None:
        cond = cond & pair_cond
    pairs = a.join(F.broadcast(b), cond)

    def combine(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tune_worker()
        p = KMV_HASH_SPACE
        for batch in batches:
            rows: dict[str, list] = {f.name: [] for f in _PAIR_PA}
            for row in batch.to_pylist():
                sa = KMVSketch.from_bytes(bytes(row["sketch_a"]))
                sb = KMVSketch.from_bytes(bytes(row["sketch_b"]))
                st = KMVSketch.pair_stats(sa, sb)
                k = sa.k
                # integer floors in Python's arbitrary-precision ints
                # (n * p^2 exceeds int64; the quotient does not) — the
                # SQL oracle replays them in HUGEINT, no IEEE rounding
                inter_floor = (st["n_common"] * p) // st["theta"]
                u_theta = st["union_theta"]
                if u_theta == p:  # union sketch still exact
                    union_floor = int(round(st["union_est"]))
                else:
                    union_floor = ((k - 1) * p) // u_theta
                jac_bp = (
                    (10_000 * st["n_common"]) // st["n_union_below_theta"]
                    if st["n_union_below_theta"]
                    else 0
                )
                rows["group_a"].append(row["group_a"])
                rows["group_b"].append(row["group_b"])
                rows["theta"].append(st["theta"])
                rows["n_common"].append(st["n_common"])
                rows["n_union_below_theta"].append(st["n_union_below_theta"])
                rows["inter_floor"].append(inter_floor)
                rows["union_floor"].append(union_floor)
                rows["jaccard_bp"].append(jac_bp)
            if rows["group_a"]:
                yield anp.batch(rows, _PAIR_PA)

    return pairs.mapInArrow(combine, PAIR_SCHEMA)
