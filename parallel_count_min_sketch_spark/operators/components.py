"""Connected components over an edge DataFrame — the cluster-extraction
step of a near-dup dedup pipeline (LSH/SimHash emit PAIRS; keep-one-per-
cluster needs the transitive closure of those pairs).

Algorithm: iterative min-label propagation with pointer jumping.
Each round every node takes the min of (its label, its neighbors'
labels) — one hop of spread — then labels are compressed through
themselves (label <- label[label]), which doubles the effective hop
distance. The combination converges in O(log diameter) rounds instead
of O(diameter), the reason chain-shaped dup clusters (doc i paired
only with doc i+1) don't need hundreds of passes. Labels only ever
decrease, so the global label sum is a monotone convergence witness —
when a round leaves it unchanged, every node holds the min node id of
its component and the loop stops.

Scale notes (100 TB): each round is two shuffles (an edge→label join on
node id and a groupBy(node) min) plus a self-join for the jump — all
equi-joins on the node id, no cartesian anywhere; `localCheckpoint`
truncates the exploding lineage every round (swap for a reliable
`checkpoint` dir on a real cluster). This is the DataFrame re-expression
of the standard large-star/small-star map-reduce CC.

SQL twin: DuckDB replays the fixpoint with a recursive CTE (reachable
(node, label) enumeration + MIN), so the contract query is value-gated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["connected_components"]


def connected_components(edges: DataFrame, src: str, dst: str, *,
                         max_iter: int = 50) -> DataFrame:
    """(node, component) for every node appearing in ``edges``, where
    ``component`` is the MINIMUM node id reachable from the node
    (deterministic canonical label). NULL endpoints are dropped (an edge
    to NULL asserts nothing). Raises RuntimeError if the fixpoint is not
    reached within ``max_iter`` rounds — with pointer jumping that takes
    a component diameter over ~2^max_iter, i.e. never in practice."""
    e = (
        edges.select(F.col(src).cast("long").alias("s"),
                     F.col(dst).cast("long").alias("t"))
        .filter(F.col("s").isNotNull() & F.col("t").isNotNull())
    )
    e = e.union(e.select(F.col("t").alias("s"), F.col("s").alias("t"))) \
        .distinct().persist()

    # convergence witness: labels only decrease, so the label sum strictly
    # falls until fixpoint. Summed as DECIMAL(38,0) — an int64 sum of 64-bit
    # node ids (hash-valued fingerprints, sparse ids) overflows, and Spark
    # 4's default ANSI mode turns that into an ArithmeticException at
    # exactly the scale this operator targets.
    _wit = F.sum(F.col("comp").cast("decimal(38,0)"))
    labels = e.select(F.col("s").alias("node")).distinct() \
        .select("node", F.col("node").alias("comp")) \
        .localCheckpoint(eager=True)
    prev_sum = labels.agg(_wit).first()[0]

    try:
        for _ in range(max_iter):
            # one hop: every node takes min over its neighbors' labels
            msgs = e.join(labels, e["s"] == labels["node"]) \
                .select(F.col("t").alias("node"), "comp")
            hop = msgs.union(labels).groupBy("node") \
                .agg(F.min("comp").alias("comp"))
            # pointer jump: compress labels through themselves
            l2 = hop.select(F.col("node").alias("j_node"),
                            F.col("comp").alias("j_comp"))
            jumped = (
                hop.join(l2, hop["comp"] == l2["j_node"], "left")
                .select("node",
                        F.least("comp", F.coalesce("j_comp", "comp"))
                        .alias("comp"))
            )
            labels = jumped.localCheckpoint(eager=True)
            cur_sum = labels.agg(_wit).first()[0]
            if cur_sum == prev_sum:
                return labels.select(
                    "node", F.col("comp").alias("component"))
            prev_sum = cur_sum
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds")
    finally:
        e.unpersist()
