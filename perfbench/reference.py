"""The reference job: a fixed Spark job in which no code of the repository
takes part. It runs at the start of every measured round.

On a shared host, CPU time taken by neighbours slows whole runs down by up
to 2x, and the slowdown changes from minute to minute. The reference job
slows down with the workload, so the end-to-end ``round_rel`` metric
divides the workload's round time by the reference job's median time. The
job hashes and sums a range in the JVM. Four partitions per core let the
cores balance the work, so one slow core does not set its time.
"""

from __future__ import annotations

ROWS = 15_000_000  # about 0.2 s on 4 cores


def run(spark) -> None:
    parts = 4 * spark.sparkContext.defaultParallelism
    spark.range(0, ROWS, 1, parts).selectExpr("sum(hash(id, id * 31))").collect()
