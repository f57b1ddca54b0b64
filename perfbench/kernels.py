"""``sketches`` kernel microbench, run in the benchmark process on a fixed
sample of the workload's own input strings."""

from __future__ import annotations

import statistics
import time

import pyarrow as pa

from parallel_count_min_sketch_spark.sketches.cms import CountMinSketch
from parallel_count_min_sketch_spark.sketches.hashing import djb2_batch
from parallel_count_min_sketch_spark.sketches.hll import HyperLogLog

from .workloads import CMS_CFG, make_hll

SAMPLE_ITEMS = 100_000
REPS = 7


def _median_s(fn, reps: int = REPS) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def bench(sample: pa.Array, sketch: str) -> dict[str, float]:
    """Per-item and per-call kernel costs. ``sketch`` ("cms" or "hll") picks
    the sketch type whose ``merge`` and ``to_bytes``/``from_bytes`` the
    workload's merge stage runs."""
    sample = sample.slice(0, SAMPLE_ITEMS)
    n = len(sample)
    ids = djb2_batch(sample)
    out = {"sketches.djb2_ns_per_token": _median_s(lambda: djb2_batch(sample)) / n * 1e9}

    cms = CMS_CFG.new_sketch()
    out["sketches.cms_update_ns_per_item"] = \
        _median_s(lambda: cms.update_batch(ids)) / n * 1e9
    hll = make_hll()
    out["sketches.hll_update_ns_per_item"] = \
        _median_s(lambda: hll.update_batch(ids)) / n * 1e9

    if sketch == "cms":
        other = CMS_CFG.new_sketch()
        other.update_batch(ids[::2])
        out["sketches.merge_us"] = _median_s(lambda: cms.merge(other)) * 1e6
        out["sketches.serde_us"] = _median_s(lambda: CountMinSketch.from_bytes(
            cms.to_bytes(), CMS_CFG.epsilon, CMS_CFG.delta)) * 1e6
    else:
        other = make_hll()
        other.update_batch(ids[::2])
        out["sketches.merge_us"] = _median_s(lambda: hll.merge(other)) * 1e6
        out["sketches.serde_us"] = _median_s(
            lambda: HyperLogLog.from_bytes(hll.to_bytes())) * 1e6
    return out
