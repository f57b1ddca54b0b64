"""Spark session set-up for the benchmark, and memory readings from /proc.

The session runs ``local[N]`` with N = the CPUs this process may use, so
the benchmark never asks for more threads than the machine gives it. All
scratch output (Spark local dirs, JVM temp files, event logs) stays under
``perfbench/.work`` inside the checkout.
"""

from __future__ import annotations

import os
import subprocess
import tempfile

WORK_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(root: str) -> str:
    """Point the JVM, Python workers and temp files at the checkout before
    the first session starts. Returns this process's scratch directory."""
    work = os.path.join(WORK_DIR, str(os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    # also reaches the JVM that spark-submit starts to build its command line
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    return work


def start(work: str, event_log: str | None = None):
    """A fresh Spark session. The first call launches the JVM; later calls
    after ``spark.stop()`` reuse it."""
    from pyspark.sql import SparkSession

    n = cpus()
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.eventLog.enabled", "true" if event_log else "false")
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (b.config("spark.eventLog.dir", "file://" + event_log)
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown() -> None:
    """Stop the active Spark context, if any, and the JVM behind it, and
    wait for the JVM to exit. Safe to call more than once."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._gateway.proc.pid)


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pid: int) -> float:
    return _status_kb(pid, "VmHWM") / 1024.0


def _children(pid: int) -> list[int]:
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:  # the process has exited
        return out
    for task in tasks:
        try:
            with open(f"/proc/{pid}/task/{task}/children", encoding="ascii") as fh:
                out += [int(x) for x in fh.read().split()]
        except OSError:
            pass
    return out


def python_worker_pids(jvm: int) -> list[int]:
    """Every process below the JVM: the PySpark daemon and the workers it
    forks."""
    seen, todo = [], _children(jvm)
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo += _children(pid)
    return seen


def worker_peak_rss_mb(jvm: int) -> float:
    return max((peak_rss_mb(p) for p in python_worker_pids(jvm)), default=0.0)


def steal_s() -> float:
    """CPU seconds the hypervisor has stolen so far, summed over all CPUs."""
    with open("/proc/stat", encoding="ascii") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
