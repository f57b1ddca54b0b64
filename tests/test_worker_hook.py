"""The worker hook ``memtune.tune_worker()``.

- Every function the package hands to Spark as Python task code calls it
  first (an AST check over the package source).
- No package code hands Spark a pandas kernel (``applyInPandas``,
  ``mapInPandas``, ``applyInPandasWithState``, ``pandas_udf``): workers
  stay pandas-free (an AST check; ``test_pandas_free_workers.py`` checks
  the running workers).
- No ``createDataFrame`` under ``operators/`` takes a list, tuple or
  comprehension of rows: that table would be a Python-RDD scan, Python
  tasks the hook cannot reach (an AST check).
- Its zip-directory guard skips the re-read of an unchanged archive, still
  re-reads a changed one, and is installed only inside a Spark task on
  Python < 3.13.
- Inside a task it sets ``TCP_QUICKACK`` on the TCP connection only (not
  on an AF_UNIX socket, a listening socket or a regular file), keeps no
  fd open, and does nothing outside a task or without the option. A live
  one-task ``mapInArrow`` then reads its 10 rows in well under the 40 ms
  delayed-ACK stall.

The zip and socket cases run in a fresh interpreter, so the patched
``zipimport`` and ``socket`` never reach the test interpreter.
"""

import ast
import json
import socket
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
PKG_DIR = ROOT / "parallel_count_min_sketch_spark"

# DataFrame / GroupedData methods whose first argument runs in a worker
KERNEL_METHODS = {"mapInArrow", "mapInPandas", "applyInPandas",
                  "applyInArrow", "applyInPandasWithState"}
UDF_FACTORIES = {"pandas_udf", "udf"}
HOOK = "tune_worker"
_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda, ast.ClassDef)


def _name(node):
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _defs_in_scope(scope, name):
    """FunctionDefs called ``name`` bound in ``scope`` (not in nested ones)."""
    found = []
    stack = list(ast.iter_child_nodes(scope))
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) \
                and node.name == name:
            found.append(node)
        if not isinstance(node, _SCOPES):
            stack.extend(ast.iter_child_nodes(node))
    return found


def _kernels(tree):
    """(line, api, FunctionDef or None) for every Python task function."""
    parents = {}
    for node in ast.walk(tree):
        for child in ast.iter_child_nodes(node):
            parents[child] = node

    def resolve(call, arg):
        if not isinstance(arg, ast.Name):
            return [None]
        scope = parents.get(call)
        while scope is not None:
            if isinstance(scope, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.Module)):
                defs = _defs_in_scope(scope, arg.id)
                if defs:
                    return defs
            scope = parents.get(scope)
        return [None]

    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            api = _name(node.func)
            arg = node.args[0] if node.args else None
            # pandas_udf("long") as a decorator names a type, not a function
            if api in KERNEL_METHODS or (api in UDF_FACTORIES and not (
                    arg is None or isinstance(arg, ast.Constant))):
                for fn in resolve(node, arg):
                    yield node.lineno, api, fn
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for dec in node.decorator_list:
                api = _name(dec.func if isinstance(dec, ast.Call) else dec)
                if api in UDF_FACTORIES:
                    yield node.lineno, api, node


def _calls_hook_first(fn) -> bool:
    """After the docstring and any imports, the first statement is
    ``tune_worker()``."""
    for stmt in fn.body:
        if isinstance(stmt, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Constant) \
                and isinstance(stmt.value.value, str):
            continue
        return (isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Call)
                and _name(stmt.value.func) == HOOK)
    return False


def _missing_hook(pkg_dir: Path):
    found, missing = 0, []
    for path in sorted(pkg_dir.rglob("*.py")):
        for line, api, fn in _kernels(ast.parse(path.read_text(), str(path))):
            found += 1
            where = f"{path.relative_to(pkg_dir)}:{line} ({api})"
            if fn is None:
                missing.append(f"{where}: not a named function in scope")
            elif not _calls_hook_first(fn):
                missing.append(f"{where}: {fn.name} does not call {HOOK}() first")
    return found, missing


def test_every_python_kernel_calls_the_worker_hook_first():
    found, missing = _missing_hook(PKG_DIR)
    assert found >= 23, found  # the scan must keep seeing the kernels
    assert not missing, "\n".join(missing)


def test_hook_check_sees_inline_and_nested_kernels(tmp_path):
    (tmp_path / "m.py").write_text(textwrap.dedent('''
        from pyspark.sql.functions import pandas_udf

        def ok(df):
            def kernel(batches):
                """doc"""
                import numpy as np
                tune_worker()
                yield from batches
            return df.mapInArrow(kernel, df.schema)

        def bad(df):
            if df:
                def fold(it):
                    yield from it
            return df.mapInPandas(fold, df.schema)

        def inline(df):
            return df.mapInArrow(lambda it: it, df.schema)

        @pandas_udf("long")
        def plus_one(s):
            return s + 1
    '''))
    found, missing = _missing_hook(tmp_path)
    assert found == 4
    assert sorted(m.split(" ")[0] for m in missing) == [
        "m.py:16", "m.py:19", "m.py:22"], missing


PANDAS_KERNEL_APIS = {"applyInPandas", "mapInPandas",
                      "applyInPandasWithState", "pandas_udf"}


def _pandas_kernel_uses(pkg_dir: Path):
    found = []
    for path in sorted(pkg_dir.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.ImportFrom):
                names = [a.name for a in node.names]
            else:
                names = [_name(node)]
            for name in names:
                if name in PANDAS_KERNEL_APIS:
                    found.append(f"{path.relative_to(pkg_dir)}:{node.lineno} {name}")
    return found


def test_no_pandas_kernel_in_the_package():
    assert _pandas_kernel_uses(PKG_DIR) == []


def test_pandas_kernel_check_sees_calls_and_imports(tmp_path):
    (tmp_path / "m.py").write_text(textwrap.dedent('''
        from pyspark.sql.functions import pandas_udf

        def f(df, fn):
            a = df.groupBy("g").applyInPandas(fn, df.schema)
            return a.mapInPandas(fn, df.schema), df.mapInArrow(fn, df.schema)
    '''))
    assert sorted(_pandas_kernel_uses(tmp_path)) == [
        "m.py:2 pandas_udf", "m.py:5 applyInPandas", "m.py:6 mapInPandas"]


# createDataFrame arguments that Spark plans as a Python-RDD scan
_PYTHON_ROWS = (ast.List, ast.Tuple, ast.ListComp, ast.SetComp,
                ast.GeneratorExp)


def _python_rdd_tables(pkg_dir: Path):
    found = []
    for path in sorted(pkg_dir.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not (isinstance(node, ast.Call)
                    and _name(node.func) == "createDataFrame"):
                continue
            data = node.args[0] if node.args else next(
                (k.value for k in node.keywords if k.arg == "data"), None)
            if isinstance(data, _PYTHON_ROWS):
                found.append(f"{path.relative_to(pkg_dir)}:{node.lineno}")
    return found


def test_no_python_rdd_table_under_operators():
    """Local rows go to ``createDataFrame`` as a ``pyarrow.Table`` (a JVM
    ``LocalTableScan``): a list of rows is a Python-RDD scan whose tasks
    run no package code, so the hook never reaches them."""
    assert _python_rdd_tables(PKG_DIR / "operators") == []


def test_python_rdd_table_check_sees_rows_and_comprehensions(tmp_path):
    (tmp_path / "m.py").write_text(textwrap.dedent('''
        import pyarrow as pa

        def f(spark, rows, offsets):
            a = spark.createDataFrame([], "x INT")
            b = spark.createDataFrame([(k, v) for k, v in offsets], "k INT, v INT")
            c = spark.createDataFrame(data=((1,),), schema="x INT")
            d = spark.createDataFrame(rows, "x INT")
            return a, b, c, d, spark.createDataFrame(pa.table({"x": [1]}))
    '''))
    assert _python_rdd_tables(tmp_path) == ["m.py:5", "m.py:6", "m.py:7"]


# --- the zip-directory guard, each case in a fresh interpreter -------------

_PRELUDE = f"""
import importlib, json, os, sys, zipfile, zipimport
sys.path.insert(0, {str(ROOT)!r})
from parallel_count_min_sketch_spark import memtune

READS = []
_read = zipimport._read_directory
def counting_read(archive):
    READS.append(archive)
    return _read(archive)
zipimport._read_directory = counting_read

def write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name + ".py", src)

def enter_task():
    from pyspark import TaskContext
    TaskContext._getOrCreate()

def guard_installed():
    return zipimport.zipimporter.invalidate_caches.__module__ == memtune.__name__
"""


def _run(body: str, tmp_path) -> dict:
    code = _PRELUDE + textwrap.dedent(body)
    proc = subprocess.run([sys.executable, "-c", code], cwd=tmp_path,
                          capture_output=True, text=True, timeout=120)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


needs_eager_zip = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimport invalidation is lazy from CPython 3.13 on")


@needs_eager_zip
def test_unchanged_zip_is_not_reread(tmp_path):
    out = _run("""
        write_zip("lib.zip", {"zmod_a": "X = 1"})
        sys.path.insert(0, os.path.abspath("lib.zip"))
        import zmod_a
        enter_task()
        memtune.tune_worker()
        READS.clear()
        for _ in range(5):
            importlib.invalidate_caches()
        print(json.dumps({"reads": len(READS),
                          "installed": guard_installed()}))
    """, tmp_path)
    # the first invalidation reads once to learn the archive's stamp
    assert out == {"reads": 1, "installed": True}


@needs_eager_zip
def test_rewritten_zip_is_reread_and_new_module_imports(tmp_path):
    out = _run("""
        write_zip("lib.zip", {"zmod_a": "X = 1"})
        sys.path.insert(0, os.path.abspath("lib.zip"))
        import zmod_a
        enter_task()
        memtune.tune_worker()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        READS.clear()
        write_zip("lib.zip", {"zmod_a": "X = 1",
                              "zmod_b": "Y = 'fresh from the new archive'"})
        importlib.invalidate_caches()
        import zmod_b
        print(json.dumps({"reads": len(READS), "y": zmod_b.Y}))
    """, tmp_path)
    assert out == {"reads": 1, "y": "fresh from the new archive"}


def test_guard_is_a_noop_outside_a_task_and_on_313(tmp_path):
    out = _run("""
        original = zipimport.zipimporter.invalidate_caches
        memtune.tune_worker()
        outside = zipimport.zipimporter.invalidate_caches is original
        sys.version_info = (3, 13, 0, "final", 0)
        enter_task()
        memtune.tune_worker()
        on_313 = zipimport.zipimporter.invalidate_caches is original
        print(json.dumps({"outside": outside, "on_313": on_313,
                          "installed": guard_installed()}))
    """, tmp_path)
    assert out == {"outside": True, "on_313": True, "installed": False}


# --- TCP_QUICKACK on the JVM connection, in a fresh interpreter ------------

_QUICKACK_PRELUDE = """
import socket
listener = socket.create_server(("127.0.0.1", 0))
tcp = socket.create_connection(listener.getsockname())
peer, _ = listener.accept()
unix_a, unix_b = socket.socketpair()
regular = open(sys.executable, "rb")
CALLS = []
_setsockopt = socket.socket.setsockopt
def recording_setsockopt(self, *args):
    CALLS.append((self.fileno(), *args))
    return _setsockopt(self, *args)
socket.socket.setsockopt = recording_setsockopt
def open_fds():
    return len(os.listdir("/proc/self/fd"))
"""


def _run_with_sockets(body: str, tmp_path) -> dict:
    return _run(_QUICKACK_PRELUDE + textwrap.dedent(body), tmp_path)


needs_quickack = pytest.mark.skipif(
    not hasattr(socket, "TCP_QUICKACK"),
    reason="TCP_QUICKACK is Linux-only")


@needs_quickack
def test_quickack_set_on_the_tcp_connection_only(tmp_path):
    out = _run_with_sockets("""
        fds = open_fds()
        memtune.tune_worker()
        outside = list(CALLS)
        enter_task()
        memtune.tune_worker()
        memtune.tune_worker()
        tcp_fds = {tcp.fileno(), peer.fileno()}
        print(json.dumps({
            "outside": outside,
            "calls": [[fd in tcp_fds, level, opt, value]
                      for fd, level, opt, value in CALLS],
            "quickack": [socket.IPPROTO_TCP, socket.TCP_QUICKACK],
            "fds_unchanged": open_fds() == fds}))
    """, tmp_path)
    # one call per task, each on a TCP end, never on the AF_UNIX pair,
    # the listening socket or the regular file
    assert out["outside"] == []
    assert out["calls"] == [[True, *out["quickack"], 1]] * 2
    assert out["fds_unchanged"]


@needs_quickack
def test_quickack_is_a_noop_without_the_option(tmp_path):
    out = _run_with_sockets("""
        del socket.TCP_QUICKACK
        fds = open_fds()
        enter_task()
        memtune.tune_worker()
        print(json.dumps({"calls": CALLS, "fds_unchanged": open_fds() == fds}))
    """, tmp_path)
    assert out == {"calls": [], "fds_unchanged": True}


def test_worker_input_read_does_not_stall(spark):
    """A one-task ``mapInArrow`` over 10 rows reads its input without the
    JVM's last segment waiting for the worker's delayed ACK (40 ms on
    Linux without the hook)."""
    import statistics

    from parallel_count_min_sketch_spark import memtune

    def timed_read(batches):
        import time

        import pyarrow as pa

        memtune.tune_worker()
        t0 = time.perf_counter()
        rows = sum(b.num_rows for b in batches)
        yield pa.RecordBatch.from_pydict({
            "ms": [(time.perf_counter() - t0) * 1e3], "rows": [rows]})

    df = spark.range(0, 10, numPartitions=1).mapInArrow(
        timed_read, "ms DOUBLE, rows BIGINT")
    for _ in range(3):  # a fresh connection does not delay its ACKs yet
        df.collect()
    runs = [df.collect()[0] for _ in range(7)]
    assert all(r.rows == 10 for r in runs)
    assert statistics.median(r.ms for r in runs) < 20, [r.ms for r in runs]


def test_worker_reports_guard_installed(spark):
    """A mapInArrow kernel, run twice, sees the guard from inside every
    worker; the second run normally lands on reused workers (``pid``)."""
    from parallel_count_min_sketch_spark import memtune

    def report(batches):
        import os
        import zipimport

        import pyarrow as pa

        memtune.tune_worker()
        for _ in batches:
            pass
        guard = zipimport.zipimporter.invalidate_caches
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()], "eager_zip": [sys.version_info < (3, 13)],
            "installed": [guard.__module__ == memtune.__name__]})

    df = spark.range(0, 40, numPartitions=4)
    schema = "pid BIGINT, eager_zip BOOLEAN, installed BOOLEAN"
    runs = [df.mapInArrow(report, schema).collect() for _ in range(2)]
    for rows in runs:
        assert len(rows) == 4
        assert all(r.installed is r.eager_zip for r in rows), rows
