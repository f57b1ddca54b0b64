"""Per-process and per-task set-up for Python workers: ``tune_worker()``.

Every function the package hands to Spark as Python task code calls
``tune_worker()`` first (``tests/test_worker_hook.py`` checks this). It
fixes two per-process costs, each once per worker process, and one
per-task cost, on every call inside a Spark task:

- **Allocator thresholds.** In slow-page-fault sandboxes, freshly mmap'd
  pages fault at ~20 MB/s (Firecracker lazy faulting), while warm memory
  runs at GB/s. glibc by default munmaps large frees, so every numpy
  temporary above the mmap threshold re-faults its pages — an effective
  100x slowdown on vectorized kernels. The hook raises the malloc
  mmap/trim thresholds so big blocks come from (and return to) the
  reusable heap; a safe no-op where mallopt is unavailable. The kernels
  additionally bound their transient memory by string bytes, not by
  Arrow batch rows (Spark caps a batch at 10,000 rows, whatever their
  size), so the heap a worker faults in once stays small:

  - ``sketches/hashing._BLOCK_BYTES`` (64 KB): ``djb2_batch`` holds its
    per-byte int64 temporaries for at most this much UTF-8 at a time, for
    every caller (item folds, the ``with_djb2`` kernel that ``probe_cms``,
    ``heavy_hitters`` and ``dedup`` use, the grouped folds, the
    doc-local ``dedup`` kernels, the ``sql_build`` cells kernel);
  - ``_arrow_np._SLICE_BYTES`` (1 MB, growing 4x on repetitive text):
    ``_arrow_np.token_counts`` tokenizes and ``value_counts`` a text
    column in slices of this much text, for the token-count kernels
    (``sketch_agg.text_token_partials``, ``text_token_grouped_partials``,
    ``heavy_hitters.fused_sketch_and_candidates``).
- **Zip-directory re-reads.** Workers import PySpark from
  ``$SPARK_HOME/python/lib/pyspark.zip``. Before every task, a reused
  worker calls ``importlib.invalidate_caches()``
  (``pyspark.worker_util.setup_spark_files``). On CPython < 3.13,
  ``zipimporter.invalidate_caches`` re-reads the whole zip directory, once
  per cached importer (16 for PySpark's subpackages, 1,328 entries each):
  0.23–0.42 s per task on a 4-vCPU VM, against milliseconds for the rest
  of a small task.
  The hook makes that invalidation stat-validated: an archive whose
  ``(st_mtime_ns, st_size)`` is unchanged since its last read is not read
  again; a changed or new archive still is, so ``addPyFile`` keeps
  working. It is installed only inside a Spark task (never in the
  driver) and only before 3.13, where invalidation became lazy.
- **Delayed-ACK stall (per task).** The JVM writes a task's input to the
  worker over a loopback TCP connection, and sends its last small
  segment under Nagle's algorithm: it waits until the worker ACKs the
  previous one. Linux delays that ACK by its 40 ms minimum once the
  connection looks interactive, so a small task's input arrives 40 ms
  late. The hook sets ``TCP_QUICKACK`` on the worker's end, which sends
  the pending ACK at once. The option is a per-socket flag that Linux
  clears on its own, so the hook sets it again for every task; the
  connection's fd is found once per process (a reused worker keeps one
  connection for its life) by scanning ``/proc/self/fd`` for a connected
  TCP socket. In a one-task ``mapInArrow`` over 10 rows, the kernel's
  input read fell from 40.6 ms to 1.4 ms (median of 15 runs,
  ``local[4]``, 4 vCPUs). It does nothing without ``socket.TCP_QUICKACK``
  (non-Linux) or over a Unix-socket connection
  (``spark.python.unix.domain.socket.enabled``, which avoids the stall
  itself), sets no option on any other fd, and ignores a failing
  ``setsockopt``; it changes no machine setting.

A third per-process cost is left to the kernels themselves: importing
pandas (about 0.5 s and 30 MB per fresh worker), which pyarrow does from
several of its conversion calls. Kernels convert between Arrow and numpy
through ``_arrow_np``, whose docstring lists those calls and what to use
instead; nothing blocks pandas, so a user's pandas UDF in the same worker
still runs.
"""

from __future__ import annotations

import os
import socket
import stat
import sys

_TUNED = False
_ZIP_GUARDED = False
_JVM_FD: int | None = None  # the worker's TCP connection to the JVM; -1: none

_M_TRIM_THRESHOLD = -1
_M_MMAP_THRESHOLD = -3


def tune_worker() -> None:
    """Per-task hook, idempotent per process; call it first in every task
    function."""
    global _TUNED
    if not _TUNED:
        _TUNED = True
        _set_malloc_thresholds()
    from pyspark import TaskContext

    if TaskContext.get() is None:  # the driver
        return
    if not _ZIP_GUARDED and sys.version_info < (3, 13):
        _guard_zip_invalidation()
    _quickack_jvm_connection()


def _set_malloc_thresholds(threshold: int = 1 << 30) -> None:
    try:
        import ctypes

        mallopt = ctypes.CDLL("libc.so.6", use_errno=True).mallopt
    except (OSError, AttributeError):  # non-glibc platforms
        return
    mallopt.argtypes = (ctypes.c_int, ctypes.c_int)
    mallopt.restype = ctypes.c_int
    mallopt(_M_MMAP_THRESHOLD, threshold)
    mallopt(_M_TRIM_THRESHOLD, threshold)


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _guard_zip_invalidation() -> None:
    """Wrap ``zipimporter.invalidate_caches`` so an unchanged archive keeps
    its cached directory. The stamp is taken before the read it describes,
    so a write racing the read only causes one more read later."""
    global _ZIP_GUARDED
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    stamps: dict = {}  # archive -> stamp at its last read

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and cached is not None \
                and stamps.get(self.archive) == stamp:
            self._files = cached
            return
        reread(self)
        if self.archive in zipimport._zip_directory_cache:
            stamps[self.archive] = stamp
        else:
            stamps.pop(self.archive, None)

    invalidate_caches.__doc__ = reread.__doc__
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    _ZIP_GUARDED = True


def _quickack_jvm_connection() -> None:
    """Set ``TCP_QUICKACK`` on the worker's TCP connection to the JVM, which
    sends the ACK the kernel is delaying and so releases the segment the
    JVM holds back under Nagle's algorithm. Linux clears quick-ack mode on
    its own, so this runs once per task. No-op without ``TCP_QUICKACK``
    (non-Linux) or without a TCP connection (a Unix-socket session)."""
    global _JVM_FD
    quickack = getattr(socket, "TCP_QUICKACK", None)
    if quickack is None:
        return
    if _JVM_FD is None:
        _JVM_FD = _tcp_connection_fd()
    if _JVM_FD < 0:
        return
    try:
        sock = socket.socket(fileno=_JVM_FD)
    except OSError:  # the fd was closed
        return
    try:
        if _is_tcp_connection(sock):
            sock.setsockopt(socket.IPPROTO_TCP, quickack, 1)
    except OSError:
        pass
    finally:
        sock.detach()  # the fd belongs to the worker


def _is_tcp_connection(sock: socket.socket) -> bool:
    return (sock.family in (socket.AF_INET, socket.AF_INET6)
            and sock.type == socket.SOCK_STREAM
            and not sock.getsockopt(socket.SOL_SOCKET, socket.SO_ACCEPTCONN))


def _tcp_connection_fd() -> int:
    """The lowest fd of this process that is a connected TCP socket, or -1.
    A Python worker's only one is its connection to the JVM (the daemon
    closes its listening socket in the forked worker)."""
    try:
        fds = sorted(int(fd) for fd in os.listdir("/proc/self/fd"))
    except OSError:
        return -1
    for fd in fds:
        try:
            if not stat.S_ISSOCK(os.fstat(fd).st_mode):
                continue
            sock = socket.socket(fileno=fd)
        except OSError:
            continue
        try:
            if _is_tcp_connection(sock):
                sock.getpeername()  # raises unless connected
                return fd
        except OSError:
            pass
        finally:
            sock.detach()
    return -1
