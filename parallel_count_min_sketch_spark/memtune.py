"""Per-process set-up for Python workers: ``tune_worker()``.

Every function the package hands to Spark as Python task code calls
``tune_worker()`` first (``tests/test_worker_hook.py`` checks this). It
fixes two per-process costs, each once per worker process:

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
    every caller (item folds, ``probe_cms``, the grouped folds, ``joins``,
    ``dedup``, the ``sql_build`` cells kernel);
  - ``_arrow_np._SLICE_BYTES`` (1 MB, growing 4x on repetitive text):
    ``_arrow_np.token_counts`` tokenizes and ``value_counts`` a text
    column in slices of this much text, for the token-count kernels
    (``sketch_agg.text_token_partials``, ``text_token_grouped_partials``,
    ``heavy_hitters.candidate_tokens``, ``fused_sketch_and_candidates``).
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

A third per-process cost is left to the kernels themselves: importing
pandas (about 0.5 s and 30 MB per fresh worker), which pyarrow does from
several of its conversion calls. Kernels convert between Arrow and numpy
through ``_arrow_np``, whose docstring lists those calls and what to use
instead; nothing blocks pandas, so a user's pandas UDF in the same worker
still runs.
"""

from __future__ import annotations

import os
import sys

_TUNED = False
_ZIP_GUARDED = False

_M_TRIM_THRESHOLD = -1
_M_MMAP_THRESHOLD = -3


def tune_worker() -> None:
    """Idempotent per-process hook; call it first in every task function."""
    global _TUNED
    if not _TUNED:
        _TUNED = True
        _set_malloc_thresholds()
    if not _ZIP_GUARDED and sys.version_info < (3, 13):
        from pyspark import TaskContext

        if TaskContext.get() is not None:
            _guard_zip_invalidation()


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
