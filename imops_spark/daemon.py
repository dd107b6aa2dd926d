"""Custom PySpark worker daemon that PRELOADS the scientific stack.

Spark's ``PythonWorkerFactory`` culls idle Python workers after a
HARDCODED one minute (``IDLE_WORKER_TIMEOUT_NS`` — not configurable as
of Spark 4.1), so any query arriving after a >60 s Python-stage lull
finds an empty worker pool and pays, per respawned worker, a fresh
interpreter plus the numpy/pandas/pyarrow import chain plus first-touch
page faults for all of it.  On memory-overcommitted hosts (virtio-balloon
free page reporting; see ``functions/_mem.py``) the page-fault half is
the expensive part — ~1 ms per 4 KiB page was measured on the round-11
box — and showed up as a 2-4 s per-query penalty whenever the bench (or
any real workload) left the Python workers idle for a minute (PID probe:
the whole pool replaced between 60 and 80 s of idle).

Fix: import the heavy modules ONCE, here, in the daemon process, before
``pyspark.daemon.manager()`` starts forking workers.  Every worker forked
afterwards — including every respawn after an idle cull — shares those
modules' pages copy-on-write: already imported, already provisioned,
already warm.  Respawn cost drops to roughly a ``fork()``.

Wired up by ``session.get_spark`` via ``spark.python.daemon.module``
(plus the package root on ``spark.executorEnv.PYTHONPATH`` so a fresh
interpreter can import us); disable with
``IMOPS_SPARK_DAEMON_PRELOAD=0`` (the stock daemon behavior, minus
nothing else — this module is pass-through).  On a real cluster the same
two confs go in the executor Spark conf; preloading in the daemon is
strictly better there too (one import per executor instead of one per
worker respawn).

Second fix, the per-task zip re-scan.  Every Python task starts with
``pyspark.worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``.  Before CPython 3.13 (gh-103200 made
the re-read lazy there; 3.12.1's ``zipimport.py`` still reads eagerly)
that makes every ``zipimporter`` in
``sys.path_importer_cache`` re-read its archive's whole central
directory at once — even in a reused worker, and once per importer, not
per archive.  A worker holds ~16 importers over ``pyspark.zip`` (~27k
entries), so each task paid 0.2-0.46 s of CPU before running any user
code (a cProfile of one trivial task on a 4-vCPU VM, CPython 3.11.7:
1.33 of its 1.33 s).  ``_skip_unchanged_zip_rescans`` below makes the
re-read conditional on the archive's ``(inode, size, mtime_ns)``: an
unchanged file has an unchanged directory, so skipping it is exact, and
a ``.zip`` that ``addPyFile`` ships or replaces still gets read.  It is
installed only where the re-read is eager (before 3.13), outside the
preload guard, so every worker forked from here gets it.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def _skip_unchanged_zip_rescans() -> None:
    """Patch ``zipimporter.invalidate_caches`` to re-read an archive's
    directory only when the file's ``(inode, size, mtime_ns)`` changed
    since the last read; otherwise re-bind the cached directory."""
    reread = zipimport.zipimporter.invalidate_caches
    stamps: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)
        if stamp is not None:
            # stamped BEFORE the read: a write racing the read leaves a
            # stale stamp, which only costs one more re-read next time
            stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if sys.version_info < (3, 13):
    _skip_unchanged_zip_rescans()

if os.environ.get("IMOPS_SPARK_DAEMON_PRELOAD", "1") != "0":
    try:
        import numpy

        # glibc tuning BEFORE any large allocations: mallopt state is
        # process-wide and survives fork, so every worker inherits it
        # without paying the (tiny) syscall dance itself.
        from imops_spark.functions._mem import ensure_malloc_tuning

        ensure_malloc_tuning()

        import pandas  # noqa: F401
        import pyarrow  # noqa: F401
        import pyarrow.pandas_compat  # noqa: F401

        # The kernel modules workers actually unpickle UDFs from — having
        # them in the daemon makes the fork inherit the whole import
        # graph (pyspark.sql included) instead of re-reading it from disk
        # per respawned worker.
        import imops_spark.functions.curate  # noqa: F401
        import imops_spark.functions.dedup  # noqa: F401
        import imops_spark.functions.multimodal  # noqa: F401
        import imops_spark.functions.similarity  # noqa: F401
        import imops_spark.functions.text  # noqa: F401
        import imops_spark.functions.xxh  # noqa: F401

        # one tiny GEMM so BLAS dispatch tables/thread state initialize
        # pre-fork (numpy is fork-safe on Linux; this is the standard
        # "warm the library, not the data" trick)
        numpy.dot(numpy.ones((4, 4)), numpy.ones((4, 4)))
    except Exception:  # pragma: no cover - preload is an optimization only
        pass

from pyspark.daemon import manager

if __name__ == "__main__":
    # One read of each archive here, pre-fork, so forked workers inherit
    # the stamps and their first task skips the re-read as well.
    importlib.invalidate_caches()
    manager()
