"""Python worker daemon for the engine: ``pyspark.daemon`` minus the per-task
re-read of unchanged zip archives.

``pyspark.worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``
on every task, so that files added by ``sc.addPyFile`` become importable. On
CPython 3.11 that makes every ``zipimporter`` re-parse its archive's central
directory: ~49 ms for the Spark jar on the worker path and ~11 ms per
``pyspark.zip`` importer, 150-220 ms of CPU before each task's function starts.
The wrapper below re-reads an importer's archive only when its
``(st_mtime_ns, st_size)`` changed since that importer last read it, so a
rewritten or added archive is still seen. ``session.get_spark`` selects this
module through ``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import runpy
import weakref
import zipimport

# Process-wide by nature: the patch is on the importer class, and a worker
# process serves many tasks. ``reads`` counts directory reads, for tests.
reads = 0
_read_directory = zipimport.zipimporter.invalidate_caches
_stamps = weakref.WeakKeyDictionary()


def _invalidate_caches(importer: zipimport.zipimporter) -> None:
    global reads
    try:
        st = os.stat(importer.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is not None and _stamps.get(importer) == stamp:
        return
    # Stamped before the read: an archive rewritten during it differs next time.
    _read_directory(importer)
    reads += 1
    _stamps[importer] = stamp


def install() -> None:
    """Route ``zipimporter.invalidate_caches`` through the stamp check."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    # Patch the package's copy of this module, the one a UDF imports, not
    # this ``__main__`` copy.
    from vstream_spark.worker_daemon import install as _install

    _install()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
