"""Python worker daemon for ``get_spark`` sessions: ``pyspark.daemon`` with
a zip directory cache that survives ``importlib.invalidate_caches``.

Every Python task starts in ``pyspark.worker_util.setup_spark_files``,
which ends in ``importlib.invalidate_caches()``.  On CPython 3.11 that
calls ``zipimport.zipimporter.invalidate_caches`` on every cached zip
importer, and each call re-reads its archive's central directory.  A
worker imports pyspark from ``pyspark.zip`` (1,328 entries), whose
subpackages leave 14-16 importers behind, so each task re-read that
directory 14-16 times.  Measured on a 4-core x86 box: one
``importlib.invalidate_caches()`` after ``import pyspark.worker`` costs
169 ms of CPU, and 0.1 ms with this module; a 1-row, 1-task RDD
``collect`` in a ``local[2]`` session took 415-466 ms, and 148-201 ms with
it.  CPython later made the invalidation lazy
(python/cpython gh-103200); this module backports the effect.  The
patched ``invalidate_caches`` re-reads an archive only when its mtime or
size changed since the last read, so a changed ``--py-files`` zip is
still picked up.  The daemon primes the cache before it forks, so
workers inherit it; then it runs ``pyspark.daemon`` unchanged.

``session.get_spark`` selects this module through Spark's
``spark.python.daemon.module`` and puts the package root on the workers'
``PYTHONPATH``.  That covers its ``local[N]`` sessions only: a cluster
deployment that reuses the setting must install this package on every
executor (see SCALING.md).  The pipeline's batch reads
(``sources.rpc.read_batch``) are ``mapInArrow`` tasks and run under this
daemon.  The planner forks of Python data sources, which only
``spark.read.format("evm_*")`` and ``spark.readStream.format`` start, run
under a fixed ``pyspark.daemon`` that this setting does not reach; each one
that unpickles an ``evm_*`` source imports ``sources/rpc.py``, which calls
``install()`` there, so a reused planner worker skips the re-reads from
its second call on.
"""

from __future__ import annotations

import importlib
import os
import runpy
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int]] = {}  # archive -> (mtime_ns, size) at its last read


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read while the
    archive's mtime and size are those of its last read."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    # stat before the read: a change during the read shows at the next call
    _reread(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter`` and read each cached archive once, so that
    every forked worker starts with a primed, stamped cache."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


if __name__ == "__main__":
    # import the worker module first, picked as pyspark.daemon picks it, so
    # that its pyspark.zip importers exist when the cache is primed
    worker = sys.argv[1] if sys.argv[1:] and sys.argv[1].startswith("pyspark") else "pyspark.worker"
    importlib.import_module(worker)
    install()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
