"""Spark's Python worker daemon, with two patches to what a reused worker
does between tasks: it reads each zip archive's directory once per version
of the archive, and its post-task garbage collection scans only the
objects the last task made.

Spark forks its Python workers from a daemon process.  ``get_spark`` sets
``spark.python.daemon.module`` to this module, which installs both patches
and then runs PySpark's own daemon (``pyspark.daemon.manager``) as it is.
The forked workers inherit the patches, so every Python stage has them
from its first task: the ``row_stage`` stages and the ``pandas_udf``
functions alike.

Zip directories.  At the start of every task a worker calls
``importlib.invalidate_caches()`` (``pyspark.worker_util``).  Up to
CPython 3.12, ``zipimport.zipimporter.invalidate_caches`` reads the
archive's whole central directory again, in pure Python.  A worker holds
14-16 zipimporters over ``pyspark.zip`` (1,328 entries) and py4j's zip,
one per package directory inside them, and each of them reads its archive
again.  That cost 0.16-0.24 s of CPU per task, in reused workers too:
about 1.4 s of a 6 s warm ``parse_kernels`` pass, more than its PNG, JPEG,
FLAC and HTML kernels together (about 1.05 s).

``patch_zipimport``: an importer reads its archive's directory again only
when the archive's ``(st_ino, st_size, st_mtime_ns)`` differs from the
version this module last read; otherwise it takes the directory already
shared in ``zipimport._zip_directory_cache``.  The version is taken before
the read, so a rewrite during the read costs one more read, never a stale
directory.  A changed archive is still read again, so
``invalidate_caches`` keeps its meaning.  CPython 3.13 made the method
lazy (it only drops the cache entry), and there nothing is patched.

Post-task collection.  After every task a reused worker runs a full
``gc.collect()`` (the child loop of ``pyspark.daemon.manager``).  A full
collection walks every object the collector tracks, and most of a
worker's are the modules, functions and classes its first task imported
(numpy, pandas, pyarrow, pyspark, this package): about 73k objects, which
took 34-45 ms of CPU per task on 4 vCPUs.  A warm ``parse_kernels`` pass
runs 7 Python tasks, so that was about 0.29 s of worker CPU per pass.

``patch_daemon_gc``: the daemon's ``gc.collect()`` is followed by
``gc.freeze()``, which moves every survivor into the permanent generation
that later collections skip.  Each later collection then scans only what
the last task left behind, so it still frees every cycle a task made, and
it took 0.10-0.18 ms instead of 34-45 ms.  A frozen object is still freed
when its reference count drops to zero; only a cycle among frozen objects
that a later task makes unreachable stays until the worker exits.  Over
repeated ``row_stage`` tasks the frozen count stayed flat after the first
task (no task left a survivor), and the worker tests check that it does.

Precondition: the Python that Spark starts must be able to import
``vunnel_spark`` before any task has shipped it files.  Every Python stage
needs the package in its workers already, because the UDFs pickle
``vunnel_spark`` functions by reference.  On a cluster, put the package on
the executors' ``PYTHONPATH``: ``--py-files`` reaches ``sys.path`` only
inside a task, after the daemon has started (DEPLOY.md).
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport


def patch_zipimport() -> None:
    """Make ``zipimporter.invalidate_caches`` read an archive's directory
    again only when the archive has changed since this module read it.
    Does nothing on CPython 3.13 and later."""
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches
    #: archive path -> (version, directory) of the last read made here
    last_read: dict[str, tuple[tuple[int, int, int], dict]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            reread(self)  # gone or unreadable: the stock method says so
            return
        version = (st.st_ino, st.st_size, st.st_mtime_ns)
        files = zipimport._zip_directory_cache.get(self.archive)
        last = last_read.get(self.archive)
        if last is not None and last[0] == version and last[1] is files:
            self._files = files
            return
        reread(self)
        if self.archive in zipimport._zip_directory_cache:
            last_read[self.archive] = (version, self._files)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


class _FreezingGC:
    """The ``gc`` module as the daemon sees it, except that ``collect``
    freezes what survives the collection."""

    def __getattr__(self, name):
        return getattr(gc, name)

    @staticmethod
    def collect(generation: int = 2) -> int:
        found = gc.collect(generation)
        gc.freeze()
        return found


def patch_daemon_gc(daemon) -> None:
    """Make the ``gc.collect()`` calls of the ``daemon`` module (PySpark's
    ``pyspark.daemon``) freeze the survivors after each collection."""
    daemon.gc = _FreezingGC()


if __name__ == "__main__":
    patch_zipimport()
    from pyspark import daemon

    patch_daemon_gc(daemon)
    daemon.manager()
