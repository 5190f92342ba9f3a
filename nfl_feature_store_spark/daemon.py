"""Python worker daemon of the engine's Spark sessions.

For local sessions whose workers can import this package,
:func:`~nfl_feature_store_spark.session.get_spark` sets
``spark.python.daemon.module`` to this module, so Spark starts it as
``python -m nfl_feature_store_spark.daemon pyspark.worker``. It changes one
call inside pyspark and then runs pyspark's own daemon, which forks the
workers. (Spark lets a session name its own daemon module; the worker module
itself must live under ``pyspark``, as ``pyspark/daemon.py`` only loads
worker modules whose names start with ``pyspark``.)

The call: pyspark runs ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``) so that files added
with ``addFile``/``addPyFile`` become importable. On CPython 3.10-3.12 this
makes every ``zipimport.zipimporter`` re-read its archive's whole directory.
A worker holds one importer per package it imported from ``pyspark.zip``
(13 importers over its 1,328 entries after a ``mapInArrow`` task) plus 2
over the spark-core jar (5,359 entries) that Spark puts on the worker path,
so every task re-parsed about 28,000 zip entries before any user code ran.
Here the per-task call skips the zip importers and invalidates every other
finder as before: files added to the task's directory still import, and an
archive added later gets a new importer, which reads its directory when it
is first used. Spark never rewrites an archive already on a worker's path.

The daemon must import this package, which every engine worker imports
anyway: kernel closures pickle :func:`kernel_table` and the other operators
by reference.
"""

from __future__ import annotations

import importlib
import sys
import zipimport


def invalidate_caches_except_zip() -> None:
    """``importlib.invalidate_caches()`` that leaves the zip importers'
    directory caches alone."""
    cache = sys.path_importer_cache
    zips = {k: f for k, f in cache.items() if isinstance(f, zipimport.zipimporter)}
    for k in zips:
        del cache[k]
    try:
        importlib.invalidate_caches()
    finally:
        cache.update(zips)


class _ImportlibKeepingZipCaches:
    """Stands in for ``importlib`` inside ``pyspark.worker_util``."""

    invalidate_caches = staticmethod(invalidate_caches_except_zip)

    def __getattr__(self, name: str):
        return getattr(importlib, name)


def install() -> bool:
    """Route pyspark's per-task invalidation through
    :func:`invalidate_caches_except_zip`. Returns False, and leaves pyspark
    untouched, when its internals are not the ones this module expects."""
    try:
        from pyspark import worker_util
    except ImportError:
        return False
    if getattr(worker_util, "importlib", None) is not importlib:
        return False
    worker_util.importlib = _ImportlibKeepingZipCaches()
    return True


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
