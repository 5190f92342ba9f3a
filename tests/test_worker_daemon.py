"""The engine's Python worker daemon (``nfl_feature_store_spark.daemon``):
reused workers keep their zip directory caches between tasks, and files
added to a running session still import."""

from __future__ import annotations

import importlib
import os
import types
import uuid
import zipfile

from nfl_feature_store_spark import daemon


def test_reused_worker_keeps_zip_directory_caches(spark):
    """pyspark invalidates import caches at the start of every task; on
    CPython 3.10-3.12 that re-reads each zip archive's directory into a new
    dict. Two jobs served by the same worker process must see the same dict."""

    def zip_cache_ids(batches):
        import os
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist(
            [
                {"pid": os.getpid(), "archive": path, "cache_id": id(files)}
                for path, files in zipimport._zip_directory_cache.items()
            ],
            schema=pa.schema(
                [("pid", pa.int64()), ("archive", pa.string()), ("cache_id", pa.int64())]
            ),
        )

    df = spark.range(64).repartition(8)
    schema = "pid long, archive string, cache_id long"
    first = df.mapInArrow(zip_cache_ids, schema).collect()
    second = df.mapInArrow(zip_cache_ids, schema).collect()
    assert first, "no zip archive on the Python worker path"
    before = {(r.pid, r.archive): r.cache_id for r in first}
    after = {(r.pid, r.archive): r.cache_id for r in second}
    shared = before.keys() & after.keys()
    assert shared, "no worker served both jobs"
    changed = sorted(k for k in shared if before[k] != after[k])
    assert not changed, f"zip directories re-read between tasks: {changed}"


def test_files_added_to_warm_workers_import(spark, tmp_path):
    """The invalidation the daemon keeps: a ``.py`` module and a ``.zip``
    archive added with ``addPyFile`` after the workers are warm import in
    the next task."""
    df = spark.range(16).repartition(4)
    df.mapInArrow(lambda it: it, df.schema).collect()  # warm the workers

    tag = uuid.uuid4().hex[:8]
    py_mod, zip_mod = f"added_py_{tag}", f"added_zip_{tag}"
    py_path = tmp_path / f"{py_mod}.py"
    py_path.write_text("VALUE = 7\n")
    zip_path = tmp_path / f"{zip_mod}.zip"
    with zipfile.ZipFile(zip_path, "w") as z:
        z.writestr(f"{zip_mod}.py", "VALUE = 35\n")
    spark.sparkContext.addPyFile(str(py_path))
    spark.sparkContext.addPyFile(str(zip_path))

    def read_added(batches):
        import importlib

        import pyarrow as pa

        total = sum(importlib.import_module(m).VALUE for m in (py_mod, zip_mod))
        for b in batches:
            yield pa.RecordBatch.from_pydict({"v": [total] * b.num_rows})

    rows = df.mapInArrow(read_added, "v long").collect()
    assert len(rows) == 16 and {r.v for r in rows} == {42}


def test_install_falls_back_when_pyspark_differs(monkeypatch):
    from pyspark import worker_util

    monkeypatch.setattr(worker_util, "importlib", types.SimpleNamespace())
    assert daemon.install() is False
    assert isinstance(worker_util.importlib, types.SimpleNamespace)

    monkeypatch.setattr(worker_util, "importlib", importlib)
    assert daemon.install() is True
    assert worker_util.importlib.invalidate_caches is daemon.invalidate_caches_except_zip
    assert worker_util.importlib.import_module is importlib.import_module


def test_daemon_is_chosen_only_where_workers_find_the_package(monkeypatch, tmp_path):
    """A local daemon that cannot import the package would fail every Python
    task, so ``get_spark`` keeps pyspark's daemon unless the working
    directory, ``PYTHONPATH`` or site-packages hold the package."""
    from nfl_feature_store_spark.session import _workers_find_package

    root = os.path.dirname(os.path.dirname(os.path.abspath(daemon.__file__)))
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONPATH", str(tmp_path))
    assert not _workers_find_package()
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), root]))
    assert _workers_find_package()
    monkeypatch.delenv("PYTHONPATH")
    monkeypatch.chdir(root)
    assert _workers_find_package()
