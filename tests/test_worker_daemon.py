"""The engine's PySpark daemon: zipimport's directory re-read on
``importlib.invalidate_caches()`` runs only when the archive changed."""

import importlib
import sys
import zipfile
import zipimport

from pyspark.sql import Row

from miaplpy_spark import worker_daemon


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)


def test_wrapper_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "pkgs.zip")
    _write_zip(archive, {"wd_probe_a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(worker_daemon, "_last_read", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon._invalidate_caches)
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    try:
        assert importlib.import_module("wd_probe_a").X == 1
        importlib.invalidate_caches()  # first call: reads once, stamps
        reads.clear()
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {"wd_probe_a.py": "X = 1\n",
                             "wd_probe_b.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module("wd_probe_b").Y == 2
    finally:
        for name in ("wd_probe_a", "wd_probe_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_python_tasks_run_under_the_engine_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "miaplpy_spark.worker_daemon"

    def probe(batches):
        import pyarrow as pa

        import zipimport

        from miaplpy_spark import worker_daemon

        for _ in batches:
            pass
        wrapped = (zipimport.zipimporter.invalidate_caches
                   is worker_daemon._invalidate_caches)
        yield pa.RecordBatch.from_pydict({"wrapped": [wrapped]})

    rows = spark.range(1).coalesce(1).mapInArrow(probe, "wrapped boolean").collect()
    assert rows == [Row(wrapped=True)]


def test_workers_fork_from_a_frozen_preloaded_heap(spark):
    """The daemon imports ``PRELOAD`` and freezes its heap before it
    forks, so a worker starts with those modules imported and its
    per-task ``gc.collect()`` walks only the unfrozen rest."""
    def probe(batches):
        import gc
        import sys

        import pyarrow as pa

        from miaplpy_spark import worker_daemon

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "frozen": [gc.get_freeze_count()],
            "unfrozen": [len(gc.get_objects())],
            "preloaded": [all(m in sys.modules
                              for m in worker_daemon.PRELOAD)]})

    row, = spark.range(1).coalesce(1).mapInArrow(
        probe, "frozen long, unfrozen long, preloaded boolean").collect()
    assert row["frozen"] > 0
    assert row["unfrozen"] < row["frozen"]
    assert row["preloaded"]
