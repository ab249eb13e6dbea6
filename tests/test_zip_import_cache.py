"""The zip archives on the import path are re-read only when they change.

PySpark's worker calls `importlib.invalidate_caches()` at the start of
every task; `dataflowjavasdk_spark/_zipcache.py` keeps that call from
re-parsing pyspark.zip and the spark-core jar each time. The first test
drives the wrap Spark-free on a zip written here; the second checks it
inside real Python workers.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from dataflowjavasdk_spark import _zipcache


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def _count_reads(monkeypatch) -> list[str]:
    """Record the archive of every `zipimport._read_directory` call."""
    reads: list[str] = []
    real = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


def test_invalidate_caches_rereads_an_archive_only_when_it_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"m": "X = 1\n"})
    sys.path.insert(0, archive)
    try:
        import m

        assert m.X == 1
        importlib.invalidate_caches()  # the first call per archive reads it
        reads = _count_reads(monkeypatch)

        importlib.invalidate_caches()
        assert reads.count(archive) == 0, "an unchanged archive was re-read"

        _write_zip(archive, {"m": "X = 1\n", "m2": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) >= 1
        import m2

        assert m2.Y == 2

        del reads[:]
        os.remove(archive)
        importlib.invalidate_caches()  # stdlib behaviour: the read fails quietly
        assert reads.count(archive) >= 1
        assert archive not in zipimport._zip_directory_cache
        assert sys.path_importer_cache[archive]._files == {}
    finally:
        sys.path.remove(archive)
        for name in ("m", "m2"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        _zipcache._read_at.pop(archive, None)


# Worker-side state: how many probes this worker process has run.
_PROBES = [0]


def _probe(batches):
    """Count the archive reads of one `importlib.invalidate_caches()` in
    this worker. The task's own set-up call has already run; from the
    worker's second engine task on, it found nothing to re-read."""
    import zipimport

    earlier = _PROBES[0]
    _PROBES[0] += 1
    reads = []
    real = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return real(archive)

    zipimport._read_directory = counted
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = real
    importers = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
    for _ in batches:
        pass
    yield pd.DataFrame({
        "pid": [os.getpid()], "earlier": [earlier], "installed": [_zipcache.installed()],
        "reads": [len(reads)], "zip_importers": [importers],
    })


def test_reused_python_workers_skip_the_per_task_archive_reread(spark):
    sc = spark.sparkContext
    # An executor env var only this test sets keys a worker pool of its
    # own, so the second run is served by the workers of the first.
    sc.environment["ZIPCACHE_TEST_POOL"] = str(os.getpid())
    try:
        schema = "pid long, earlier long, installed boolean, reads long, zip_importers long"
        runs = [
            spark.range(0, 4, numPartitions=4).mapInPandas(_probe, schema).collect()
            for _ in range(2)
        ]
    finally:
        del sc.environment["ZIPCACHE_TEST_POOL"]
    second = runs[1]
    assert len(second) == 4
    assert all(r.installed for r in second), second
    assert all(r.zip_importers > 0 for r in second), second  # pyspark.zip, the jar
    reused = [r for r in second if r.earlier > 0]
    assert reused, runs
    assert all(r.reads == 0 for r in reused), runs
