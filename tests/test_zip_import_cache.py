"""The zip archives on the import path are re-read only when they change,
and Python workers fork warm.

PySpark's worker calls `importlib.invalidate_caches()` at the start of
every task; `dataflowjavasdk_spark/_zipcache.py` keeps that call from
re-parsing pyspark.zip and the spark-core jar each time. The first test
drives the wrap Spark-free on a zip written here; the second checks it
inside real Python workers. The engine's worker daemon
(`dataflowjavasdk_spark/_daemon.py`) installs the wrap and imports the
Arrow stack before it forks; the fresh-pool tests check a worker's first
task, and the session tests check who selects that daemon.
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


def _archive_reads() -> tuple[int, int]:
    """In a worker: the archive reads of one `importlib.invalidate_caches()`,
    and the zip importers on its import path."""
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
    return len(reads), sum(isinstance(f, zipimport.zipimporter)
                           for f in sys.path_importer_cache.values())


def _probe(batches):
    """Count the archive reads of one `importlib.invalidate_caches()` in
    this worker. The task's own set-up call has already run; from the
    worker's second engine task on, it found nothing to re-read."""
    earlier = _PROBES[0]
    _PROBES[0] += 1
    reads, importers = _archive_reads()
    for _ in batches:
        pass
    yield pd.DataFrame({
        "pid": [os.getpid()], "earlier": [earlier], "installed": [_zipcache.installed()],
        "reads": [reads], "zip_importers": [importers],
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


def _fresh_probe(batches):
    """One fresh worker's first engine task: the archive reads of one
    `importlib.invalidate_caches()`, the daemon it was forked from and
    which of numpy/pandas/pyarrow that daemon had loaded, and a BLAS
    matmul and an Arrow compute kernel run after the fork."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    earlier = _PROBES[0]
    _PROBES[0] += 1
    reads, importers = _archive_reads()
    daemon = os.getppid()
    with open(f"/proc/{daemon}/cmdline", "rb") as fh:
        daemon_argv = fh.read().replace(b"\0", b" ").decode()
    with open(f"/proc/{daemon}/maps") as fh:
        maps = fh.read()
    preloaded = [m for m in ("numpy", "pandas", "pyarrow") if f"/site-packages/{m}/" in maps]
    x = (np.arange(256 * 256) % 7).reshape(256, 256)
    matmul_ok = np.array_equal(x.astype("float64") @ x.T.astype("float64"), x @ x.T)
    arrow_sum = pc.sum(pa.array(np.arange(100_000))).as_py()
    for _ in batches:
        pass
    yield pd.DataFrame({
        "earlier": [earlier], "reads": [reads], "zip_importers": [importers],
        "daemon": [daemon_argv], "preloaded": [",".join(preloaded)],
        "matmul_ok": [matmul_ok], "arrow_sum": [arrow_sum],
    })


@pytest.fixture(scope="module")
def fresh_pool(spark):
    """The probe's rows from 4 tasks on a worker pool no other job used:
    an executor env var set for this one job keys a new daemon, whose
    workers are forked for it."""
    sc = spark.sparkContext
    sc.environment["ZIPCACHE_TEST_POOL"] = f"fresh-{os.getpid()}"
    try:
        schema = ("earlier long, reads long, zip_importers long, daemon string, "
                  "preloaded string, matmul_ok boolean, arrow_sum long")
        rows = spark.range(0, 4, numPartitions=4).mapInPandas(_fresh_probe, schema).collect()
    finally:
        del sc.environment["ZIPCACHE_TEST_POOL"]
    assert len(rows) == 4 and all(r.earlier == 0 for r in rows), rows
    return rows


def test_fresh_pool_first_task_rereads_no_archive(fresh_pool):
    assert all(r.zip_importers > 0 for r in fresh_pool), fresh_pool
    assert all(r.reads == 0 for r in fresh_pool), fresh_pool


def test_fresh_pool_workers_fork_with_the_arrow_stack_loaded(fresh_pool):
    for r in fresh_pool:
        assert "-m dataflowjavasdk_spark._daemon" in r.daemon, r
        assert r.preloaded == "numpy,pandas,pyarrow", r


def test_fresh_pool_workers_compute_after_the_fork(fresh_pool):
    assert all(r.matmul_ok for r in fresh_pool), fresh_pool
    assert all(r.arrow_sum == 99_999 * 100_000 // 2 for r in fresh_pool), fresh_pool


def test_get_spark_selects_the_engine_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "dataflowjavasdk_spark._daemon"


def test_configure_session_leaves_a_foreign_sessions_daemon_alone():
    """A session the engine is handed keeps its own daemon:
    `configure_session` sets runtime confs only."""
    from dataflowjavasdk_spark.session import configure_session

    class Conf:
        def __init__(self):
            self.keys = []

        def set(self, key, value):
            self.keys.append(key)

    class Session:
        conf = Conf()

    configure_session(Session)
    assert Session.conf.keys, "no runtime conf was applied"
    assert not [k for k in Session.conf.keys if k.startswith("spark.python.")]


def test_engine_daemon_only_where_workers_import_the_engine(tmp_path, monkeypatch):
    """get_spark selects the engine daemon only when a worker would find
    the package: from the repository root, or with it on PYTHONPATH."""
    from dataflowjavasdk_spark import session

    root = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.chdir(root)
    assert session._workers_import_engine()
    monkeypatch.chdir(tmp_path)
    assert not session._workers_import_engine()
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), root]))
    assert session._workers_import_engine()
