"""Bounded sources over the driver's parquet fixtures.

The reference's bounded-source surface (historical sdk/io/BoundedSource.java,
sdk/io/FileBasedSource.java — size estimation, initial splitting) is
subsumed by Spark's parquet DataSource: splittable columnar scans with
predicate pushdown + column pruning, which the reference model could never
do (its elements are opaque to the runner; SURVEY.md §4.1).

Load-bearing detail: fixture timestamp physical types have varied across
driver rounds — TIMESTAMP(NANOS) (rounds 1-2; Spark rejects it, and with
spark.sql.legacy.parquet.nanosAsLong=true reads it as bigint nanoseconds)
and TIMESTAMP(MICROS) isAdjustedToUTC=false (round 3+; Spark reads it as
TIMESTAMP_NTZ). `load_table` normalizes BOTH to a session-local TIMESTAMP
so every downstream expression (unix_micros, window, session_window) sees
one type. Nanos convert with integer `ts DIV 1000` — NOT float division:
epoch-nanos ≈ 1.7e18 exceeds double's 53-bit mantissa, so `ts/1000` can be
off by ~1 µs, silently diverging from DuckDB's (truncating) nanos→micros
read of the same file. The NTZ→LTZ cast is value-identity because the
session timezone is pinned to UTC (session.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from dataflowjavasdk_spark.session import configure_session

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table, normalizing event-time columns.

    Returns a plain DataFrame: filters/projections applied downstream are
    pushed into the parquet scan by Catalyst (verify via .explain —
    PushedFilters/ReadSchema). Memoized per (dir, table) so repeated
    query builds (bench reps, the driver's per-query calls) reuse one
    file index instead of re-listing (~100 ms per table — a real
    warehouse resolves tables through a catalog once). The memo lives ON
    the session object, so it is collected with the session and a new
    session never sees another session's DataFrames; fixtures are
    immutable, so entries can't go stale.
    """
    from pyspark.sql import functions as F

    memo: dict[tuple[str, str], DataFrame] | None = getattr(
        spark, "_graft_table_memo", None
    )
    if memo is None:
        memo = {}
        spark._graft_table_memo = memo
    key = (os.path.abspath(sf_dir), name)
    cached = memo.get(key)
    if cached is not None:
        return cached

    configure_session(spark)  # nanosAsLong etc. even on a foreign session
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # bigint nanos → microsecond timestamp, integer math only.
            df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        elif ts_type == "timestamp_ntz":
            # NTZ → session-local timestamp; identity under the UTC session.
            # Only events.ts needs this (unix_micros / interval arithmetic
            # require LTZ); relational tables keep their scan columns raw so
            # date-range filters stay pushdown-eligible.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    memo[key] = df
    return df


def load_tables(
    spark: SparkSession, sf_dir: str | None = None, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    sf_dir = sf_dir or DEFAULT_SF_DIR
    return {name: load_table(spark, sf_dir, name) for name in names}


def table_row_count(sf_dir: str, name: str) -> int:
    """Row count of a fixture table from parquet FOOTER metadata — a
    driver-side file-stat, no Spark job and no data scan (the same
    source-size estimate the reference's BoundedSource.getEstimatedSizeBytes
    exposed for initial splitting)."""
    import glob

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isfile(path):
        return pq.read_metadata(path).num_rows
    return sum(
        pq.read_metadata(p).num_rows
        for p in glob.glob(os.path.join(path, "*.parquet"))
    )


def decode_fanout(spark: SparkSession, sf_dir: str, name: str = "documents",
                  rows_per_task: int = 2048) -> int:
    """Scale-ADAPTIVE partition count for the heavy-per-row Python decode
    stages (opt guide §2: derive partitioning from input size, never a
    constant tuned for one deployment). The old fan-out was a flat
    ``defaultParallelism`` (32 locally): at small inputs that is dozens of
    near-empty Python tasks whose fixed Arrow round-trip cost dominates
    the stage (a trivial 32-task mapInPandas over 5k rows costs ~0.55 s
    warm on local[4] while the actual 5k-row decode work is ~0.2 s; it
    was 2.0-2.4 s while every Python task re-read its import-path
    archives, see `_zipcache.py`); at large inputs it UNDER-splits (32
    tasks for 500k+ rows pins one long wave per core with no
    AQE/straggler granularity).

    Sizing: pick ``rows_per_task`` ≈ 0.2 s of decode work per task —
    enough to amortize the per-task Python round trip, small enough to
    schedule in waves. The default 2048 fits the ~0.1 ms/row audio/BMP
    decoders; the JPEG-bearing stages (~0.5 ms/row: baseline JPEG DCT
    per payload) pass 512, because at small inputs a compute-heavy
    decoder otherwise lands on too few cores (measured sf0.1,
    interleaved medians: mjpeg_frame_sample 1.75 s warm at 3 tasks →
    1.05 s at 10; 256 gives no further gain). A caller whose payloads
    are far off the fixture's ~KB scale passes its own value. The cap of
    4x defaultParallelism bounds task count by cluster size (on a real
    cluster defaultParallelism IS the executor-core total, so the cap
    scales with the hardware)."""
    rows = table_row_count(sf_dir, name)
    cores = spark.sparkContext.defaultParallelism
    return max(1, min(4 * cores, -(-rows // rows_per_task)))


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: list[str],
    num_buckets: int,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a table bucketed (and optionally sorted) by join/group keys.

    This is the co-location primitive for repeated fact⋈fact work at
    100 TB: two tables bucketed into the same `num_buckets` on the same
    keys join with ZERO exchange (and with `sort_by`, zero sort) — the
    shuffle is paid once at write time, then every downstream join,
    aggregation on the keys, or incremental merge reuses the layout.
    The reference had no analog: Dataflow re-shuffles every GroupByKey;
    this is Spark's materialized-partitioning advantage (asserted in
    tests/test_bucketing.py — the joined plan contains no Exchange).

    Sizing: num_buckets ≈ table-bytes / 256 MB, rounded to a power of two;
    both sides MUST agree on it (Spark requires equal bucket counts to
    elide the exchange; mismatched counts fall back to a shuffle)."""
    # A managed table's location can outlive its metastore entry (fresh
    # in-memory catalog per session, persistent warehouse dir) — Spark
    # then refuses the write with LOCATION_ALREADY_EXISTS even under
    # overwrite. If the catalog doesn't know the table, clear the orphan
    # location so the write is idempotent across sessions — but ONLY for
    # overwrite: under append/error/ignore the on-disk data is exactly
    # what the caller wants preserved (or reported), never deleted.
    spark = df.sparkSession
    if mode == "overwrite" and not spark.catalog.tableExists(table):
        import shutil
        from urllib.parse import urlparse

        warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        # Managed-table location layout: <warehouse>/<table> for the
        # default database, <warehouse>/<db>.db/<table> for a qualified
        # name — cleaning the wrong path would silently no-op and the
        # LOCATION_ALREADY_EXISTS failure would persist.
        parts = [p.lower() for p in table.split(".")]
        if len(parts) == 1:
            loc = os.path.join(warehouse, parts[0])
        else:
            *db_parts, tbl = parts
            loc = os.path.join(warehouse, f"{'.'.join(db_parts)}.db", tbl)
        shutil.rmtree(loc, ignore_errors=True)
    writer = df.write.mode(mode).bucketBy(num_buckets, *keys)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.format("parquet").saveAsTable(table)


def register_views(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Register every fixture table as a temp view, making the engine's
    full surface reachable from raw `spark.sql(...)` — the SQL entry point
    the reference never had (SURVEY.md §3: its only query language was the
    fluent Java API). ANSI queries (the TPC-H set) run verbatim;
    tests/test_sql_surface.py proves SQL and DataFrame plans agree."""
    sf_dir = sf_dir or DEFAULT_SF_DIR
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
