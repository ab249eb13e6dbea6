"""Unified batch/streaming layer (SURVEY.md §2.8, §3.3).

The model's promise — the same pipeline runs bounded or unbounded — maps
to Spark's DataFrame/Structured Streaming split: every PCollection method
in core.py already works on a streaming DataFrame (groupBy+window,
joins, expressions are identical). This module adds the unbounded-specific
pieces:

- sources: file-drop-dir replay (the PubsubIO analog offline: files arrive,
  stream processes them; historical sdk/io/PubsubIO.java semantics of
  timestampLabel ≡ the event-time column, idLabel ≡ dedup id), rate source
  (CountingInput.unbounded analog).
- watermarks: withWatermark — Spark's user-declared heuristic bound vs the
  reference's source-computed watermark (MillWheel); a stated semantic
  deviation (SURVEY.md §7.2.3).
- modes: append ≡ AfterWatermark.pastEndOfWindow (emit once, on-time);
  update ≡ early-firing refinements per micro-batch.
- exactly-once id-dedup: drop_duplicates_within_watermark ≡ PubsubIO
  idLabel dedup.
- MicroBatchHarness: the ReduceFnTester analog (SURVEY.md §5.2.4) — write
  timestamped batches into a drop-dir, run availableNow rounds against one
  checkpoint, observe emitted panes per round; the watermark advances
  exactly as far as the data you fed.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

_UNIT_MS = {
    "millisecond": 1, "milliseconds": 1,
    "second": 1000, "seconds": 1000,
    "minute": 60_000, "minutes": 60_000,
    "hour": 3_600_000, "hours": 3_600_000,
    "day": 86_400_000, "days": 86_400_000,
}


def duration_ms(spec: str) -> int:
    """Milliseconds in a duration spec such as "30 seconds" or "1.5 hours"."""
    qty, unit = spec.split()
    return round(float(qty) * _UNIT_MS[unit])


def read_stream_dropdir(
    spark: SparkSession, path: str, schema: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """Unbounded file source: parquet files dropped into `path` become
    micro-batches. The offline PubsubIO.Read stand-in; at scale this is
    any streaming source (Kafka etc.) — everything downstream is
    source-agnostic. max_files_per_trigger=1 makes each dropped file its
    own micro-batch, so the watermark advances between files — what the
    test harness needs to emulate ReduceFnTester.advanceWatermark."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def read_stream_jsonl(
    spark: SparkSession, path: str, schema: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """Unbounded JSON-lines drop-dir source — the PubsubIO-from-files
    pattern for JSON payloads (historical sdk/io/PubsubIO.java +
    TableRowJsonCoder: attribute-timestamped JSON messages). Schema-first
    like every streaming file source (Spark requires it: no inference on
    unbounded input); downstream is identical to the parquet drop-dir."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def read_stream_avro(
    spark: SparkSession,
    path: str,
    spark_schema=None,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """Unbounded AvroIO source — the streaming twin of sources/avro.py
    read_avro (historical sdk/io/AvroIO.Read on an unbounded file
    pattern): files dropped into `path` become micro-batches of whole
    container files (the splitIntoBundles unit), decoded by the same
    per-file codec in one Arrow-batched pass — the batch read's plan.

    `spark_schema` (a StructType) is required when the drop-dir may start
    empty (streaming sources need a schema before data arrives); if
    omitted, it comes from the header of the first committed .avro shard
    (never a ``_temporary/`` or uncommitted one). Downstream state and
    watermark semantics are source-agnostic."""
    from dataflowjavasdk_spark.sources import _shards, avro

    if spark_schema is None:
        shards = _shards.committed_shards(path, "avro")
        if not shards:
            raise FileNotFoundError(
                f"no .avro files under {path} to infer a schema from; pass "
                "spark_schema= for an initially-empty drop-dir"
            )
        spark_schema = avro.spark_schema_at(shards[0])
    return _shards.decode_rows(
        _shards.stream_files(spark, path, "*.avro", max_files_per_trigger, "content"),
        lambda raw: avro.records_to_pdf(avro.read_container(bytes(raw))[1], spark_schema),
        spark_schema,
    )


def read_stream_media(
    spark: SparkSession,
    path: str,
    glob: str = "*.bin",
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """Unbounded media drop-dir — the streaming ingest leg of the
    multimodal curation flagship: each file landed in `path` is ONE
    opaque payload row (media_id recovered from the filename's digits,
    the PubsubIO idLabel analog). Downstream is the exact batch
    topology: sniff_media_meta (pure JVM header sniff) →
    curate_media_features (route → decode → gate) → update-mode
    aggregation; blobs never shuffle — a micro-batch decodes its own
    files at scan parallelism and only feature rows leave Python."""
    from dataflowjavasdk_spark.sources._shards import stream_files

    media_id = F.regexp_extract(
        F.element_at(F.split(F.col("path"), "/"), -1), r"(\d+)", 1
    ).cast("long")
    return stream_files(
        spark, path, glob, max_files_per_trigger,
        media_id.alias("media_id"), F.col("content").alias("payload"),
    )


def read_stream_warc(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """Unbounded WARC source — streaming twin of sources/warc.read_warc:
    crawl segments dropped into `path` become micro-batches (one whole
    .warc.gz per row — a crawl's parallelism unit), parsed to response
    records by the batch reader's `decode_shard`. The live-crawl
    ingestion shape; everything downstream is source-agnostic."""
    from dataflowjavasdk_spark.sources import _shards, warc

    files = _shards.stream_files(
        spark, path, "*.warc.gz", max_files_per_trigger, "content"
    )
    return _shards.decode_rows(files, warc.decode_shard, warc.WARC_SCHEMA)


def read_stream_tfrecord(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """Unbounded TFRecord source — streaming twin of
    sources/tfrecord.read_tfrecord: training shards dropped into `path`
    become micro-batches (one whole .tfrecord per row — the unit data
    loaders shard by too), walked by the batch reader's CRC-verified
    `decode_shard`. The continuous-training ingestion shape: a curation
    job publishes shards, a trainer-side validator streams them."""
    from dataflowjavasdk_spark.sources import _shards, tfrecord

    files = _shards.stream_files(
        spark, path, "*.tfrecord", max_files_per_trigger, "path", "content"
    )
    return _shards.decode_rows(files, tfrecord.decode_shard, tfrecord.TFRECORD_SCHEMA)


def streaming_curation_capstone(
    spark: SparkSession, media_dir: str, out_dir: str, checkpoint: str
):
    """The STREAMING curation capstone (round 8 — VERDICT r7 #6): one
    unbounded pipeline composing every piece the batch flagships use —
    media drop-dir ingest (read_stream_media) → pure-JVM header sniff
    (sniff_media_meta) → route/decode/quality-gate
    (curate_media_features) → kept rows only → TFRecord trainer egress
    (write_stream_tfrecord's batch=N/_SUCCESS exactly-once commits).
    This is the streaming twin of trainer_egress_pipeline: crawl media
    lands continuously, curated training shards come out the other end,
    and a restart replays micro-batches idempotently (the _SUCCESS
    marker is the commit point; the crash-leftover-excluding reader
    guarantees a reader never sees an uncommitted batch).

    Blobs never shuffle: sniff is a scan-local projection, decode runs
    in the scanning task's Python worker, the gate is a Column filter,
    and the sink writes each micro-batch's partitions directly —
    the whole pipeline is Exchange-free per micro-batch, which is what
    lets it absorb a 1000-executor crawl firehose.

    Returns a DataStreamWriter; caller picks the trigger/start."""
    from dataflowjavasdk_spark.functions.multimodal import (
        curate_media_features,
        sniff_media_meta,
    )
    from dataflowjavasdk_spark.sources.tfrecord import write_stream_tfrecord

    stream = read_stream_media(spark, media_dir)
    sniffed = sniff_media_meta(stream).select(
        "media_id", "payload", F.col("meta.media_type").alias("media_type")
    )
    curated = curate_media_features(sniffed).filter(F.col("kept"))
    records = curated.select(
        "media_id",
        "media_type",
        F.col("units").cast("long").alias("units"),
        F.col("mean_pix").cast("double").alias("mean_pix"),
        F.col("rate").cast("long").alias("rate"),
    )
    return write_stream_tfrecord(records, out_dir, checkpoint)


def rate_source(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """CountingInput.unbounded().withRate(...) (historical
    sdk/io/CountingInput.java): synthetic unbounded sequence."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )


def with_watermark(df: DataFrame, ts_col: str, delay: str) -> DataFrame:
    """Event-time watermark. Deviation vs reference (documented): Spark's
    watermark is a user-declared max-delay heuristic; Dataflow's is
    source-computed (MillWheel). Lateness beyond `delay` drops rows."""
    return df.withWatermark(ts_col, delay)


class SourceWatermarkTracker:
    """Source-COMPUTED watermark emulation for parquet drop-dir sources
    (the tractable half of the MillWheel/source-watermark gap; historical
    sdk/io/PubsubIO.java timestampLabel + ReduceFnRunner's min-across-
    inputs close rule).

    Spark's watermark is data-computed and observable only GLOBALLY (one
    eventTime.watermark per query); Beam's runner tracks a per-source low
    watermark — a source ADVERTISES how far its event time has progressed
    — and closes windows at the min across sources. This tracker
    reproduces that for drop-dir sources without scanning data: each
    source's watermark is the max event-time recorded in its files'
    parquet FOOTER column statistics (metadata reads, the file-source
    analog of Pub/Sub's oldest-unacked advertisement), minus the
    source's allowed delay. low_watermark() is the min across sources:

    - a source with NO files is None -> low watermark None (holds
      everything, Beam's -inf),
    - a STALLED source (no new files) pins the min at its last file's
      max — the slowest-input rule; the N-way CoGBK keeps every window
      at or past that point open (pinned by
      tests/test_streaming.py::test_stalled_source_holds_watermark
      against the engine's actual emission behavior).

    At scale the same contract is a streaming source's own watermark API
    (Kafka per-partition max, Pub/Sub backlog); footers here play that
    role so the semantics are testable offline."""

    def __init__(
        self,
        source_dirs: dict[str, str],
        ts_col: str = "ts",
        delays: dict[str, str] | str = "0 seconds",
    ):
        self.source_dirs = dict(source_dirs)
        self.ts_col = ts_col
        if isinstance(delays, str):
            delays = {name: delays for name in source_dirs}
        self.delay_s = {
            name: duration_ms(delays.get(name, "0 seconds")) / 1000
            for name in source_dirs
        }

    def per_source(self) -> dict:
        """name -> per-source watermark (datetime, delay already
        subtracted) or None when the source has no timestamped file yet."""
        import datetime
        import glob as _glob

        import pyarrow.parquet as pq

        out = {}
        for name, d in self.source_dirs.items():
            best = None
            for f in sorted(_glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)):
                try:
                    meta = pq.ParquetFile(f).metadata
                except Exception:
                    continue
                file_max = None
                for rg in range(meta.num_row_groups):
                    group = meta.row_group(rg)
                    for ci in range(group.num_columns):
                        col = group.column(ci)
                        if col.path_in_schema != self.ts_col:
                            continue
                        st = col.statistics
                        if st is not None and st.has_min_max:
                            mx = st.max
                            if file_max is None or mx > file_max:
                                file_max = mx
                if file_max is None and meta.num_rows:
                    # INT96-era files carry no timestamp statistics —
                    # fall back to a single-column read of this file
                    # (documented deviation from the footer-only path;
                    # harness feeds write TIMESTAMP_MICROS so the
                    # fallback never triggers there)
                    try:
                        tbl = pq.read_table(f, columns=[self.ts_col])
                        vals = tbl.column(0).to_pylist()
                        file_max = max(v for v in vals if v is not None)
                    except Exception:
                        file_max = None
                if file_max is not None:
                    # parquet TIMESTAMP(isAdjustedToUTC) stats come back
                    # tz-aware; normalize to the naive-UTC convention the
                    # engine's event times use throughout
                    if getattr(file_max, "tzinfo", None) is not None:
                        file_max = file_max.astimezone(
                            datetime.timezone.utc
                        ).replace(tzinfo=None)
                    if best is None or file_max > best:
                        best = file_max
            if best is not None:
                best = best - datetime.timedelta(seconds=self.delay_s[name])
            out[name] = best
        return out

    def low_watermark(self):
        """min across sources (None if ANY source has produced nothing —
        an unstarted input holds the whole pipeline, Beam's -inf)."""
        per = self.per_source()
        if not per or any(v is None for v in per.values()):
            return None
        return min(per.values())


def nway_windowed_cogroup(
    sources: dict[str, DataFrame],
    key: str,
    ts_col: str,
    window_size: str,
    delays: dict[str, str] | str = "0 seconds",
    value_col: str | None = None,
) -> DataFrame:
    """N-way CoGroupByKey over UNBOUNDED inputs as a first-class engine
    operator (round 10 — previously this union-tag plan lived only in
    test code): each source gets its own watermark node (so Spark's
    multi-watermark policy enforces the reference's min-across-sources
    close), sources union with an integer tag, and one windowed
    aggregation emits per-(window, key) per-source counts — n_<name>,
    plus sum_<name> when `value_col` is given. A key absent from a
    source shows 0 (the empty-iterable CoGbkResult contract stated
    relationally). Append mode => exactly-once on-time emission when the
    min watermark passes the window end.

    Scale: one shuffle (the windowed groupBy); the union is plan-level
    only. Per-source watermarks are observable via SourceWatermarkTracker
    on the backing drop-dirs."""
    if isinstance(delays, str):
        delays = {name: delays for name in sources}
    names = list(sources)
    tagged = []
    for i, name in enumerate(names):
        src = with_watermark(sources[name], ts_col, delays.get(name, "0 seconds"))
        cols = [F.col(key), F.col(ts_col), F.lit(i).alias("__tag")]
        cols.append(
            (F.col(value_col) if value_col else F.lit(0.0)).cast("double").alias("__v")
        )
        tagged.append(src.select(*cols))
    u = tagged[0]
    for t in tagged[1:]:
        u = u.unionByName(t)
    aggs = []
    for i, name in enumerate(names):
        aggs.append(
            F.sum(F.when(F.col("__tag") == i, 1).otherwise(0))
            .cast("long")
            .alias(f"n_{name}")
        )
        if value_col:
            aggs.append(
                F.sum(F.when(F.col("__tag") == i, F.col("__v")).otherwise(0.0))
                .alias(f"sum_{name}")
            )
    return (
        u.groupBy(F.window(ts_col, window_size).alias("__w"), key)
        .agg(*aggs)
        .select(
            F.col("__w.start").alias("window_start"),
            F.col("__w.end").alias("window_end"),
            key,
            *[c for c in
              [f"n_{n}" for n in names]
              + ([f"sum_{n}" for n in names] if value_col else [])],
        )
    )


def drop_duplicates_within_watermark(df: DataFrame, id_cols: list[str], ts_col: str, delay: str) -> DataFrame:
    """Effectively-once id-dedup (PubsubIO idLabel): state for an id is
    kept only within the watermark horizon — bounded state at scale."""
    return df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(id_cols)


def stream_static_join(stream: DataFrame, static: DataFrame, on, how: str = "inner") -> DataFrame:
    """Stream-static join ≡ side-input join on an unbounded main input
    (View.asMap in streaming mode): the static side broadcasts per
    micro-batch."""
    return stream.join(static, on, how)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    left_delay: str,
    right_delay: str,
    lower: str = "0 seconds",
    upper: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join — CoGroupByKey over two UNBOUNDED inputs, the
    reference's flagship streaming shape (historical
    sdk/transforms/join/CoGroupByKey.java under a windowing strategy).

    Beam scopes the join by putting both inputs in the same window; Spark
    scopes it by an event-time RANGE condition
    (left_ts + lower ≤ right_ts ≤ left_ts + upper) plus watermarks on both
    sides. The range bound is what lets each side EVICT state: a buffered
    left row can be dropped once the right watermark passes
    left_ts + upper — without it state grows forever, which is why Spark
    requires it for outer joins. Inner joins emit eagerly as matches
    arrive; outer joins emit their NULL rows only when the watermark
    proves no match can still come (≡ AfterWatermark.pastEndOfWindow for
    the empty-side case).

    `left_ts`/`right_ts` must be distinct names; the output carries ONE
    key column per join key, COALESCEd across sides (KV join shape —
    Beam's CoGbkResult always carries the key, so a right/full outer
    NULL-left row must still show its key; dropping the right keys
    returned key=NULL for those panes). At 100 TB: per-key state is
    bounded by (upper - lower) + watermark delay worth of rows per side —
    size the range to the business rule, never "large, to be safe"."""
    if left_ts == right_ts:
        raise ValueError("left_ts and right_ts must be distinct column names")
    l = left.withWatermark(left_ts, left_delay).alias("l")
    r = right.withWatermark(right_ts, right_delay).alias("r")
    from pyspark.sql import functions as F

    cond = None
    for k in on:
        c = F.col(f"l.{k}") == F.col(f"r.{k}")
        cond = c if cond is None else (cond & c)
    lo = F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {lower}")
    hi = F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {upper}")
    time_cond = (F.col(f"r.{right_ts}") >= lo) & (F.col(f"r.{right_ts}") <= hi)
    cond = time_cond if cond is None else (cond & time_cond)
    joined = l.join(r, cond, how)
    key_cols = [
        F.coalesce(F.col(f"l.{k}"), F.col(f"r.{k}")).alias(k) for k in on
    ]
    left_rest = [F.col(f"l.{c}") for c in left.columns if c not in on]
    right_rest = [F.col(f"r.{c}") for c in right.columns if c not in on]
    return joined.select(*key_cols, *left_rest, *right_rest)




def _write_parquet_micros(df: DataFrame, path: str) -> None:
    """Harness feed writer: force TIMESTAMP_MICROS (Spark's default INT96
    timestamps carry NO parquet column statistics, which would blind the
    SourceWatermarkTracker's footer-based watermark advertisement).
    Session conf set/restored around the write so nothing else in the
    shared test session changes."""
    spark = df.sparkSession
    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try:
        df.write.mode("overwrite").parquet(path)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def _land(staging: str, suffix: str, input_dir: str, i: int) -> None:
    """Copy a staged writer output's `suffix` files into a drop-dir as
    micro-batch `i`."""
    for f in os.listdir(staging):
        if f.endswith(suffix):
            shutil.copy(os.path.join(staging, f), os.path.join(input_dir, f"batch_{i}_{f}"))


def _drain(result: DataFrame, output_mode: str, checkpoint: str) -> tuple[list, StreamingQuery]:
    """Run `result` as one availableNow round against `checkpoint` and
    return (rows the sink received, the finished StreamingQuery)."""
    collected: list = []

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        collected.extend(batch_df.collect())

    q = (
        result.writeStream.foreachBatch(sink)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return collected, q


class MicroBatchHarness:
    """Controlled-replay streaming harness (the ReduceFnTester analog).

    feed(df) writes one micro-batch into the drop-dir (parquet by
    default; `fmt="jsonl"`/`"avro"` exercise the JSON-lines and AvroIO
    streaming sources — the same harness, payload-format-agnostic, like
    the reference's PubsubIO-from-files pattern); run_round(build) starts
    the query availableNow against a persistent checkpoint, drains it,
    and returns rows emitted THIS round. State and watermark carry across
    rounds via the checkpoint, so feeding later-timestamped batches
    advances the watermark exactly like ReduceFnTester.advanceWatermark.
    """

    def __init__(
        self,
        spark: SparkSession,
        schema: str,
        root: str | None = None,
        fmt: str = "parquet",
    ):
        if fmt not in ("parquet", "jsonl", "avro"):
            raise ValueError(f"unsupported harness format {fmt!r}")
        self.spark = spark
        self.schema = schema
        self.fmt = fmt
        self.root = root or tempfile.mkdtemp(prefix="mbh_")
        self.input_dir = os.path.join(self.root, "input")
        self.checkpoint = os.path.join(self.root, "checkpoint")
        os.makedirs(self.input_dir, exist_ok=True)
        self._feed_i = 0
        self.state_rows: int | None = None  # set by run_round

    def feed(self, df: DataFrame) -> None:
        staging = os.path.join(self.root, f"staging_{self._feed_i}")
        one = df.coalesce(1)
        if self.fmt == "parquet":
            _write_parquet_micros(one, staging)
            suffix = ".parquet"
        elif self.fmt == "jsonl":
            # Spark's default JSON timestampFormat carries millis only;
            # write micros explicitly so event times round-trip exactly
            # like the parquet/avro formats (watermark tests depend on it).
            one.write.mode("overwrite").option(
                "timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
            ).json(staging)
            suffix = ".json"
        else:  # avro — the engine's own OCF writer (temp/rename commit)
            from dataflowjavasdk_spark.sources.avro import write_avro

            write_avro(one, staging)
            suffix = ".avro"
        _land(staging, suffix, self.input_dir, self._feed_i)
        self._feed_i += 1

    def _source(self) -> DataFrame:
        if self.fmt == "parquet":
            return read_stream_dropdir(self.spark, self.input_dir, self.schema)
        if self.fmt == "jsonl":
            return read_stream_jsonl(self.spark, self.input_dir, self.schema)
        from pyspark.sql.types import StructType

        return read_stream_avro(
            self.spark, self.input_dir, StructType.fromDDL(self.schema)
        )

    def run_round(
        self,
        build: Callable[[DataFrame], DataFrame],
        output_mode: str = "append",
    ) -> list:
        """One availableNow round: rows the sink received this round.
        Also records `self.state_rows` — total stateful-operator rows at
        the round's final micro-batch (from query progress) — so soak
        tests can assert state stays bounded by the lateness horizon."""
        collected, q = _drain(build(self._source()), output_mode, self.checkpoint)
        self.state_rows = None
        for prog in reversed(q.recentProgress):
            ops = prog.get("stateOperators") or []
            if ops:
                self.state_rows = sum(op.get("numRowsTotal", 0) for op in ops)
                break
        return collected

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


class MultiStreamHarness:
    """N-source controlled-replay harness: MicroBatchHarness generalized to
    multiple unbounded inputs (what testing stream-stream joins needs —
    ReduceFnTester only ever had one input; this is the analog for
    CoGroupByKey pipelines). Each named source gets its own drop-dir; the
    build callable receives {name: streaming DataFrame}; one shared
    checkpoint carries join/agg state and BOTH watermarks across rounds
    (Spark advances the query watermark as the MIN across sources —
    the reference's "slowest input holds back the watermark" rule)."""

    def __init__(self, spark: SparkSession, schemas: dict[str, str], root: str | None = None):
        self.spark = spark
        self.schemas = schemas
        self.root = root or tempfile.mkdtemp(prefix="msh_")
        self.checkpoint = os.path.join(self.root, "checkpoint")
        self.input_dirs = {}
        self._feed_i = 0
        for name in schemas:
            d = os.path.join(self.root, f"input_{name}")
            os.makedirs(d, exist_ok=True)
            self.input_dirs[name] = d

    def feed(self, name: str, df: DataFrame) -> None:
        staging = os.path.join(self.root, f"staging_{self._feed_i}")
        _write_parquet_micros(df.coalesce(1), staging)
        _land(staging, ".parquet", self.input_dirs[name], self._feed_i)
        self._feed_i += 1

    def run_round(
        self,
        build: Callable[[dict[str, DataFrame]], DataFrame],
        output_mode: str = "append",
    ) -> list:
        sources = {
            name: read_stream_dropdir(
                self.spark, d, self.schemas[name], max_files_per_trigger=None
            )
            for name, d in self.input_dirs.items()
        }
        return _drain(build(sources), output_mode, self.checkpoint)[0]

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
