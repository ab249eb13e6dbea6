"""AvroIO tests (historical tests/io/AvroSourceTest.java / AvroIOTest.java
analog): pure-codec spec round trips (CoderProperties style), hypothesis
property round trips through Spark, fixture-table equality, and the
FileBasedSink temp/rename commit contract."""

from __future__ import annotations

import datetime
import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dataflowjavasdk_spark.core import PCollection, Pipeline
from dataflowjavasdk_spark.sources import avro as A
from dataflowjavasdk_spark.sources.tables import load_table
from tests.conftest import SMOKE_SF

_settings = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def test_codec_roundtrip_all_types():
    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "l", "type": "long"},
            {"name": "i", "type": "int"},
            {"name": "d", "type": "double"},
            {"name": "f", "type": "float"},
            {"name": "b", "type": "boolean"},
            {"name": "s", "type": ["null", "string"]},
            {"name": "by", "type": "bytes"},
            {"name": "arr", "type": {"type": "array", "items": "long"}},
        ],
    }
    recs = [
        {"l": -(2**62), "i": -2147483648, "d": 1.5, "f": 0.25, "b": True,
         "s": "héllo", "by": b"\x00\xff", "arr": [1, -2, 3]},
        {"l": 2**62, "i": 2147483647, "d": -0.0, "f": 2.0, "b": False,
         "s": None, "by": b"", "arr": []},
    ]
    for codec in ("null", "deflate"):
        blob = A.write_container(recs, schema, codec=codec)
        got_schema, got = A.read_container(blob)
        assert got == recs, codec
        assert got_schema == schema


def test_zigzag_edge_values():
    import io as _io

    for n in (0, -1, 1, 63, -64, 2**31 - 1, -(2**31), 2**62, -(2**62)):
        assert A._zigzag_decode(_io.BytesIO(A._zigzag_encode(n))) == n


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-(2**31), max_value=2**31 - 1),
            st.text(max_size=12),
            st.floats(allow_nan=False, allow_infinity=False, width=64),
            st.integers(min_value=1_500_000_000, max_value=1_900_000_000),
        ),
        min_size=1,
        max_size=25,
    )
)
@_settings
def test_spark_avro_round_trip_property(spark, tmp_path_factory, rows):
    """Write → read preserves the bag exactly (long/string/double/timestamp),
    through repartitioned multi-shard files."""
    from pyspark.sql import functions as F

    d = str(tmp_path_factory.mktemp("avro_prop"))
    df = spark.createDataFrame(rows, "k long, s string, v double, secs long").select(
        "k", "s", "v", F.timestamp_seconds("secs").alias("ts")
    )
    p = Pipeline(spark)
    p.write_avro(PCollection(df.repartition(3)), d, codec="deflate")
    back = p.read_avro(d).df
    assert back.schema == df.schema
    assert sorted(map(str, back.collect())) == sorted(map(str, df.collect()))


@pytest.mark.parametrize("table", ["orders", "documents", "embeddings", "events"])
def test_fixture_table_round_trip(spark, tmp_path_factory, table):
    """Every fixture table shape survives (timestamps from the nanos
    workaround, array<float> embeddings, binary-ish text)."""
    d = str(tmp_path_factory.mktemp(f"avro_{table}"))
    df = load_table(spark, SMOKE_SF, table)
    p = Pipeline(spark)
    n_shards = p.write_avro(PCollection(df.repartition(2)), d)
    assert n_shards >= 1
    back = p.read_avro(d).df
    assert sorted(map(str, back.collect())) == sorted(map(str, df.collect()))


def test_write_commit_leaves_no_temporaries(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("avro_commit"))
    df = spark.range(100).withColumnRenamed("id", "x")
    Pipeline(spark).write_avro(PCollection(df.repartition(4)), d)
    names = sorted(os.listdir(d))
    assert all(n.endswith(".avro") for n in names), names
    assert not os.path.exists(os.path.join(d, "_temporary"))
    # shard naming is the reference's deterministic part-per-bundle scheme
    assert all(n.startswith("part-") for n in names)


def test_timestamp_microsecond_exactness(spark, tmp_path_factory):
    """Timestamp µs survive exactly (integer arithmetic, no float seconds)."""
    d = str(tmp_path_factory.mktemp("avro_ts"))
    ts = datetime.datetime(2026, 8, 13, 1, 2, 3, 123457)
    df = spark.createDataFrame([(ts,)], "ts timestamp")
    Pipeline(spark).write_avro(PCollection(df), d)
    got = Pipeline(spark).read_avro(d).df.collect()[0]["ts"]
    assert got == ts


@given(
    rows=st.lists(
        st.tuples(
            st.dates(
                min_value=datetime.date(1, 1, 1),
                max_value=datetime.date(9999, 12, 31),
            ),
            st.decimals(
                min_value=-(10**16) + 1,
                max_value=10**16 - 1,
                places=2,
                allow_nan=False,
                allow_infinity=False,
            ),
            # pandas ns-timestamps bound the Arrow transport to ~1677-2262;
            # that is a mapInPandas boundary limit, not the codec's (the
            # codec itself is exercised to year 1/9999 via the date column).
            st.datetimes(
                min_value=datetime.datetime(1678, 1, 1),
                max_value=datetime.datetime(2261, 12, 31, 23, 59, 59),
            ),
        ),
        min_size=1,
        max_size=20,
    )
)
@_settings
def test_logical_types_round_trip_property(spark, tmp_path_factory, rows):
    """date / decimal(bytes) / timestamp-micros logical types survive a
    Spark->Avro->Spark round trip exactly — full date range (negative
    epoch days), negative decimals (two's-complement sign), µs-precision
    timestamps."""
    d = str(tmp_path_factory.mktemp("avro_lt"))
    df = spark.createDataFrame(rows, "d date, dec decimal(18,2), ts timestamp_ntz")
    A.write_avro(df, d)
    back = A.read_avro(spark, d)
    assert dict(back.dtypes) == {"d": "date", "dec": "decimal(18,2)", "ts": "timestamp_ntz"}
    assert sorted(map(tuple, back.collect())) == sorted(rows)


def test_logical_types_schema_header():
    """The written header carries the spec logical-type annotations, so a
    non-Spark Avro reader sees dates/decimals, not bare ints/bytes."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("d", T.DateType(), False),
            T.StructField("m", T.DecimalType(12, 2), True),
        ]
    )
    avro = A.avro_schema_of(schema)
    assert avro["fields"][0]["type"] == {"type": "int", "logicalType": "date"}
    assert avro["fields"][1]["type"][1] == {
        "type": "bytes",
        "logicalType": "decimal",
        "precision": 12,
        "scale": 2,
    }
    # and the reverse mapping reconstructs the exact Spark types
    back = A.spark_schema_of(avro)
    assert back["d"].dataType == T.DateType()
    assert back["m"].dataType == T.DecimalType(12, 2)


def test_decimal_full_precision_38_digits():
    """Decimals wider than Python's default context precision (28) must
    not be silently rounded: the codec scales under a widened context, so
    a precision-38 value round-trips exactly."""
    import decimal

    from pyspark.sql import types as T

    dt = T.DecimalType(38, 3)
    for s in (
        "12345678901234567890123456789012345.678",
        "-99999999999999999999999999999999999.999",
        "0.001",
    ):
        v = decimal.Decimal(s)
        assert A._from_py(A._to_py(v, dt), dt) == v, s


def test_nested_record_names_deterministic():
    """Nested record names derive from a traversal counter, not hash():
    same logical schema => byte-identical schema JSON across processes
    (PYTHONHASHSEED immunity), distinct nested structs => distinct names."""
    from pyspark.sql import types as T

    inner_a = T.StructType([T.StructField("x", T.LongType(), False)])
    inner_b = T.StructType([T.StructField("y", T.StringType(), False)])
    schema = T.StructType(
        [
            T.StructField("a", inner_a, False),
            T.StructField("b", inner_b, False),
        ]
    )
    avro = A.avro_schema_of(schema)
    names = [f["type"]["name"] for f in avro["fields"]]
    assert names == ["nested_1", "nested_2"]
    assert A.avro_schema_of(schema) == avro  # deterministic re-derivation


def test_empty_write_still_readable(spark, tmp_path_factory):
    """An empty input commits one schema-bearing empty shard — the output
    dir is always a readable dataset (reference Write ≥ 1 shard)."""
    d = str(tmp_path_factory.mktemp("avro_empty"))
    df = spark.range(0).withColumnRenamed("id", "x")
    n = Pipeline(spark).write_avro(PCollection(df), d)
    assert n == 1
    back = Pipeline(spark).read_avro(d).df
    assert back.count() == 0
    assert back.schema == df.schema


def test_streaming_avro_sink_exactly_once(spark, tmp_path_factory):
    """write_stream_avro: availableNow drains a drop-dir stream into
    per-batch committed avro dirs; a replayed batch (restart) is skipped
    by its _SUCCESS marker, so no duplicate rows appear."""
    import shutil

    from dataflowjavasdk_spark.sources.avro import (
        read_avro,
        write_stream_avro,
    )
    from dataflowjavasdk_spark.streaming.core import read_stream_dropdir

    root = str(tmp_path_factory.mktemp("avro_stream"))
    in_dir, out_dir, ckpt = (os.path.join(root, d) for d in ("in", "out", "ckpt"))
    os.makedirs(in_dir)
    src = spark.range(50).withColumnRenamed("id", "x")
    staging = os.path.join(root, "staging")
    src.coalesce(1).write.parquet(staging)
    for f in os.listdir(staging):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(staging, f), os.path.join(in_dir, f))

    stream = read_stream_dropdir(spark, in_dir, "x long")
    q = write_stream_avro(stream, out_dir, ckpt).trigger(availableNow=True).start()
    q.awaitTermination(120)

    back = read_avro(spark, out_dir)
    assert sorted(r["x"] for r in back.collect()) == list(range(50))

    # simulate a restart replaying batch 0: the marker makes it a no-op
    from dataflowjavasdk_spark.sources import avro as A

    before = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(out_dir)
        for f in fs
    )
    def replay(batch_df, batch_id):  # same logic the sink runs
        dest = os.path.join(out_dir, f"batch={batch_id}")
        marker = os.path.join(dest, "_SUCCESS")
        assert os.path.exists(marker)
    replay(None, 0)
    q2 = write_stream_avro(
        read_stream_dropdir(spark, in_dir, "x long"), out_dir, ckpt
    ).trigger(availableNow=True).start()
    q2.awaitTermination(120)
    after = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(out_dir)
        for f in fs
    )
    assert before == after  # nothing re-written
    assert sorted(r["x"] for r in read_avro(spark, out_dir).collect()) == list(range(50))


def _tfrecord_sink_ops():
    from dataflowjavasdk_spark.sources import tfrecord as TF

    def read_x(spark, path):
        return [r["x"] for r in TF.parse_examples(
            TF.read_tfrecord(spark, path), {"x": "bigint"}
        ).collect()]

    return TF.write_tfrecord, TF.write_stream_tfrecord, read_x


def _avro_sink_ops():
    def read_x(spark, path):
        return [r["x"] for r in A.read_avro(spark, path).collect()]

    return A.write_avro, A.write_stream_avro, read_x


@pytest.mark.parametrize("sink_ops", [_avro_sink_ops, _tfrecord_sink_ops],
                         ids=["avro", "tfrecord"])
def test_streaming_avro_sink_replay_replaces_uncommitted_attempt(
    spark, tmp_path_factory, sink_ops
):
    """Crash-window recovery: if a process dies AFTER the batch writer
    renamed shards into batch=<id>/ but BEFORE the _SUCCESS marker, the
    replay must fully replace the orphaned attempt — a replay producing
    fewer partitions must not leave the earlier attempt's higher-numbered
    part files contributing duplicate rows to a "committed" dir. Both
    streaming sinks share the one batch=<id>/_SUCCESS body."""
    import shutil

    from dataflowjavasdk_spark.streaming.core import read_stream_dropdir

    write, write_stream, read_x = sink_ops()
    root = str(tmp_path_factory.mktemp("sink_crash"))
    in_dir, out_dir, ckpt = (os.path.join(root, d) for d in ("in", "out", "ckpt"))
    os.makedirs(in_dir)
    src = spark.range(50).withColumnRenamed("id", "x")
    staging = os.path.join(root, "staging")
    src.coalesce(1).write.parquet(staging)
    for f in os.listdir(staging):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(staging, f), os.path.join(in_dir, f))

    # Fabricate the dead uncommitted attempt: shards present (including a
    # stale high-numbered one that a leaner replay would never rewrite),
    # marker absent.
    dest = os.path.join(out_dir, "batch=0")
    os.makedirs(dest)
    write(spark.range(7).withColumnRenamed("id", "x").repartition(3), dest)
    assert not os.path.exists(os.path.join(dest, "_SUCCESS"))
    stale = sorted(os.listdir(dest))
    assert len(stale) >= 3

    q = (
        write_stream(read_stream_dropdir(spark, in_dir, "x long"), out_dir, ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # the orphaned shards are gone; exactly the replayed rows survive
    assert os.path.exists(os.path.join(dest, "_SUCCESS"))
    assert sorted(read_x(spark, out_dir)) == list(range(50))


def test_block_level_split_read_exact(spark, tmp_path_factory):
    """read_avro_split (block-level initial splitting): one multi-block
    file decoded through many byte-range tasks loses nothing and
    duplicates nothing, at any split size — each block is owned by
    exactly the split containing its start boundary."""
    d = str(tmp_path_factory.mktemp("avro_split"))
    df = spark.range(5000).selectExpr("id AS x", "CAST(id AS STRING) AS s")
    A.write_avro(df.coalesce(1), d, codec="deflate")
    f = next(f for f in os.listdir(d) if f.endswith(".avro"))
    size = os.path.getsize(os.path.join(d, f))
    for split_bytes in (size + 1, 2048, 512):
        back = A.read_avro_split(spark, d, split_bytes=split_bytes)
        assert sorted(r["x"] for r in back.collect()) == list(range(5000)), split_bytes


def test_multi_block_writer_layout(spark):
    """write_container chunks rows into sync-delimited blocks (the spec's
    splittability unit), and read_container walks them all."""
    schema = {"type": "record", "name": "t",
              "fields": [{"name": "x", "type": "long"}]}
    recs = [{"x": i} for i in range(2500)]
    blob = A.write_container(recs, schema, block_rows=100)
    got_schema, got = A.read_container(blob)
    assert got == recs
    # 25 blocks → 25 sync markers beyond the header's
    _, _, sync, offset = A.read_header(blob)
    assert blob.count(sync) >= 26
