"""TFRecord source/sink + tf.train.Example wire codec (sources/tfrecord.py)."""

from __future__ import annotations

import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dataflowjavasdk_spark.sources.tfrecord import (
    crc32c,
    decode_example,
    encode_example,
    frame_record,
    iter_records,
    masked_crc32c,
    parse_examples,
    read_tfrecord,
    write_tfrecord,
)


def test_crc32c_rfc3720_vectors():
    # RFC 3720 §B.4 published test vectors
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(bytes(32)) == 0x8A9136AA
    assert crc32c(bytes([0xFF] * 32)) == 0x62A8AB43
    assert crc32c(bytes(range(32))) == 0x46DD794E
    assert crc32c(b"") == 0


def test_crc32c_slice_by_8_matches_bytewise():
    # force both the 8-byte fast path and the byte tail
    data = bytes(range(256)) * 3 + b"tail"
    bytewise = 0xFFFFFFFF
    for b in data:
        c = (bytewise ^ b) & 0xFF
        for _ in range(8):
            c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
        bytewise = (bytewise >> 8) ^ c
    assert crc32c(data) == bytewise ^ 0xFFFFFFFF


def test_masked_crc_is_tensorflows():
    crc = crc32c(b"data")
    expect = (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF
    assert masked_crc32c(b"data") == expect


def test_example_roundtrip_all_types():
    feats = {
        "id": 42,
        "neg": -7,
        "big_neg": -(1 << 62),
        "name": "café",
        "raw": b"\x00\xff",
        "vec": [1.5, -2.25, 0.0],
        "ids": [3, -1, 1 << 40],
        "empty": [],
    }
    out = decode_example(encode_example(feats))
    assert out["id"] == [42]
    assert out["neg"] == [-7]
    assert out["big_neg"] == [-(1 << 62)]
    assert out["name"] == ["café".encode()]
    assert out["raw"] == [b"\x00\xff"]
    assert out["vec"] == [1.5, -2.25, 0.0]
    assert out["ids"] == [3, -1, 1 << 40]
    assert out["empty"] == []


def test_example_encoding_is_deterministic():
    a = encode_example({"b": 1, "a": "x"})
    b = encode_example({"a": "x", "b": 1})
    assert a == b  # sorted map-entry order → byte-stable shards


def test_unpacked_int64_accepted():
    # proto2 allows unpacked repeated scalars: field 1, wire 0, per value
    int64_list = b"\x08\x05\x08\x2a"  # values 5, 42
    feature = b"\x1a" + bytes([len(int64_list)]) + int64_list
    entry = b"\x0a\x01k" + b"\x12" + bytes([len(feature)]) + feature
    features = b"\x0a" + bytes([len(entry)]) + entry
    example = b"\x0a" + bytes([len(features)]) + features
    assert decode_example(example) == {"k": [5, 42]}


def test_framing_rejects_corruption():
    ex = encode_example({"k": 1})
    blob = frame_record(ex)
    assert list(iter_records(blob)) == [ex]
    assert list(iter_records(blob * 3)) == [ex] * 3
    with pytest.raises(ValueError, match="partial header"):
        list(iter_records(blob[:5]))
    with pytest.raises(ValueError, match="partial payload"):
        list(iter_records(blob[:-2]))
    hdr_bad = bytearray(blob)
    hdr_bad[9] ^= 1
    with pytest.raises(ValueError, match="header CRC"):
        list(iter_records(bytes(hdr_bad)))
    data_bad = bytearray(blob)
    data_bad[13] ^= 1
    with pytest.raises(ValueError, match="payload CRC"):
        list(iter_records(bytes(data_bad)))
    # length field lies about the payload size → header CRC catches it
    lie = bytearray(blob)
    lie[0] ^= 1
    with pytest.raises(ValueError):
        list(iter_records(bytes(lie)))


@settings(max_examples=50, deadline=None)
@given(
    st.dictionaries(
        st.text(st.characters(codec="ascii", min_codepoint=97, max_codepoint=122), min_size=1, max_size=6),
        st.one_of(
            st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1),
            st.binary(max_size=40),
            st.lists(st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1), max_size=5),
        ),
        max_size=5,
    )
)
def test_example_roundtrip_property(feats):
    out = decode_example(encode_example(feats))
    for k, v in feats.items():
        expect = v if isinstance(v, list) else [v]
        assert out[k] == expect


@settings(max_examples=30, deadline=None)
@given(st.lists(st.binary(max_size=200), max_size=8))
def test_framing_roundtrip_property(payloads):
    blob = b"".join(frame_record(p) for p in payloads)
    assert list(iter_records(blob)) == payloads


def test_spark_write_read_roundtrip(spark, tmp_path):
    d = str(tmp_path / "tfr")
    df = spark.createDataFrame(
        [(1, "alpha", 2.5, [1, 2]), (2, "béta", -0.5, []), (3, None, None, [7])],
        "id long, name string, score double, tags array<bigint>",
    )
    n_shards = write_tfrecord(df.repartition(2), d)
    assert 1 <= n_shards <= 2
    assert not (tmp_path / "tfr" / "_temporary").exists()
    back = parse_examples(
        read_tfrecord(spark, d),
        {"id": "bigint", "name": "string", "score": "double", "tags": "array<bigint>"},
    )
    rows = {r["id"]: r for r in back.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1]["name"] == "alpha" and rows[2]["name"] == "béta"
    assert rows[3]["name"] is None  # null column → absent feature → null
    assert rows[1]["score"] == 2.5 and rows[2]["score"] == -0.5
    assert rows[1]["tags"] == [1, 2] and rows[2]["tags"] == [] and rows[3]["tags"] == [7]


def test_parsing_read_equals_read_then_parse(spark, tmp_path):
    """`read_tfrecord(spark, path, spec)` is `parse_examples` over the
    plain read, in the read's own Python pass: same columns, types and
    rows, absent features null, an empty shard contributing nothing."""
    from dataflowjavasdk_spark.plans import audit

    d = tmp_path / "tfr_fused"
    df = spark.createDataFrame(
        [(i, f"n{i}" if i % 3 else None, i / 4 if i % 2 else None, list(range(i % 3)))
         for i in range(10)],
        "id long, name string, score double, tags array<bigint>",
    )
    write_tfrecord(df.repartition(3), str(d))
    (d / "part-empty.tfrecord").write_bytes(b"")
    spec = {"id": "bigint", "name": "string", "score": "float", "tags": "array<bigint>",
            "missing": "bigint"}
    fused = read_tfrecord(spark, str(d), spec)
    assert audit(fused).python_evals == 1
    two_pass = parse_examples(read_tfrecord(spark, str(d)), spec)
    assert fused.schema == two_pass.schema
    rows = sorted(fused.collect())
    assert rows == sorted(two_pass.collect())
    assert [r.id for r in rows] == list(range(10))
    assert rows[3].name is None and rows[3].score == 0.75 and rows[3].missing is None


def test_spark_roundtrip_null_long_and_double(spark, tmp_path):
    """Arrow→pandas surfaces nullable-bigint nulls as NaN floats; _coerce
    must treat them as the documented absent-feature null (ADVICE r6) —
    for BOTH integer and floating columns — instead of crashing on
    int(nan) or silently encoding a present NaN feature."""
    d = str(tmp_path / "tfr_nulls")
    df = spark.createDataFrame(
        [(1, 10, 0.5), (2, None, None), (3, None, 1.5)],
        "id long, n long, x double",
    )
    assert write_tfrecord(df, d) >= 1
    back = parse_examples(
        read_tfrecord(spark, d), {"id": "bigint", "n": "bigint", "x": "double"}
    )
    rows = {r["id"]: r for r in back.collect()}
    assert rows[1]["n"] == 10 and rows[1]["x"] == 0.5
    assert rows[2]["n"] is None and rows[2]["x"] is None  # absent, not NaN
    assert rows[3]["n"] is None and rows[3]["x"] == 1.5


def test_spark_read_rejects_corrupt_shard(spark, tmp_path):
    d = str(tmp_path / "tfr2")
    df = spark.createDataFrame([(1,)], "id long")
    write_tfrecord(df, d)
    import glob
    import os

    shard = glob.glob(os.path.join(d, "*.tfrecord"))[0]
    raw = bytearray(open(shard, "rb").read())
    raw[-1] ^= 1
    open(shard, "wb").write(bytes(raw))
    with pytest.raises(Exception, match="CRC"):
        read_tfrecord(spark, d).collect()


def _tfrecord_write_ids(spark, ids, dest):
    write_tfrecord(spark.createDataFrame([(i,) for i in ids], "id long"), dest)


def _tfrecord_read_ids(spark, root):
    rows = parse_examples(read_tfrecord(spark, root), {"id": "bigint"}).collect()
    return sorted(r["id"] for r in rows)


def _warc_write_ids(spark, ids, dest):
    from dataflowjavasdk_spark.sources.warc import WARC_SCHEMA, write_warc

    pages = [(f"https://c.example/{i}", "2024-01-01T00:00:00Z", 200, "text/html",
              f"<p>{i}</p>") for i in ids]
    write_warc(spark.createDataFrame(pages, WARC_SCHEMA), dest)


def _warc_read_ids(spark, root):
    from dataflowjavasdk_spark.sources.warc import read_warc

    return sorted(int(r["url"].rsplit("/", 1)[1]) for r in read_warc(spark, root).collect())


@pytest.mark.parametrize(
    "write_ids,read_ids",
    [(_tfrecord_write_ids, _tfrecord_read_ids), (_warc_write_ids, _warc_read_ids)],
    ids=["tfrecord", "warc"],
)
def test_read_excludes_crash_leftovers(spark, tmp_path, write_ids, read_ids):
    """ADVICE r7: a read after a crashed write must not see shards under
    _temporary/ (batch sink died after partial per-task renames) or in a
    batch=N/ directory missing its _SUCCESS marker (streaming micro-batch
    died mid-write; it will be replayed). Only committed data may appear.
    Every reader goes through the same committed-shard discovery."""
    import os
    import shutil

    d = str(tmp_path / "root")
    os.makedirs(os.path.join(d, "batch=0"))
    write_ids(spark, [1, 2], os.path.join(d, "batch=0"))
    open(os.path.join(d, "batch=0", "_SUCCESS"), "w").close()

    # crash leftover 1: uncommitted micro-batch (no _SUCCESS)
    os.makedirs(os.path.join(d, "batch=1"))
    write_ids(spark, [99], os.path.join(d, "batch=1"))

    # crash leftover 2: stale _temporary with an already-renamed shard
    tmpdir = os.path.join(d, "_temporary")
    os.makedirs(os.path.join(d, "scratch"))
    write_ids(spark, [77], os.path.join(d, "scratch"))
    os.makedirs(tmpdir)
    for f in os.listdir(os.path.join(d, "scratch")):
        shutil.move(os.path.join(d, "scratch", f), tmpdir)
    shutil.rmtree(os.path.join(d, "scratch"))

    assert read_ids(spark, d) == [1, 2]


def test_committed_shards_unit(tmp_path):
    """Pure-python discovery contract shared by the avro reader too."""
    import os

    from dataflowjavasdk_spark.sources._shards import committed_shards

    def touch(*parts):
        p = tmp_path.joinpath(*parts)
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(b"")
        return str(p)

    good_top = touch("a.avro")
    good_batch = touch("batch=0", "b.avro")
    touch("batch=0", "_SUCCESS")
    touch("batch=1", "c.avro")  # no _SUCCESS → excluded
    touch("_temporary", "d.avro")  # temp component → excluded
    touch("batch=0", "_temporary", "e.avro")  # temp inside committed batch
    assert committed_shards(str(tmp_path), "avro") == sorted([good_top, good_batch])
    # glob form (non-directory path) still excludes nothing it shouldn't
    assert committed_shards(str(tmp_path / "*.avro"), "avro") == [good_top]
    # Hive-partition disambiguation: partitionBy("batch") writes one
    # ROOT _SUCCESS and no per-partition markers — those shards are
    # committed data, not crash leftovers
    hive = touch("hive", "batch=7", "f.avro")
    touch("hive", "_SUCCESS")
    assert committed_shards(str(tmp_path / "hive"), "avro") == [hive]
    # ...but a root CLAIMED by a streaming sink stays strict even when
    # a bootstrap batch write left a root _SUCCESS: an uncommitted
    # micro-batch must not become readable (review-caught hole)
    from dataflowjavasdk_spark.sources._shards import claim_stream_sink_root

    touch("mixed", "_SUCCESS")  # bootstrap batch write's root marker
    claim_stream_sink_root(str(tmp_path / "mixed"))
    touch("mixed", "batch=0", "g.avro")  # died before its marker
    committed_mixed = touch("mixed", "batch=1", "h.avro")
    touch("mixed", "batch=1", "_SUCCESS")
    assert committed_shards(str(tmp_path / "mixed"), "avro") == [committed_mixed]


def test_float_feature_is_float32(spark, tmp_path):
    # doubles travel as proto float32 — the lossy cast is the format's,
    # not ours; parse_examples surfaces the float32 value exactly
    d = str(tmp_path / "tfr3")
    df = spark.createDataFrame([(1, 0.1)], "id long, x double")
    write_tfrecord(df, d)
    row = parse_examples(
        read_tfrecord(spark, d), {"id": "bigint", "x": "double"}
    ).collect()[0]
    assert row["x"] == struct.unpack("<f", struct.pack("<f", 0.1))[0]


def test_read_stream_tfrecord_microbatches_and_batch_equivalence(spark, tmp_path):
    """Streaming TFRecord drop-dir: shards landed into the dir become
    micro-batches (exactly-once across rounds against one checkpoint),
    and streamed records equal the batch read + parse on the same files."""
    from dataflowjavasdk_spark.streaming import core as SC

    def shard(lo, hi):
        return spark.createDataFrame(
            [(i, f"doc {i}") for i in range(lo, hi)], "id long, body string"
        ).coalesce(1)

    d = str(tmp_path / "tfr_stream")
    ckpt = str(tmp_path / "ckpt")
    write_tfrecord(shard(0, 4), d)

    def run_round():
        got = []

        def sink(batch_df, batch_id):
            ids = parse_examples(batch_df, {"id": "bigint"})
            got.extend(r["id"] for r in ids.collect())

        q = (
            SC.read_stream_tfrecord(spark, d)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return set(got)

    assert run_round() == set(range(4))
    write_tfrecord(shard(4, 7), str(tmp_path / "tfr_stream2"))
    import glob
    import shutil

    # land the new shard (unique name) in the watched dir
    src = glob.glob(str(tmp_path / "tfr_stream2" / "*.tfrecord"))[0]
    shutil.move(src, str(tmp_path / "tfr_stream" / "part-00001.tfrecord"))
    assert run_round() == set(range(4, 7))
    batch = parse_examples(read_tfrecord(spark, d), {"id": "bigint"})
    assert {r["id"] for r in batch.collect()} == set(range(7))


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=120))
def test_garbage_raises_only_valueerror(blob):
    """Uniform rejection contract (the module convention shared with the
    media codecs): arbitrary bytes must either parse or raise ValueError
    — never IndexError/struct.error/KeyError task-killers."""
    try:
        list(iter_records(blob))
    except ValueError:
        pass
    try:
        decode_example(blob)
    except ValueError:
        pass


def test_truncated_scalar_lists_raise_valueerror():
    import pytest as _pytest

    from dataflowjavasdk_spark.sources.tfrecord import _decode_scalar_list

    with _pytest.raises(ValueError, match="truncated FloatList"):
        _decode_scalar_list(b"\x0d\x01\x02", 2)  # wire-5 float, 2 bytes left
    with _pytest.raises(ValueError, match="truncated packed FloatList"):
        _decode_scalar_list(b"\x0a\x08\x00\x00", 2)  # claims 8, has 2
    with _pytest.raises(ValueError, match="truncated BytesList"):
        _decode_scalar_list(b"\x0a\x7f\x00", 1)  # claims 127, has 1
