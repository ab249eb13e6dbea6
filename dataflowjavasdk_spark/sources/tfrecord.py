"""TFRecord source/sink + a hand-rolled tf.train.Example wire codec.

TFRecord is the training-shard format the TensorFlow/JAX data loaders
consume; a curation pipeline that cannot EMIT it cannot feed a trainer.
Everything here is implemented from the public specs:

- Record framing (TensorFlow `tensorflow/core/lib/io/record_writer.cc`
  documented layout): ``uint64 length (LE) | uint32 masked_crc(length) |
  data[length] | uint32 masked_crc(data)``, where the checksum is
  CRC-32C (Castagnoli, RFC 3720 §B.4) with TensorFlow's published mask
  ``((crc >> 15 | crc << 17) + 0xa282ead8) & 0xffffffff``.
- Payloads are `tf.train.Example` protobuf messages. The container has
  no protobuf runtime (the suite's documented `google.protobuf` skip),
  so the wire format is encoded/decoded BY HAND from the public proto2
  encoding spec: varint tags, length-delimited submessages,
  ``Example{1: Features{1: map<string, Feature>}}`` with
  ``Feature{1: BytesList | 2: FloatList | 3: Int64List}``. The encoder
  emits map entries in sorted-key order so shard bytes are
  deterministic; the decoder accepts any field order and both packed
  and unpacked repeated scalars.
- `write_tfrecord(df, path)`: the per-partition codec (column coercion,
  `encode_example`, `frame_record`) handed to the shard sink in
  sources/_shards.py, which owns the FileBasedSink temp/rename commit
  (one ``part-NNNNN.tfrecord`` per non-empty partition).
  `write_stream_tfrecord` is the same codec behind the shared
  ``batch=<id>/_SUCCESS`` streaming sink.
- `read_tfrecord(spark, path[, feature_spec])`: the shard reader
  discovers committed shards (`binaryFile`, file-level parallelism); its
  per-row runner walks each file's framing with `decode_shard` (both
  CRCs verified per record — a flipped bit raises ValueError, never a
  silent wrong row). Given a feature spec, the same pass also parses
  each record into typed columns.
- `parse_examples(df, feature_spec)`: the `tf.io.parse_example` analog —
  decodes an Example payload column into typed Spark columns. It and the
  parsing read share one per-blob parser, `example_parser`.

Scale shape: TFRecord is not splittable (no sync markers), so read
parallelism is per FILE — exactly how trainers shard input (thousands of
~100 MB–1 GB shards; `training_shard_manifest` already sizes shards
deterministically). Writes are embarrassingly parallel, one shard per
partition, payload bytes never shuffle. CRC-32C runs slice-by-8
table-driven (8 bytes per Python-loop iteration) inside the Arrow batch
pass.
"""

from __future__ import annotations

import os
import struct
from collections.abc import Iterator

# ---------------------------------------------------------------------------
# CRC-32C (Castagnoli), slice-by-8. Public algorithm: RFC 3720 §B.4;
# reflected polynomial 0x82F63B78.
# ---------------------------------------------------------------------------

_POLY = 0x82F63B78


def _build_tables() -> list[list[int]]:
    t0 = []
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ _POLY if c & 1 else c >> 1
        t0.append(c)
    tables = [t0]
    for k in range(1, 8):
        prev = tables[k - 1]
        tables.append([(prev[n] >> 8) ^ t0[prev[n] & 0xFF] for n in range(256)])
    return tables


_T = _build_tables()


def crc32c(data: bytes, crc: int = 0) -> int:
    """CRC-32C of ``data``. Verified against the RFC 3720 test vector
    (crc32c(b'123456789') == 0xE3069283) in tests/test_tfrecord.py."""
    c = crc ^ 0xFFFFFFFF
    n = len(data)
    i = 0
    t0, t1, t2, t3, t4, t5, t6, t7 = _T
    # slice-by-8: one table round per 8 input bytes
    end8 = n - (n % 8)
    while i < end8:
        c ^= int.from_bytes(data[i : i + 4], "little")
        b4, b5, b6, b7 = data[i + 4], data[i + 5], data[i + 6], data[i + 7]
        c = (
            t7[c & 0xFF]
            ^ t6[(c >> 8) & 0xFF]
            ^ t5[(c >> 16) & 0xFF]
            ^ t4[(c >> 24) & 0xFF]
            ^ t3[b4]
            ^ t2[b5]
            ^ t1[b6]
            ^ t0[b7]
        )
        i += 8
    while i < n:
        c = (c >> 8) ^ t0[(c ^ data[i]) & 0xFF]
        i += 1
    return c ^ 0xFFFFFFFF


_MASK_DELTA = 0xA282EAD8


def masked_crc32c(data: bytes) -> int:
    """TensorFlow's masked CRC: rotate right 15 then add the mask delta."""
    crc = crc32c(data)
    return (((crc >> 15) | (crc << 17)) + _MASK_DELTA) & 0xFFFFFFFF


# ---------------------------------------------------------------------------
# Record framing
# ---------------------------------------------------------------------------


def frame_record(data: bytes) -> bytes:
    """length | masked_crc(length) | data | masked_crc(data)."""
    header = struct.pack("<Q", len(data))
    return (
        header
        + struct.pack("<I", masked_crc32c(header))
        + data
        + struct.pack("<I", masked_crc32c(data))
    )


def iter_records(blob: bytes) -> Iterator[bytes]:
    """Walk a TFRecord file's bytes, verifying both CRCs per record.
    Raises ValueError (the module's uniform rejection type) on truncation
    or checksum mismatch — corrupt shards must surface, not skip."""
    pos, n = 0, len(blob)
    while pos < n:
        if n - pos < 12:
            raise ValueError("truncated TFRecord: partial header")
        header = blob[pos : pos + 8]
        (length,) = struct.unpack("<Q", header)
        (hcrc,) = struct.unpack("<I", blob[pos + 8 : pos + 12])
        if masked_crc32c(header) != hcrc:
            raise ValueError("TFRecord header CRC mismatch")
        pos += 12
        if n - pos < length + 4:
            raise ValueError("truncated TFRecord: partial payload")
        data = blob[pos : pos + length]
        (dcrc,) = struct.unpack("<I", blob[pos + length : pos + length + 4])
        if masked_crc32c(data) != dcrc:
            raise ValueError("TFRecord payload CRC mismatch")
        pos += length + 4
        yield data


# ---------------------------------------------------------------------------
# Minimal proto2 wire codec for tf.train.Example (public .proto layout:
# tensorflow/core/example/example.proto + feature.proto).
# ---------------------------------------------------------------------------


def _varint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift, result = 0, 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated varint in Example payload")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 70:
            raise ValueError("varint overflow in Example payload")


def _tag(field: int, wire: int) -> bytes:
    return _varint((field << 3) | wire)


def _len_delim(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + _varint(len(payload)) + payload


def _int64_varint(v: int) -> bytes:
    # proto int64: negatives encode as 10-byte two's-complement varints
    return _varint(v & 0xFFFFFFFFFFFFFFFF)


def _from_u64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


def encode_example(features: dict) -> bytes:
    """Serialize ``{name: value}`` to tf.train.Example bytes.

    Value types: ``bytes``/``str`` → BytesList; ``int`` → Int64List;
    ``float`` → FloatList; a list of one of those → the multi-valued
    list. Map entries are emitted in sorted-key order, so equal inputs
    produce byte-identical Examples (checksum-stable shards)."""
    entries = bytearray()
    for name in sorted(features):
        value = features[name]
        vals = value if isinstance(value, (list, tuple)) else [value]
        if vals and isinstance(vals[0], (bytes, str)):
            body = b"".join(
                _len_delim(1, v.encode("utf-8") if isinstance(v, str) else v)
                for v in vals
            )
            feature = _len_delim(1, body)  # Feature.bytes_list
        elif vals and isinstance(vals[0], bool):
            raise ValueError("bool features are not part of tf.train.Example")
        elif vals and isinstance(vals[0], int):
            packed = b"".join(_int64_varint(v) for v in vals)
            feature = _len_delim(3, _len_delim(1, packed))  # Feature.int64_list
        elif vals and isinstance(vals[0], float):
            packed = b"".join(struct.pack("<f", v) for v in vals)
            feature = _len_delim(2, _len_delim(1, packed))  # Feature.float_list
        elif not vals:
            feature = b""  # empty Feature: unset oneof
        else:
            raise ValueError(f"unsupported feature type for {name!r}")
        entry = _len_delim(1, name.encode("utf-8")) + _len_delim(2, feature)
        entries += _len_delim(1, entry)  # Features.feature map entry
    return _len_delim(1, bytes(entries))  # Example.features


def _decode_scalar_list(buf: bytes, field_kind: int) -> list:
    """Decode a BytesList/FloatList/Int64List message body (field 1,
    packed or unpacked per the proto2 spec)."""
    pos, out = 0, []
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        field, wire = key >> 3, key & 7
        if field != 1:
            raise ValueError(f"unexpected field {field} in scalar list")
        if field_kind == 1:  # bytes
            if wire != 2:
                raise ValueError("BytesList values must be length-delimited")
            ln, pos = _read_varint(buf, pos)
            if pos + ln > len(buf):
                raise ValueError("truncated BytesList value")
            out.append(bytes(buf[pos : pos + ln]))
            pos += ln
        elif field_kind == 2:  # float
            if wire == 2:  # packed
                ln, pos = _read_varint(buf, pos)
                if ln % 4 or pos + ln > len(buf):
                    raise ValueError("truncated packed FloatList")
                out.extend(
                    struct.unpack_from("<f", buf, pos + i)[0]
                    for i in range(0, ln, 4)
                )
                pos += ln
            elif wire == 5:
                if pos + 4 > len(buf):
                    raise ValueError("truncated FloatList value")
                out.append(struct.unpack_from("<f", buf, pos)[0])
                pos += 4
            else:
                raise ValueError("bad wire type for FloatList")
        else:  # int64
            if wire == 2:  # packed
                ln, pos = _read_varint(buf, pos)
                end = pos + ln
                while pos < end:
                    v, pos = _read_varint(buf, pos)
                    out.append(_from_u64(v))
            elif wire == 0:
                v, pos = _read_varint(buf, pos)
                out.append(_from_u64(v))
            else:
                raise ValueError("bad wire type for Int64List")
    return out


def _decode_feature(buf: bytes) -> list:
    pos = 0
    if not buf:
        return []
    key, pos = _read_varint(buf, pos)
    field, wire = key >> 3, key & 7
    if wire != 2 or field not in (1, 2, 3):
        raise ValueError("malformed Feature message")
    ln, pos = _read_varint(buf, pos)
    if pos + ln > len(buf):
        raise ValueError("truncated Feature message")
    return _decode_scalar_list(buf[pos : pos + ln], field)


def decode_example(blob: bytes) -> dict:
    """Parse tf.train.Example bytes → ``{name: list_of_values}``."""
    pos, out = 0, {}
    # Example: field 1 = Features
    while pos < len(blob):
        key, pos = _read_varint(blob, pos)
        field, wire = key >> 3, key & 7
        if field != 1 or wire != 2:
            raise ValueError("malformed Example message")
        ln, pos = _read_varint(blob, pos)
        if pos + ln > len(blob):
            raise ValueError("truncated Features message")
        fbuf, fpos = blob[pos : pos + ln], 0
        pos += ln
        # Features: repeated map entry (field 1)
        while fpos < len(fbuf):
            k, fpos = _read_varint(fbuf, fpos)
            if (k >> 3) != 1 or (k & 7) != 2:
                raise ValueError("malformed Features map")
            eln, fpos = _read_varint(fbuf, fpos)
            if fpos + eln > len(fbuf):
                raise ValueError("truncated Features map entry")
            ebuf, epos = fbuf[fpos : fpos + eln], 0
            fpos += eln
            name, vals = None, []
            while epos < len(ebuf):
                ek, epos = _read_varint(ebuf, epos)
                ef, ew = ek >> 3, ek & 7
                if ew != 2:
                    raise ValueError("malformed map entry")
                vln, epos = _read_varint(ebuf, epos)
                if epos + vln > len(ebuf):
                    raise ValueError("truncated map entry value")
                vbuf = ebuf[epos : epos + vln]
                epos += vln
                if ef == 1:
                    name = vbuf.decode("utf-8")
                elif ef == 2:
                    vals = _decode_feature(vbuf)
            if name is None:
                raise ValueError("map entry without key")
            out[name] = vals
    return out


# ---------------------------------------------------------------------------
# Spark-facing writer / reader / parser
# ---------------------------------------------------------------------------


TFRECORD_SCHEMA = "shard string, record_index long, example binary"


def write_tfrecord(df, path: str) -> int:
    """Write ``df`` as TFRecord shards of tf.train.Example records, one
    ``part-{pid:05d}.tfrecord`` per non-empty partition, through the
    shard sink's temp/rename commit. Column-type mapping: string →
    BytesList (utf-8), binary → BytesList, integral → Int64List,
    float/double → FloatList, array<of those> → the multi-valued list.
    Returns shard count."""
    from ._shards import write_shards

    cols = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]

    def _coerce(v, dtype: str):
        # Arrow→pandas surfaces nullable-int/float nulls as NaN floats
        # (and timestamps as NaT) rather than None: treat all of them as
        # the documented absent-feature null (mirrors sources/avro.py
        # _to_py's `v is None or v != v`). The scalar-float check keeps
        # list/ndarray cells (array<...> columns) off the NaN branch.
        if v is None or (isinstance(v, float) and v != v):
            return []
        base = dtype[6:-1] if dtype.startswith("array<") else dtype
        vals = list(v) if dtype.startswith("array<") else [v]
        if base in ("int", "bigint", "smallint", "tinyint"):
            return [int(x) for x in vals]
        if base in ("float", "double"):
            return [float(x) for x in vals]
        if base == "string":
            return [str(x) for x in vals]
        if base == "binary":
            return [bytes(x) for x in vals]
        raise ValueError(f"unsupported TFRecord column type: {dtype}")

    def encode(records) -> bytes:
        return b"".join(
            frame_record(encode_example({n: _coerce(rec[n], dt) for n, dt in cols}))
            for rec in records
        )

    return write_shards(df, path, ".tfrecord", encode)


def write_stream_tfrecord(stream_df, path: str, checkpoint: str):
    """TFRecordIO.Write for unbounded input — streaming twin of
    `write_tfrecord`, completing the trainer-egress loop whose read side
    is streaming/core.read_stream_tfrecord: each micro-batch commits its
    shards under ``<path>/batch=<id>/`` guarded by a _SUCCESS marker,
    through the shared streaming sink (sources/_shards.py).

    Returns a DataStreamWriter; caller picks the trigger/start.
    """
    from ._shards import write_stream_shards

    return write_stream_shards(stream_df, path, checkpoint, write_tfrecord)


def decode_shard(path: str, raw: bytes):
    """One TFRecord file → its records as a frame in ``TFRECORD_SCHEMA``
    (``None`` for an empty file); the shard reader's per-row decode."""
    import pandas as pd

    recs = list(iter_records(bytes(raw)))
    if not recs:
        return None
    return pd.DataFrame(
        {
            "shard": [os.path.basename(path)] * len(recs),
            "record_index": range(len(recs)),
            "example": recs,
        }
    )


def example_parser(feature_spec: dict):
    """The one per-blob Example parser behind `parse_examples` and
    ``read_tfrecord(..., feature_spec)``: returns ``(schema, parse)``,
    where ``parse(blobs)`` turns an iterable of tf.train.Example payloads
    into a pandas frame with one typed column per feature and ``schema``
    is that frame's Spark DDL. ``feature_spec`` maps feature name → Spark
    type string (``bigint``/``double``/``string``/``binary`` for
    single-valued; ``array<bigint>``/``array<float>``/... for
    multi-valued). Single-valued specs take the list head (null when the
    feature is absent/empty)."""
    names = list(feature_spec)
    schema = ", ".join(
        f"`{n}` {'double' if t == 'float' else t}" for n, t in feature_spec.items()
    )

    def cell(spec: str, vals: list):
        if spec.startswith("array<"):
            return vals
        if spec == "string":
            return vals[0].decode("utf-8") if vals else None
        return vals[0] if vals else None

    def parse(blobs):
        import pandas as pd

        cols: dict[str, list] = {n: [] for n in names}
        for blob in blobs:
            ex = decode_example(bytes(blob))
            for n in names:
                cols[n].append(cell(feature_spec[n], ex.get(n, [])))
        return pd.DataFrame(cols)

    return schema, parse


def read_tfrecord(spark, path: str, feature_spec: dict | None = None):
    """Distributed TFRecord read: one task per shard via the shard
    reader, one Arrow-batched pass walking the framing (CRC-verified).
    Returns ``(shard string, record_index long, example binary)``, or,
    given ``feature_spec`` (see `example_parser`), the parsed feature
    columns straight from the same pass: the result equals
    ``parse_examples(read_tfrecord(spark, path), feature_spec)`` without
    a second Python evaluator in the stage, so each read task holds one
    Python worker and every record crosses the Arrow boundary once."""
    from ._shards import decode_rows, shard_files

    files = shard_files(spark, path, "tfrecord", "path", "content")
    if feature_spec is None:
        return decode_rows(files, decode_shard, TFRECORD_SCHEMA)
    schema, parse = example_parser(feature_spec)

    def decode(_shard_path: str, raw: bytes):
        recs = list(iter_records(bytes(raw)))
        return parse(recs) if recs else None

    return decode_rows(files, decode, schema)


def parse_examples(df, feature_spec: dict, example_col: str = "example"):
    """`tf.io.parse_example` analog: decode the Example payload column
    ``example_col`` of any relation into typed Spark columns (see
    `example_parser` for ``feature_spec``). To parse what
    `read_tfrecord` reads, pass it the spec instead: that parses in the
    read's own pass."""
    schema, parse = example_parser(feature_spec)

    def run(batches: Iterator) -> Iterator:
        for pdf in batches:
            yield parse(pdf[example_col])

    return df.mapInPandas(run, schema=schema)
