"""AvroIO — Avro Object Container File read/write without spark-avro.

Reference surface: AvroIO.Read/Write over Avro container files (historical
sdk/io/AvroIO.java, AvroSource.java). This container ships neither the
spark-avro datasource jar nor a Python avro package, so this module
implements the public Avro 1.x specification directly (container format:
magic ``Obj\\x01``, metadata map carrying the writer schema JSON + codec,
16-byte sync marker, sync-delimited data blocks; binary encoding: zig-zag
varint ints/longs, little-endian IEEE floats, length-prefixed bytes/strings,
union-index prefixes, count-delimited array blocks).

Spark integration is Spark-first:

- **Read**: the shard reader (sources/_shards.py) discovers the
  committed files and loads them through the ``binaryFile`` datasource
  (one task per file — the reference's splitIntoBundles initial split;
  ``read_avro_split`` cuts block-level ranges instead, while dynamic
  splitting is the same accepted gap as splitAtFraction, SURVEY.md
  §4.1); its per-row runner decodes each container in Arrow-batched
  ``mapInPandas``. The Spark schema is derived driver-side from the
  first file's header only (no data read on the driver).
- **Write**: the shard sink (sources/_shards.py) owns FileBasedSink's
  temp/rename finalize (historical sdk/io/FileBasedSink.java); this
  module supplies only the per-partition codec — row conversion plus
  ``write_container`` — and the empty-input container commit.

Type mapping (both directions):
  boolean↔boolean, int↔int, long↔long, float↔float, double↔double,
  string↔string, bytes↔binary, record↔struct, array↔array,
  ["null", T] union↔nullable T. Logical types: long+timestamp-micros↔
  timestamp (local- variant ↔ TIMESTAMP_NTZ), int+date↔date,
  bytes+decimal(precision,scale)↔decimal (two's-complement big-endian
  unscaled int per the spec).
Codecs: null and deflate (zlib — both required/standard per the spec).
"""

from __future__ import annotations

import io
import json
import os
import struct
import uuid
import zlib
from typing import Any

MAGIC = b"Obj\x01"
SYNC_SIZE = 16


# --- Avro binary primitives ------------------------------------------------

def _zigzag_encode(n: int) -> bytes:
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag_decode(buf: io.BytesIO) -> int:
    shift = 0
    acc = 0
    while True:
        byte = buf.read(1)
        if not byte:
            raise EOFError("truncated varint")
        b = byte[0]
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)


def _write_bytes(v: bytes) -> bytes:
    return _zigzag_encode(len(v)) + v


def _read_bytes(buf: io.BytesIO) -> bytes:
    n = _zigzag_decode(buf)
    return buf.read(n)


# --- Schema-driven encode/decode ------------------------------------------

def _encode_value(schema: Any, v: Any) -> bytes:
    if isinstance(schema, list):  # union — only ["null", T] supported
        null_idx = schema.index("null")
        if v is None:
            return _zigzag_encode(null_idx)
        other_idx = 1 - null_idx
        return _zigzag_encode(other_idx) + _encode_value(schema[other_idx], v)
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            out = b""
            for f in schema["fields"]:
                out += _encode_value(f["type"], v[f["name"]] if v is not None else None)
            return out
        if t == "array":
            if not v:
                return _zigzag_encode(0)
            items = b"".join(_encode_value(schema["items"], x) for x in v)
            return _zigzag_encode(len(v)) + items + _zigzag_encode(0)
        if t == "long" and schema.get("logicalType") in (
            "timestamp-micros", "timestamp-millis", "local-timestamp-micros"
        ):
            return _zigzag_encode(int(v))
        return _encode_value(t, v)  # e.g. {"type": "string"}
    if schema == "null":
        return b""
    if schema == "boolean":
        return b"\x01" if v else b"\x00"
    if schema in ("int", "long"):
        return _zigzag_encode(int(v))
    if schema == "float":
        return struct.pack("<f", float(v))
    if schema == "double":
        return struct.pack("<d", float(v))
    if schema == "bytes":
        return _write_bytes(bytes(v))
    if schema == "string":
        return _write_bytes(str(v).encode("utf-8"))
    raise ValueError(f"unsupported avro schema: {schema!r}")


def _decode_value(schema: Any, buf: io.BytesIO) -> Any:
    if isinstance(schema, list):
        idx = _zigzag_decode(buf)
        return _decode_value(schema[idx], buf)
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            return {f["name"]: _decode_value(f["type"], buf) for f in schema["fields"]}
        if t == "array":
            out = []
            while True:
                n = _zigzag_decode(buf)
                if n == 0:
                    return out
                if n < 0:  # block with byte-size prefix (spec-permitted)
                    n = -n
                    _zigzag_decode(buf)
                for _ in range(n):
                    out.append(_decode_value(schema["items"], buf))
        return _decode_value(t, buf)
    if schema == "null":
        return None
    if schema == "boolean":
        return buf.read(1) == b"\x01"
    if schema in ("int", "long"):
        return _zigzag_decode(buf)
    if schema == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if schema == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if schema == "bytes":
        return _read_bytes(buf)
    if schema == "string":
        return _read_bytes(buf).decode("utf-8")
    raise ValueError(f"unsupported avro schema: {schema!r}")


# --- Container file --------------------------------------------------------

def write_container(
    records, schema: dict, codec: str = "null", block_rows: int = 1000
) -> bytes:
    """Encode records into one Avro Object Container File (bytes).

    Rows are chunked into sync-delimited blocks of `block_rows` — the
    spec's unit of splittability: a reader can seek anywhere, scan to the
    next sync marker, and decode from there, which read_avro's
    block-level splits exploit."""
    if codec not in ("null", "deflate"):
        raise ValueError("codec must be 'null' or 'deflate'")
    sync = uuid.uuid4().bytes
    meta = {"avro.schema": json.dumps(schema).encode(), "avro.codec": codec.encode()}
    out = io.BytesIO()
    out.write(MAGIC)
    out.write(_zigzag_encode(len(meta)))
    for k, v in meta.items():
        out.write(_write_bytes(k.encode()))
        out.write(_write_bytes(v))
    out.write(_zigzag_encode(0))
    out.write(sync)
    for i in range(0, len(records), block_rows):
        chunk = records[i:i + block_rows]
        block = b"".join(_encode_value(schema, r) for r in chunk)
        if codec == "deflate":
            block = zlib.compress(block)[2:-4]  # raw deflate per the spec
        out.write(_zigzag_encode(len(chunk)))
        out.write(_zigzag_encode(len(block)))
        out.write(block)
        out.write(sync)
    return out.getvalue()


def read_header(raw: bytes) -> tuple[dict, str, bytes, int]:
    """Parse an OCF header → (schema, codec, sync_marker, data_offset)."""
    buf = io.BytesIO(raw)
    if buf.read(4) != MAGIC:
        raise ValueError("not an Avro object container file")
    meta: dict[str, bytes] = {}
    while True:
        n = _zigzag_decode(buf)
        if n == 0:
            break
        if n < 0:
            n = -n
            _zigzag_decode(buf)
        for _ in range(n):
            k = _read_bytes(buf).decode()
            meta[k] = _read_bytes(buf)
    sync = buf.read(SYNC_SIZE)
    schema = json.loads(meta["avro.schema"].decode())
    codec = meta.get("avro.codec", b"null").decode()
    return schema, codec, sync, buf.tell()


def _decode_blocks(fh, end: int, schema: Any, codec: str, sync: bytes) -> list:
    """Decode every sync-delimited block that starts at or after ``fh``'s
    position and before offset ``end``."""
    records: list = []
    while fh.tell() < end:
        n = _zigzag_decode(fh)
        block = fh.read(_zigzag_decode(fh))
        if codec == "deflate":
            block = zlib.decompress(block, wbits=-15)
        bbuf = io.BytesIO(block)
        for _ in range(n):
            records.append(_decode_value(schema, bbuf))
        if fh.read(SYNC_SIZE) != sync:
            raise ValueError(f"sync marker mismatch at byte {fh.tell()} (corrupt block)")
    return records


def read_container(raw: bytes) -> tuple[dict, list[dict]]:
    """Decode one OCF → (schema, records)."""
    schema, codec, sync, offset = read_header(raw)
    buf = io.BytesIO(raw)
    buf.seek(offset)
    return schema, _decode_blocks(buf, len(raw), schema, codec, sync)


# --- Spark type mapping ----------------------------------------------------

def spark_schema_of(avro_schema: dict):
    from pyspark.sql import types as T

    def field_type(s):
        nullable = False
        if isinstance(s, list):
            nullable = True
            s = next(x for x in s if x != "null")
        if isinstance(s, dict):
            t = s["type"]
            if t == "record":
                return T.StructType(
                    [
                        T.StructField(f["name"], *field_type(f["type"]))
                        for f in s["fields"]
                    ]
                ), nullable
            if t == "array":
                inner, _ = field_type(s["items"])
                return T.ArrayType(inner), nullable
            if t == "long" and s.get("logicalType") in (
                "timestamp-micros", "local-timestamp-micros"
            ):
                return (
                    T.TimestampNTZType()
                    if s.get("logicalType") == "local-timestamp-micros"
                    else T.TimestampType()
                ), nullable
            if t == "int" and s.get("logicalType") == "date":
                return T.DateType(), nullable
            if t == "bytes" and s.get("logicalType") == "decimal":
                return (
                    T.DecimalType(s.get("precision", 38), s.get("scale", 0)),
                    nullable,
                )
            return field_type(t)[0], nullable
        prim = {
            "boolean": T.BooleanType(), "int": T.IntegerType(),
            "long": T.LongType(), "float": T.FloatType(),
            "double": T.DoubleType(), "bytes": T.BinaryType(),
            "string": T.StringType(),
        }
        return prim[s], nullable

    assert avro_schema["type"] == "record"
    fields = []
    for f in avro_schema["fields"]:
        dtype, nullable = field_type(f["type"])
        fields.append(T.StructField(f["name"], dtype, nullable))
    return T.StructType(fields)


def avro_schema_of(spark_schema, name: str = "topLevelRecord") -> dict:
    from pyspark.sql import types as T

    # Nested record names must be deterministic (PYTHONHASHSEED-independent,
    # so the same logical schema writes byte-identical headers across driver
    # runs) and unique within one schema (Avro spec: named types are unique;
    # two distinct nested structs colliding on a name breaks external
    # readers). A counter threaded through traversal gives both.
    counter = {"n": 0}

    def field_schema(dtype, nullable):
        if isinstance(dtype, T.StructType):
            counter["n"] += 1
            s = {
                "type": "record",
                "name": f"nested_{counter['n']}",
                "fields": [
                    {"name": f.name, "type": field_schema(f.dataType, f.nullable)}
                    for f in dtype.fields
                ],
            }
        elif isinstance(dtype, T.ArrayType):
            s = {"type": "array",
                 "items": field_schema(dtype.elementType, dtype.containsNull)}
        elif isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
            lt = (
                "timestamp-micros"
                if isinstance(dtype, T.TimestampType)
                else "local-timestamp-micros"
            )
            s = {"type": "long", "logicalType": lt}
        elif isinstance(dtype, T.DateType):
            s = {"type": "int", "logicalType": "date"}
        elif isinstance(dtype, T.DecimalType):
            # Spec: bytes carrying the two's-complement big-endian unscaled
            # integer; precision/scale live in the schema, not the data.
            s = {
                "type": "bytes",
                "logicalType": "decimal",
                "precision": dtype.precision,
                "scale": dtype.scale,
            }
        else:
            prim = {
                T.BooleanType(): "boolean", T.IntegerType(): "int",
                T.ShortType(): "int", T.ByteType(): "int",
                T.LongType(): "long", T.FloatType(): "float",
                T.DoubleType(): "double", T.BinaryType(): "bytes",
                T.StringType(): "string",
            }
            if dtype not in prim:
                raise ValueError(f"unsupported Spark type for Avro: {dtype}")
            s = prim[dtype]
        return ["null", s] if nullable else s

    return {
        "type": "record",
        "name": name,
        "fields": [
            {"name": f.name, "type": field_schema(f.dataType, f.nullable)}
            for f in spark_schema.fields
        ],
    }


# --- Spark read/write ------------------------------------------------------

def _to_py(v, dtype):
    """Row cell → avro-encodable python value (timestamps → micros).

    Handles pandas missing-value sentinels (NaN/NaT) as null, and uses
    exact integer arithmetic for timestamp→micros (pd.Timestamp.value is
    integer ns; datetime subtraction yields an exact timedelta — never
    float seconds, which lose sub-µs precision at current epochs).
    """
    import datetime
    import decimal

    from pyspark.sql import types as T

    if isinstance(dtype, T.ArrayType):
        if v is None:
            return None
        return [_to_py(x, dtype.elementType) for x in v]
    if isinstance(dtype, T.StructType):
        if v is None:
            return None
        return {f.name: _to_py(v[f.name], f.dataType) for f in dtype.fields}
    if v is None or v != v:  # None / NaN / NaT
        return None
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        value_ns = getattr(v, "value", None)  # pd.Timestamp: exact int ns
        if value_ns is not None:
            return value_ns // 1000
        epoch = datetime.datetime(1970, 1, 1, tzinfo=v.tzinfo)
        td = v - epoch
        return (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds
    if isinstance(dtype, T.DateType):
        if isinstance(v, datetime.datetime):
            v = v.date()
        return (v - datetime.date(1970, 1, 1)).days
    if isinstance(dtype, T.DecimalType):
        # Two's-complement big-endian unscaled integer (Avro decimal spec).
        # scaleb must run under a context wide enough for precision-38
        # values — the default context (prec=28) silently ROUNDS wider
        # decimals, corrupting the low digits. prec=50 covers 38 digits
        # plus scale shift headroom; the integer conversion is then exact.
        with decimal.localcontext() as ctx:
            ctx.prec = 50
            unscaled = int(decimal.Decimal(v).scaleb(dtype.scale))
        n_bytes = max(1, (unscaled.bit_length() + 8) // 8)  # +1 sign bit
        return unscaled.to_bytes(n_bytes, "big", signed=True)
    if isinstance(dtype, T.BinaryType):
        return bytes(v)
    return v


def _from_py(v, dtype):
    """Decoded avro value → Spark-ingestible python value."""
    import datetime
    import decimal

    from pyspark.sql import types as T

    if v is None:
        return None
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=v)
    if isinstance(dtype, T.DateType):
        return datetime.date(1970, 1, 1) + datetime.timedelta(days=v)
    if isinstance(dtype, T.DecimalType):
        unscaled = int.from_bytes(v, "big", signed=True)
        with decimal.localcontext() as ctx:
            ctx.prec = 50  # see _to_py: default prec=28 rounds wide decimals
            return decimal.Decimal(unscaled).scaleb(-dtype.scale)
    if isinstance(dtype, T.ArrayType):
        return [_from_py(x, dtype.elementType) for x in v]
    if isinstance(dtype, T.StructType):
        return {f.name: _from_py(v.get(f.name), f.dataType) for f in dtype.fields}
    if isinstance(dtype, T.FloatType):
        return float(v)
    return v


def records_to_pdf(records, sschema):
    """Shape decoded Avro records into ONE pandas DataFrame matching the
    Spark schema (missing fields -> None via _from_py; column order =
    schema order). Shared by every decode path — batch read_avro, the
    sync-marker split reader, and the streaming source — so row-shaping
    semantics can never diverge between them. Returns None for an empty
    record set (mapInPandas callers skip empty frames)."""
    import pandas as pd

    rows = [
        {f.name: _from_py(r.get(f.name), f.dataType) for f in sschema.fields}
        for r in records
    ]
    if not rows:
        return None
    return pd.DataFrame(rows, columns=[f.name for f in sschema.fields])


def spark_schema_at(path: str):
    """Spark schema of the Avro container file at ``path``, from its
    header only (the driver reads no data blocks)."""
    with open(path, "rb") as fh:
        head = fh.read(1 << 20)
    avro_schema, _, _, _ = read_header(head)
    return spark_schema_of(avro_schema)


def read_avro(spark, path: str):
    """AvroIO.Read: distributed decode of .avro container files under
    `path` (dir or glob). One task per file via the shard reader; the
    schema comes from the first file's header (driver reads the header
    bytes only)."""
    from ._shards import committed_shards, decode_rows, shard_files

    files = shard_files(spark, path, "avro", "content")  # raises if none
    sschema = spark_schema_at(committed_shards(path, "avro")[0])
    return decode_rows(
        files,
        lambda raw: records_to_pdf(read_container(bytes(raw))[1], sschema),
        sschema,
    )


def write_avro(df, path: str, codec: str = "null") -> int:
    """AvroIO.Write through the shard sink (FileBasedSink's temp/rename
    commit): every non-empty partition encodes one ``part-{pid:05d}.avro``
    container. Returns the number of shards written (at least 1)."""
    from ._shards import write_shards

    sschema = df.schema
    avro_schema = avro_schema_of(sschema)

    def encode(records) -> bytes:
        rows = [
            {f.name: _to_py(rec[f.name], f.dataType) for f in sschema.fields}
            for rec in records
        ]
        return write_container(rows, avro_schema, codec=codec)

    n = write_shards(df, path, ".avro", encode)
    if not n:
        # Empty input still commits a schema-bearing empty container, so
        # the output is always readable (the reference's Write produces at
        # least one shard for the same reason).
        with open(os.path.join(path, "part-00000.avro"), "wb") as fh:
            fh.write(write_container([], avro_schema, codec=codec))
    return max(n, 1)


def write_stream_avro(stream_df, path: str, checkpoint: str, codec: str = "null"):
    """AvroIO.Write for unbounded input (historical sdk/io/AvroIO.java
    write + FileBasedSink's streaming finalize): each micro-batch commits
    its shards under ``<path>/batch=<id>/`` guarded by a _SUCCESS marker,
    through the shared streaming sink (sources/_shards.py).

    Returns a DataStreamWriter; caller picks the trigger/start.
    """
    from ._shards import write_stream_shards

    return write_stream_shards(
        stream_df, path, checkpoint, lambda df, dest: write_avro(df, dest, codec=codec)
    )


def decode_range(
    path: str, lo: int, hi: int, schema: Any, codec: str, sync: bytes,
    data_offset: int,
) -> list[dict]:
    """Decode the blocks of one split [lo, hi): the Hadoop split protocol
    for sync-delimited formats — a split owns every block whose start
    boundary lies in [lo, hi); the first boundary at/after `lo` is found
    by scanning for the 16-byte sync marker (a block may extend past `hi`
    and is still fully read by its owner)."""
    with open(path, "rb") as fh:
        if lo <= data_offset:
            boundary = data_offset
        else:
            # scan for the first sync ending at/after lo: the marker may
            # straddle the split edge, so start 16 bytes early.
            fh.seek(max(lo - SYNC_SIZE, 0))
            window = fh.read((hi - lo) + 2 * SYNC_SIZE)
            idx = window.find(sync)
            if idx == -1:
                return []  # no block starts in this split
            boundary = max(lo - SYNC_SIZE, 0) + idx + SYNC_SIZE
            if boundary < lo or boundary >= hi:
                return []
        fh.seek(boundary)
        return _decode_blocks(fh, hi, schema, codec, sync)


def read_avro_split(spark, path: str, split_bytes: int = 128 << 20):
    """AvroIO.Read with BLOCK-LEVEL initial splitting (the reference's
    BoundedSource.splitIntoBundles at sub-file granularity): the driver
    reads only each file's header, cuts byte ranges of `split_bytes`, and
    each task scans from its range start to the next sync marker and
    decodes the blocks it owns — so a single huge .avro file fans out
    across the cluster instead of becoming one straggler task. Dynamic
    re-splitting (splitAtFraction) remains the documented gap; AQE
    balances at stage boundaries."""
    from ._shards import committed_shards, decode_rows

    paths = committed_shards(path, "avro")
    if not paths:
        raise FileNotFoundError(f"no avro files at {path}")

    ranges = []
    first_schema = None
    for p in paths:
        with open(p, "rb") as fh:
            head = fh.read(1 << 20)
        schema, codec, sync, data_offset = read_header(head)
        if first_schema is None:
            first_schema = schema
        size = os.path.getsize(p)
        lo = data_offset
        while lo < size:
            hi = min(lo + split_bytes, size)
            ranges.append(
                (p, lo, hi, json.dumps(schema), codec, sync, data_offset)
            )
            lo = hi
    sschema = spark_schema_of(first_schema)

    range_df = spark.createDataFrame(
        ranges,
        "path string, lo long, hi long, schema string, codec string, "
        "sync binary, data_offset long",
    ).repartition(max(len(ranges), 1))

    def decode(p, lo, hi, schema, codec, sync, data_offset):
        recs = decode_range(
            p, int(lo), int(hi), json.loads(schema), codec, bytes(sync),
            int(data_offset),
        )
        return records_to_pdf(recs, sschema)

    return decode_rows(range_df, decode, sschema)
