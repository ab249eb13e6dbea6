"""Chaos/property tests for the FileBasedSink temp/rename commit protocol
(VERDICT r8 #8): the historical sdk/io/FileBasedSink.java contract is that
readers NEVER observe a torn or soon-to-be-replayed shard, under crashes
and duplicate attempts — not just on the happy path.

Hypothesis drives a simulated writer history over a streaming-sink root:
each micro-batch either committed cleanly, died before its _SUCCESS
marker, died mid-shard (torn bytes), or committed but left a speculative
duplicate in _temporary/ (a second attempt's leftovers). The invariants:

1. ``committed_shards`` selects EXACTLY the committed files — nothing
   from uncommitted batch dirs, nothing under a _temporary component,
   never an .inprogress file;
2. every selected shard parses COMPLETELY with the pure-Python codec
   (no torn shard survives discovery);
3. the recovered row multiset equals the union of committed batches —
   exactly-once at file granularity, duplicates from crashed attempts
   never surface.

Pure layout + codec tests: no SparkSession, so the whole property run is
sub-second per engine and hypothesis can afford real example counts.
"""

from __future__ import annotations

import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dataflowjavasdk_spark.sources._shards import (
    claim_stream_sink_root,
    committed_shards,
)
from dataflowjavasdk_spark.sources.avro import read_container, write_container
from dataflowjavasdk_spark.sources.tfrecord import frame_record, iter_records

AVRO_SCHEMA = {
    "type": "record",
    "name": "chaos",
    "fields": [{"name": "v", "type": "long"}],
}

# one writer fate per micro-batch
COMMITTED = "committed"
NO_MARKER = "crashed_before_marker"
TORN = "crashed_mid_shard"
DUP_ATTEMPT = "committed_with_stale_attempt"

fates = st.lists(
    st.sampled_from([COMMITTED, NO_MARKER, TORN, DUP_ATTEMPT]),
    min_size=1,
    max_size=6,
)


def _avro_blob(values: list[int]) -> bytes:
    return write_container([{"v": v} for v in values], AVRO_SCHEMA)


def _tf_blob(values: list[int]) -> bytes:
    return b"".join(frame_record(v.to_bytes(8, "little")) for v in values)


def _build_root(tmpdir: str, fate_list: list[str], codec: str) -> tuple[str, list[int]]:
    """Materialize the writer history; return (root, expected values)."""
    root = os.path.join(tmpdir, codec)
    claim_stream_sink_root(root)
    blob_of = _avro_blob if codec == "avro" else _tf_blob
    ext = "avro" if codec == "avro" else "tfrecord"
    expected: list[int] = []
    for bid, fate in enumerate(fate_list):
        dest = os.path.join(root, f"batch={bid}")
        os.makedirs(dest, exist_ok=True)
        values = [bid * 100 + i for i in range(3)]
        blob = blob_of(values)
        if fate == COMMITTED:
            with open(os.path.join(dest, f"part-00000.{ext}"), "wb") as fh:
                fh.write(blob)
            with open(os.path.join(dest, "_SUCCESS"), "w"):
                pass
            expected += values
        elif fate == NO_MARKER:
            # all shards landed, marker write never happened — the batch
            # WILL be replayed; reading it now would double-count
            with open(os.path.join(dest, f"part-00000.{ext}"), "wb") as fh:
                fh.write(blob)
        elif fate == TORN:
            # died mid-write: a torn shard still in _temporary plus an
            # .inprogress file at the destination level
            tdir = os.path.join(dest, "_temporary")
            os.makedirs(tdir, exist_ok=True)
            with open(os.path.join(tdir, f"part-00000.{ext}"), "wb") as fh:
                fh.write(blob[: max(1, len(blob) // 2)])
            with open(
                os.path.join(dest, f"part-00000.{ext}.inprogress"), "wb"
            ) as fh:
                fh.write(blob[: max(1, len(blob) // 3)])
        elif fate == DUP_ATTEMPT:
            # committed, but a slower duplicate attempt left a same-named
            # speculative shard (different content!) in _temporary
            with open(os.path.join(dest, f"part-00000.{ext}"), "wb") as fh:
                fh.write(blob)
            with open(os.path.join(dest, "_SUCCESS"), "w"):
                pass
            tdir = os.path.join(dest, "_temporary")
            os.makedirs(tdir, exist_ok=True)
            with open(os.path.join(tdir, f"part-00000.{ext}"), "wb") as fh:
                fh.write(blob_of([999999]))
            expected += values
    return root, expected


@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(fate_list=fates)
def test_avro_reader_never_sees_torn_or_replayable_shards(tmp_path_factory, fate_list):
    tmpdir = str(tmp_path_factory.mktemp("chaos_avro"))
    root, expected = _build_root(tmpdir, fate_list, "avro")
    shards = committed_shards(root, "avro")
    # (1) selection: only committed batch dirs, never _temporary/.inprogress
    for p in shards:
        assert "_temporary" not in p and not p.endswith(".inprogress")
        batch_dir = os.path.dirname(p)
        assert os.path.exists(os.path.join(batch_dir, "_SUCCESS")), p
    # (2)+(3) every selected shard parses fully; multiset is exactly-once
    got: list[int] = []
    for p in shards:
        with open(p, "rb") as fh:
            _, records = read_container(fh.read())
        got += [r["v"] for r in records]
    assert sorted(got) == sorted(expected)


@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(fate_list=fates)
def test_tfrecord_reader_never_sees_torn_or_replayable_shards(tmp_path_factory, fate_list):
    tmpdir = str(tmp_path_factory.mktemp("chaos_tf"))
    root, expected = _build_root(tmpdir, fate_list, "tfrecord")
    shards = committed_shards(root, "tfrecord")
    got: list[int] = []
    for p in shards:
        assert "_temporary" not in p and not p.endswith(".inprogress")
        with open(p, "rb") as fh:
            for rec in iter_records(fh.read()):
                got.append(int.from_bytes(rec, "little"))
    assert sorted(got) == sorted(expected)


def test_torn_shard_would_fail_loudly_not_silently():
    """Belt and braces: IF discovery ever regressed and handed a torn
    shard to the codec, the masked-CRC framing (tfrecord) and container
    sync markers (avro) must raise, not yield partial rows silently."""
    import pytest

    tf = _tf_blob([1, 2, 3])
    with pytest.raises(Exception):
        list(iter_records(tf[: len(tf) - 5]))
    av = _avro_blob([1, 2, 3])
    with pytest.raises(Exception):
        read_container(av[: len(av) // 2])


def test_warc_reader_structurally_blind_to_temp_dir(tmp_path):
    """read_warc discovers files through committed_shards like its
    siblings — a crashed write's _temporary/ subdirectory is invisible.
    Pin the discovery result the reader relies on."""
    import gzip

    root = tmp_path / "warc_out"
    (root / "_temporary").mkdir(parents=True)
    (root / "part-00000.warc.gz").write_bytes(gzip.compress(b"WARC/1.0\r\n"))
    (root / "_temporary" / "part-00001.warc.gz").write_bytes(b"torn")
    seen = committed_shards(str(root), "warc.gz")
    assert [os.path.basename(p) for p in seen] == ["part-00000.warc.gz"]


def test_shard_protocol_lives_only_in_shards_module():
    """The commit and discovery protocol has one home: outside
    sources/_shards.py no module opens a binaryFile scan, joins a
    ``_temporary`` staging path or writes a ``_SUCCESS`` marker, so
    every container format shares the same sink and reader."""
    import re

    import dataflowjavasdk_spark

    patterns = {
        "binaryFile scan": re.compile(r'format\(\s*"binaryFile"\s*\)'),
        "_temporary join": re.compile(r'os\.path\.join\([^)]*"_temporary"'),
        "_SUCCESS marker": re.compile(r'os\.path\.join\([^)]*"_SUCCESS"'),
    }
    pkg = os.path.dirname(dataflowjavasdk_spark.__file__)
    home = os.path.join(pkg, "sources", "_shards.py")
    sites: dict[str, list[str]] = {name: [] for name in patterns}
    for dirpath, _, files in os.walk(pkg):
        for f in files:
            p = os.path.join(dirpath, f)
            if not f.endswith(".py") or p == home:
                continue
            with open(p, encoding="utf-8") as fh:
                for lineno, line in enumerate(fh, 1):
                    for name, pat in patterns.items():
                        if pat.search(line):
                            sites[name].append(f"{os.path.relpath(p, pkg)}:{lineno}")
    assert sites == {name: [] for name in patterns}
    with open(home, encoding="utf-8") as fh:
        text = fh.read()
    assert all(pat.search(text) for pat in patterns.values())
