"""How a container file is committed and discovered — the reference's
FileBasedSink / FileBasedSource split (historical sdk/io/FileBasedSink.java,
FileBasedSource.java). Avro, TFRecord and WARC supply only their codec.

- :func:`write_shards` (batch sink): each non-empty partition encodes one
  shard into ``<dest>/_temporary/`` under an attempt-unique
  ``.inprogress`` name; the driver commits the manifest by atomic rename
  and drops the temp dir with whatever failed attempts left in it.
- :func:`write_stream_shards` (streaming sink): each micro-batch commits
  into ``<dest>/batch=<id>/`` and a ``_SUCCESS`` marker written last is
  the commit point — the idempotent-sink half of Structured Streaming's
  exactly-once design.
- :func:`committed_shards` is the single discovery path. It excludes the
  two kinds of crash leftover a recursive ``**/*.<ext>`` glob would see:
  shards under ``_temporary/`` (a write failed after some tasks renamed
  their temps) and shards in a ``batch=<id>/`` dir without ``_SUCCESS``
  (the micro-batch died and will be replayed).
- :func:`shard_files` / :func:`stream_files` load committed files /
  drop-dir arrivals through ``binaryFile``, one row per whole file, and
  :func:`decode_rows` runs a per-row ``decode(*cols) -> frame | None``
  over them in one ``mapInPandas`` pass.
"""

from __future__ import annotations

import glob as _glob
import os
import shutil


def committed_shards(path: str, ext: str) -> list[str]:
    """Return the sorted committed shard files for ``path``.

    ``path`` may be a directory (searched recursively for ``*.<ext>``)
    or a glob pattern (expanded as-is). Paths containing a
    ``_temporary`` component are excluded; shards under a
    ``batch=<id>`` directory are included only when that directory (or
    an ancestor ``batch=`` directory) holds a ``_SUCCESS`` marker.

    Hive-partition disambiguation: a dataset written with
    ``partitionBy("batch")`` also produces ``batch=<v>/`` directories,
    but with a single ROOT-level ``_SUCCESS`` (Spark's
    FileOutputCommitter) and none per partition. The streaming sinks
    therefore CLAIM their destination with a ``_STREAM_SINK`` sentinel
    (written via :func:`claim_stream_sink_root` before any batch
    content — crash-ordering-safe): a ``batch=`` level under a claimed
    parent always requires its own marker, regardless of any root
    ``_SUCCESS`` a bootstrap batch write may have left; a ``batch=``
    level under an UNclaimed parent carrying root ``_SUCCESS`` is a
    committed Hive partition and is included.
    """
    raw = (
        _glob.glob(os.path.join(os.path.abspath(path), "**", f"*.{ext}"), recursive=True)
        if os.path.isdir(path)
        else [os.path.abspath(p) for p in _glob.glob(path)]
    )
    out = []
    for p in raw:
        parts = os.path.normpath(p).split(os.sep)
        if "_temporary" in parts[:-1]:
            continue
        committed = True
        # Walk ancestor directories; every batch=<id> level must carry
        # its _SUCCESS marker (markers are written once, after the
        # micro-batch's shards are fully in place) — unless its parent
        # is an unclaimed Hive-partitioned batch write (root _SUCCESS,
        # no _STREAM_SINK sentinel).
        for i, comp in enumerate(parts[:-1]):
            if comp.startswith("batch="):
                marker = os.sep.join(parts[: i + 1] + ["_SUCCESS"])
                if os.path.exists(marker):
                    continue
                parent = os.sep.join(parts[:i]) or os.sep
                hive_exempt = os.path.exists(
                    os.path.join(parent, "_SUCCESS")
                ) and not os.path.exists(os.path.join(parent, "_STREAM_SINK"))
                if not hive_exempt:
                    committed = False
                    break
        if committed:
            out.append(p)
    return sorted(out)


def claim_stream_sink_root(path: str) -> None:
    """Mark ``path`` as a streaming-sink destination (idempotent).

    Called by the streaming sink BEFORE any micro-batch content is
    written, so even a first-batch crash leaves the claim in place and
    ``committed_shards`` stays strict about per-batch markers —
    including destinations bootstrapped by a native batch write whose
    root ``_SUCCESS`` would otherwise look like a Hive layout.
    """
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "_STREAM_SINK"), "a"):
        pass


def write_shards(df, path: str, suffix: str, encode) -> int:
    """Batch sink: each non-empty partition of ``df`` passes its rows (an
    iterator of column → value dicts) to ``encode(records) -> bytes`` and
    commits the result as shard ``part-{pid:05d}<suffix>`` of ``path``.
    Returns the number of shards committed."""
    import pandas as pd
    from pyspark import TaskContext

    tmp = os.path.join(path, "_temporary")
    os.makedirs(tmp, exist_ok=True)

    def write_task(batches):
        n = 0

        def records():
            nonlocal n
            for pdf in batches:
                for rec in pdf.to_dict("records"):
                    n += 1
                    yield rec

        blob = encode(records())
        if not n:
            return
        ctx = TaskContext.get()
        shard = os.path.join(tmp, f"part-{ctx.partitionId():05d}{suffix}")
        # attempt-unique temp name: a retried/speculative attempt must not
        # write the same .inprogress path as the original attempt (risk of
        # interleaved bytes); the atomic rename to the pid-based name lets
        # the last successful attempt win.
        inprogress = f"{shard}.{ctx.taskAttemptId()}.inprogress"
        with open(inprogress, "wb") as fh:
            fh.write(blob)
        os.rename(inprogress, shard)
        yield pd.DataFrame({"shard": [shard]})

    manifest = df.mapInPandas(write_task, schema="shard string").collect()
    for row in manifest:
        os.replace(row["shard"], os.path.join(path, os.path.basename(row["shard"])))
    # finalize: orphaned .inprogress files and shards of failed or
    # speculative attempts die with the temp dir
    shutil.rmtree(tmp, ignore_errors=True)
    return len(manifest)


def write_stream_shards(stream_df, path: str, checkpoint: str, write):
    """Streaming sink: ``write(batch_df, dest)`` commits each micro-batch
    into ``<path>/batch=<id>/``, then the ``_SUCCESS`` marker. A replay
    that finds the marker skips the batch; one that finds an unmarked dir
    clears it first, or a replay producing fewer partitions would leave
    the dead attempt's higher-numbered shards beside the new ones.
    Returns a DataStreamWriter; the caller picks the trigger and starts it.
    """

    def write_batch(batch_df, batch_id: int) -> None:
        claim_stream_sink_root(path)  # BEFORE content — crash-order-safe
        dest = os.path.join(path, f"batch={batch_id}")
        marker = os.path.join(dest, "_SUCCESS")
        if os.path.exists(marker):
            return  # replay after restart — already committed
        if os.path.isdir(dest):
            shutil.rmtree(dest)  # uncommitted attempt — clear and rewrite
        os.makedirs(dest)
        write(batch_df, dest)
        with open(marker, "w"):
            pass

    return stream_df.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint
    )


def shard_files(spark, path: str, ext: str, *cols):
    """The committed ``*.<ext>`` shards under ``path`` (dir or glob) as a
    ``binaryFile`` relation projected to ``cols``, one row per file."""
    paths = committed_shards(path, ext)
    if not paths:
        raise FileNotFoundError(f"no {ext} files at {path}")
    return (
        spark.read.format("binaryFile")
        .load(paths if len(paths) > 1 else paths[0])
        .select(*cols)
    )


def stream_files(spark, path: str, glob: str, max_files_per_trigger, *cols):
    """Unbounded twin of :func:`shard_files`: files matching ``glob``
    dropped into ``path`` become micro-batches, at most
    ``max_files_per_trigger`` files each (``None``: no limit)."""
    # binaryFile's schema is fixed but streaming sources still demand it
    # be declared up front.
    reader = (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp, length long, content binary")
        .option("pathGlobFilter", glob)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path).select(*cols)


def decode_rows(df, decode, schema):
    """Per-row decode runner: ``decode(*row)`` over every row of ``df``
    (its columns in order) returns a pandas frame in ``schema`` or
    ``None`` for a row that yields nothing."""
    cols = df.columns

    def run(batches):
        for pdf in batches:
            for row in zip(*(pdf[c] for c in cols)):
                out = decode(*row)
                if out is not None:
                    yield out

    return df.mapInPandas(run, schema=schema)
