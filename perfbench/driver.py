"""One benchmark driver process: start the engine's session, run one
workload, write what was measured to a JSON file and stop.

run.py starts this as a fresh process per run, so `setup_s` covers the
interpreter start, the JVM launch, the session and one trivial action.
Usage: python3 driver.py <spec.json>  (written by run.py)
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import time
import traceback
import types

mono = time.monotonic
HEAP = "2g"  # driver JVM heap, initial and max


class Tracer:
    """Spans (name, start, end, parent) kept in memory. When tracing, each
    span also sets the Spark job group "<workload>/<query>/<phase>" so the
    event log attributes its tasks; untraced, it only reads the clock."""

    def __init__(self, sc, workload: str, on: bool):
        self.sc, self.workload, self.on = sc, workload, on
        self.spans: list[dict] = []
        self.parent: str | None = None

    @contextlib.contextmanager
    def span(self, query: str, phase: str):
        """Yields a namespace whose `s` is the span's duration on exit."""
        if self.on:
            self.sc.setJobGroup(f"{self.workload}/{query}/{phase}", phase)
        out = types.SimpleNamespace(s=None)
        t0 = mono()
        try:
            yield out
        finally:
            out.s = mono() - t0
            self.spans.append({"name": f"{query}/{phase}", "start": t0,
                               "end": t0 + out.s, "parent": self.parent})


def _rdd_storage(sc) -> list[dict]:
    """Block-manager RDD storage: what the pins hold right now."""
    out = []
    for info in sc._jsc.sc().getRDDStorageInfo():
        if info.numCachedPartitions() > 0:
            out.append({"id": info.id(), "mem": info.memSize(), "disk": info.diskSize()})
    return out


def _scratch_in_run_dir() -> None:
    """The engine roots the scratch dirs of writing queries under /tmp.
    Point every loaded binding of `session.scratch_dir` at TMPDIR, which
    run.py sets to the run's own tmp dir, so a run writes only inside the
    checkout; run.py removes the run dir afterwards."""
    import tempfile

    from dataflowjavasdk_spark import session

    original = session.scratch_dir

    def scratch_dir(prefix: str) -> str:
        return tempfile.mkdtemp(prefix=prefix)

    for name, mod in list(sys.modules.items()):
        if name.startswith("dataflowjavasdk_spark") and getattr(mod, "scratch_dir", None) is original:
            mod.scratch_dir = scratch_dir


# ------------------------------------------------------------------ batch


def run_batch(spark, spec: dict, wl, tracer: Tracer) -> dict:
    import pyarrow as pa

    from dataflowjavasdk_spark.queries import all_queries
    from dataflowjavasdk_spark.sources.tables import load_table

    qs = all_queries()
    _scratch_in_run_dir()
    data_dir = spec["data_dir"]
    dfs, tables, build, first_exec, errors = {}, {}, {}, {}, {}
    tracer.parent = "first_run"
    t0 = mono()
    for name in wl.queries:
        try:
            with tracer.span(name, "build") as b:
                df = qs[name](spark, data_dir)
            with tracer.span(name, "first") as f:
                tables[name] = df.toArrow()
        except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
            errors[name] = traceback.format_exc(limit=3)
            continue
        dfs[name], build[name], first_exec[name] = df, b.s, f.s
    first_run_s = mono() - t0
    pins = _rdd_storage(spark.sparkContext) if tracer.on else []
    for name, tbl in tables.items():
        with pa.OSFile(os.path.join(spec["run_dir"], f"{name}.arrow"), "wb") as sink:
            with pa.ipc.new_file(sink, tbl.schema) as writer:
                writer.write_table(tbl)

    # warm: whole passes over every retained query until the budget is
    # spent. Pass times fall for the first several passes while the JVM
    # compiles the hot paths, so the first half of the passes is warm-up
    # and only the second half counts.
    tracer.parent = "warm"
    passes: list[float] = []
    per_q: dict[str, list[float]] = {n: [] for n in dfs}
    warm_ops = warm_failed = 0
    w0 = mono()
    while len(passes) < 4 or (mono() - w0 < spec["seconds"] and len(passes) < 100):
        p0 = mono()
        for name, df in dfs.items():
            warm_ops += 1
            try:
                with tracer.span(name, "warm") as s:
                    n = df.toArrow().num_rows
            except Exception:  # noqa: BLE001
                warm_failed += 1
                continue
            per_q[name].append(s.s)
            if n != tables[name].num_rows:
                warm_failed += 1
        passes.append(mono() - p0)

    out = {
        "first_run_s": first_run_s,
        "warm_s": statistics.median(passes[len(passes) // 2:]),
        "passes": passes,
        "per_query_build": build,
        "per_query_first_exec": first_exec,
        "per_query_warm": {n: statistics.median(v[len(v) // 2:]) for n, v in per_q.items() if v},
        "errors": errors,
        "warm_ops": warm_ops,
        "warm_failed": warm_failed,
        "result_rows": sum(t.num_rows for t in tables.values()),
        "result_bytes": sum(t.nbytes for t in tables.values()),
        "pins": pins,
    }
    if tracer.on:
        tracer.parent = "probe"
        scans = {}
        for table in wl.tables:
            with tracer.span(table, "scan") as s:
                load_table(spark, data_dir, table).write.format("noop").mode(
                    "overwrite"
                ).save()
            scans[table] = s.s
        collect = {}
        for name, df in dfs.items():
            # the fetch (toArrow) against executing the same retained plan
            # without one (its RDD, counted on the executors), interleaved
            # so both see the same host; medians of 5 each
            plan = df._jdf.queryExecution().toRdd()
            fetch, execute = [], []
            for _ in range(5):
                with tracer.span(name, "collect") as s:
                    df.toArrow()
                fetch.append(s.s)
                with tracer.span(name, "execute") as s:
                    plan.count()
                execute.append(s.s)
            collect[name] = {"fetch_s": statistics.median(fetch),
                             "execute_s": statistics.median(execute)}
        out["scan_probe"] = scans
        out["collect_probe"] = collect
        if wl.probe_decoders:
            out["functions_us"] = decoder_us(spec["data_dir"])
    return out


def decoder_us(data_dir: str, sample: int = 64) -> dict[str, float]:
    """Direct calls into the functions layer: µs per payload for each
    decoder, over payloads encoded the way the media queries synthesize
    them from the first `sample` documents. Median of 5 passes."""
    import io
    import wave

    import numpy as np
    import pyarrow.parquet as pq

    from dataflowjavasdk_spark.functions.jpeg import decode_jpeg, encode_jpeg
    from dataflowjavasdk_spark.functions.multimodal import decode_wav
    from dataflowjavasdk_spark.functions.video import (
        decode_avi_mjpeg,
        decode_gif,
        encode_avi_mjpeg,
        encode_gif,
    )

    docs = pq.read_table(
        os.path.join(data_dir, "documents.parquet"), columns=["doc_id", "n_chars"]
    ).slice(0, sample).to_pylist()
    jpeg, wav, gif, avi = [], [], [], []
    for d in docs:
        doc_id, n_chars = d["doc_id"], d["n_chars"]
        w, h = 1 + n_chars % 21, 1 + doc_id % 19
        by, bx = np.indices((h, w)) // 8
        jpeg.append(encode_jpeg((doc_id % 128 + 17 * bx + 29 * by).astype(np.uint8)))
        n = 100 + n_chars % 400
        pcm = np.full(n, 1000 * (doc_id % 9 + 1), dtype="<i2")
        pcm[1::2] = -pcm[1::2]
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(1)
            wf.setsampwidth(2)
            wf.setframerate(8000)
            wf.writeframes(pcm.tobytes())
        wav.append(buf.getvalue())
        gw, gh = 1 + n_chars % 10, 1 + doc_id % 8
        pal = [((doc_id * (i + 1)) % 256, (n_chars * (i + 2)) % 256,
                ((doc_id + n_chars) * (i + 3)) % 256) for i in range(4)]
        gif.append(encode_gif(
            [np.full((gh, gw), f % 4, np.uint8) for f in range(1 + n_chars % 5)], pal
        ))
        aw, ah = 8 * (1 + n_chars % 3), 8 * (1 + doc_id % 2)
        avi.append(encode_avi_mjpeg(
            [encode_jpeg(np.full((ah, aw), doc_id % 200 + 4 * f, np.uint8))
             for f in range(1 + doc_id % 12)], aw, ah,
        ))
    out = {}
    for name, fn, payloads in (
        ("jpeg", decode_jpeg, jpeg),
        ("wav", decode_wav, wav),
        ("gif", decode_gif, gif),
        ("avi_mjpeg", decode_avi_mjpeg, avi),
    ):
        times = []
        for _ in range(5):
            t0 = time.perf_counter()
            for p in payloads:
                fn(p)
            times.append(time.perf_counter() - t0)
        out[name] = statistics.median(times) / len(payloads) * 1e6
    return out


# -------------------------------------------------------------- streaming


class _ProgressLog:
    """Collects StreamingQuery progress events (traced runs only)."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self
        self.events: list[dict] = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                log.events.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()


def run_streaming(spark, spec: dict, wl, tracer: Tracer) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datagen import STREAM_SCHEMA, StreamGenerator, land_file
    from dataflowjavasdk_spark.streaming.core import MicroBatchHarness
    from dataflowjavasdk_spark.streaming.triggers import (
        ACCUMULATING,
        AfterCount,
        AfterWatermark,
        triggered_window_aggregate,
    )

    # one state-store partition per core: at this event rate 32 RocksDB
    # partitions made every round about four times slower
    spark.conf.set("spark.sql.shuffle.partitions", str(spec["cores"]))
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    progress = None
    if tracer.on:
        progress = _ProgressLog()
        spark.streams.addListener(progress.listener)

    def build(stream):
        return triggered_window_aggregate(
            stream,
            keys=["key"],
            value_col="value",
            window_size="60 seconds",
            trigger=AfterWatermark(early=AfterCount(100)),
            accumulation=ACCUMULATING,
            allowed_lateness="0 seconds",
            watermark_delay="30 seconds",
        )

    harness = MicroBatchHarness(spark, STREAM_SCHEMA, root=os.path.join(spec["run_dir"], "stream"))
    gen = StreamGenerator(spec["seed"], wl.stream)
    rounds: list[float] = []
    sizes: list[int] = []  # events fed in each completed round
    feed_s = 0.0
    accepted: list[pa.Table] = []
    panes: list = []
    errors: dict[str, str] = {}

    def one_round(r: int, tbl) -> float | None:
        land_file(tbl, harness.input_dir, f"round_{r:05d}.parquet")
        try:
            with tracer.span(f"round_{r:05d}", "round") as s:
                panes.extend(harness.run_round(build, output_mode="update"))
        except Exception:  # noqa: BLE001
            errors[f"round_{r:05d}"] = traceback.format_exc(limit=3)
            return None
        return s.s

    # the first round is the cold one (first_run_s); a fixed number of warm
    # rounds follow, whatever the time budget. Each round advances event
    # time by one window, so every round both opens and closes (and
    # evicts) one window per key. Round times keep falling while the JVM
    # compiles the state-store path, so the first third of the warm
    # rounds is warm-up and only the rest is measured.
    tracer.parent = "rounds"
    n_rounds = 1 + wl.stream.warm_rounds
    for r in range(n_rounds):
        f0 = mono()
        tbl, acc = gen.next_round()
        feed_s += mono() - f0
        accepted.append(tbl.filter(pa.array(acc)).append_column(
            "round", pa.array([r] * int(acc.sum()), pa.int32())))
        secs = one_round(r, tbl)
        if secs is not None:
            rounds.append(secs)
            sizes.append(tbl.num_rows)

    pq.write_table(pa.concat_tables(accepted), os.path.join(spec["run_dir"], "accepted.parquet"))
    with open(os.path.join(spec["run_dir"], "panes.json"), "w") as fh:
        json.dump(
            [
                {"key": p["key"], "window_start": p["window_start"].isoformat(),
                 "n": p["n"], "total": p["total"], "is_last": p["is_last"],
                 "pane_timing": p["pane_timing"]}
                for p in panes
            ],
            fh,
        )
    skip = 1 + (len(rounds) - 1) // 3
    measured, events = rounds[skip:], sum(sizes[skip:])
    out = {
        "first_run_s": rounds[0] if rounds else None,
        "warm_s": statistics.median(measured) if measured else None,
        "rounds": rounds,
        "n_rounds": n_rounds,
        "measured_rounds": len(measured),
        "watermark_us": gen.watermark_us,
        "events": events,
        "events_per_s": events / sum(measured) if measured else None,
        "feed_s": feed_s,
        "errors": errors,
        "output_rows": len(panes),
    }
    if progress is not None:
        time.sleep(0.5)  # the listener bus delivers progress asynchronously
        spark.streams.removeListener(progress.listener)
        out["progress"] = progress.events
        out["state_dir_bytes"] = _dir_bytes(os.path.join(harness.checkpoint, "state"))
    return out


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


# ------------------------------------------------------------------- main


def main() -> int:
    with open(sys.argv[1]) as fh:
        spec = json.load(fh)
    from workloads import from_spec

    wl = from_spec(spec["workload"])
    from dataflowjavasdk_spark.session import get_spark

    # A fixed-size heap (initial = max), touched in full at start, makes the
    # JVM's resident memory the same from run to run, so peak_rss_mb moves
    # with native, off-heap and Python-worker memory rather than with how
    # much of the heap a run happened to touch.
    # The JVM's temp files and perf-data file stay inside the checkout.
    confs = {
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions":
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={spec['tmp_dir']} "
            "-XX:-UsePerfData",
    }
    if spec["trace"]:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": spec["eventlog_dir"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name=f"perfbench-{wl.name}",
        master=f"local[{spec['cores']}]",
        shuffle_partitions=32,
        extra_confs=confs,
    )
    spark.range(1).count()
    ready = mono()
    tracer = Tracer(spark.sparkContext, wl.name, bool(spec["trace"]))
    try:
        body = (run_streaming if wl.stream else run_batch)(spark, spec, wl, tracer)
    finally:
        spark.stop()
    body.update(ready=ready, spans=tracer.spans)
    with open(spec["out_path"], "w") as fh:
        json.dump(body, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
