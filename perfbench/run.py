"""Benchmark of the dataflow engine: one named workload, one seed, one
fresh driver process.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 16 --trace 0

Run it from the repository root. It generates the workload's inputs from
the seed, starts perfbench/driver.py as a fresh process on local[k]
(k = min(cpus, 4)), samples the resident memory of that process tree,
checks every output against DuckDB, writes a durable artifact under
.perfbench/artifacts/ and prints one line per metric, then one JSON
object as the last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--seconds bounds the warm passes of a batch workload; the streaming
workload runs a fixed number of rounds. With --trace 0 the metrics are
the end-to-end ones; with --trace 1 the driver also writes Spark's event
log and runs the layer probes, and the metrics are the per-layer ones.
Workloads and metrics are described in perfbench/workloads.py.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DRIVER_TIMEOUT_S = 160
MB = 1024 * 1024


def calibrate() -> float:
    """Seconds for a fixed pure-Python loop: host speed at this moment."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1_500_000):
        x += i * i % 7
    return time.perf_counter() - t0


def git_rev() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip()


class TreeRss:
    """Samples the resident memory of a process and all of its descendants
    every `interval` seconds and keeps the peak of the sum. A sample walks
    /proc and costs tens of milliseconds of CPU, so the interval is kept
    long enough that the sampler does not compete with the run. Each process
    counts its proportional set size (shared pages split between the
    processes that map them), and a child still sharing its parent's
    address space (the JVM's spawn helper between fork and exec) is
    skipped, so no page is counted twice."""

    def __init__(self, pid: int, interval: float = 0.5):
        self.pid, self.interval = pid, interval
        self.peak = 0
        self.peak_parts: dict[str, int] = {}  # process name -> bytes at the peak
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False

    def _tree(self) -> dict[int, int]:
        """pid -> parent pid for the process and its descendants."""
        parent: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/status") as fh:
                    status = dict(line.split(":", 1) for line in fh if ":" in line)
            except OSError:
                continue
            # some kernels list threads here too; count each process once
            if int(status["Tgid"]) == int(entry):
                parent[int(entry)] = int(status["PPid"])
        tree, todo = {self.pid: 0}, [self.pid]
        while todo:
            p = todo.pop()
            for child in (c for c, pp in parent.items() if pp == p):
                tree[child] = p
                todo.append(child)
        return tree

    @staticmethod
    def _read(pid: int) -> tuple[str, int, int]:
        """(name, address-space size in pages, proportional set size in bytes)"""
        with open(f"/proc/{pid}/comm") as fh:
            comm = fh.read().strip()
        with open(f"/proc/{pid}/statm") as fh:
            size = int(fh.read().split()[0])
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            pss = next(int(line.split()[1]) for line in fh if line.startswith("Pss:"))
        return comm, size, pss * 1024

    def _loop(self) -> None:
        while not self._stop.is_set():
            seen: dict[int, tuple[str, int, int]] = {}
            tree = self._tree()
            for p in tree:
                try:
                    seen[p] = self._read(p)
                except (OSError, StopIteration):
                    continue
            parts: dict[str, int] = {}
            for p, (comm, size, pss) in seen.items():
                up = seen.get(tree[p])
                if up is not None and up[1] == size:
                    continue  # shares the parent's address space
                parts[comm] = parts.get(comm, 0) + pss
            total = sum(parts.values())
            if total > self.peak:
                self.peak, self.peak_parts = total, parts
            self.samples += 1
            self._stop.wait(self.interval)


def run_driver(spec: dict, spec_path: str) -> tuple[float, TreeRss, int]:
    """Start the driver process, wait for it and return (spawn time, rss
    monitor, exit code). The driver runs in its own process group, which
    is killed if it overruns or once it has exited, so no JVM or Python
    worker outlives the run."""
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, HERE, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=spec["tmp_dir"],
        SPARK_LOCAL_DIRS=spec["local_dir"],
        SPARK_GRAFT_WAREHOUSE=os.path.join(spec["run_dir"], "warehouse"),
        SPARK_GRAFT_CPUS=str(spec["cores"]),
        TZ="UTC",
    )
    log = open(os.path.join(spec["run_dir"], "driver.log"), "wb")
    t_spawn = time.monotonic()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "driver.py"), spec_path],
        cwd=spec["run_dir"], env=env, stdout=log, stderr=subprocess.STDOUT,
        start_new_session=True,
    )
    try:
        with TreeRss(proc.pid) as rss:
            try:
                code = proc.wait(timeout=DRIVER_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = -1
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        log.close()
    return t_spawn, rss, code


def layer_metrics(wl, res: dict, groups: dict | None) -> dict[str, float]:
    """Per-layer metrics of a traced run (zero where the layer is not on
    the workload's path)."""
    from eventlog import rollup
    from workloads import PER_LAYER

    m = dict.fromkeys((name for name, *_ in PER_LAYER), 0.0)
    if wl.stream is None:
        build, first_exec = res["per_query_build"], res["per_query_first_exec"]
        warm = res["per_query_warm"]
        for q in build:
            m[f"query.{q}.first_s"] = build[q] + first_exec[q]
            m[f"query.{q}.warm_s"] = warm.get(q, 0.0)
        m["queries.build_s"] = sum(build.values())
        m["queries.first_exec_s"] = sum(first_exec.values())
        m["pins.count"] = len(res["pins"])
        m["pins.mb"] = sum(p["mem"] + p["disk"] for p in res["pins"]) / MB
        m["pins.first_minus_warm_s"] = sum(first_exec[q] - warm.get(q, 0.0) for q in first_exec)
        m["sources.scan_s"] = sum(res["scan_probe"].values())
        m["sources.input_mb"] = sum(
            os.path.getsize(os.path.join(res["data_dir"], f"{t}.parquet")) for t in wl.tables
        ) / MB
        m["sources.write_s"] = sum(build.get(q, 0.0) for q in wl.writers)
        m["collect.rows"] = res["result_rows"]
        m["collect.mb"] = res["result_bytes"] / MB
        m["collect.s"] = sum(c["fetch_s"] - c["execute_s"] for c in res["collect_probe"].values())
        for name, us in (res.get("functions_us") or {}).items():
            m[f"functions.decode_{name}_us"] = us
    else:
        prog = res.get("progress", [])
        ops = [op for p in prog for op in p.get("stateOperators") or ()]
        dur = [p.get("durationMs") or {} for p in prog]
        m["streaming.input_rows"] = sum(p.get("numInputRows", 0) for p in prog)
        m["streaming.output_rows"] = res["output_rows"]
        m["streaming.late_dropped_rows"] = sum(op.get("numRowsDroppedByWatermark", 0) for op in ops)
        m["streaming.state_rows"] = max((op.get("numRowsTotal", 0) for op in ops), default=0)
        m["streaming.state_mb"] = res.get("state_dir_bytes", 0) / MB
        m["streaming.state_commit_ms"] = sum(op.get("commitTimeMs", 0) for op in ops)
        m["streaming.add_batch_ms"] = sum(d.get("addBatch", 0) for d in dur)
        m["streaming.planning_ms"] = sum(d.get("queryPlanning", 0) for d in dur)
        m["streaming.wal_commit_ms"] = sum(d.get("walCommit", 0) for d in dur)
        m["streaming.feed_s"] = res["feed_s"]
    if groups is not None:
        first = rollup(groups, "build")
        for k, v in rollup(groups, "first").items():
            first[k] += v
        warm_phase = "round" if wl.stream else "warm"
        warm = rollup(groups, warm_phase)
        per = len(res["passes"]) if wl.stream is None else max(1, len(res["rounds"]))
        m["operators.tasks"] = warm["tasks"] / per
        m["operators.stages"] = warm["stages"] / per
        m["operators.run_s"] = warm["run_ms"] / 1e3 / per
        m["operators.cpu_s"] = warm["cpu_ns"] / 1e9 / per
        m["operators.gc_s"] = warm["gc_ms"] / 1e3 / per
        m["operators.shuffle_write_mb"] = warm["shuffle_write_bytes"] / MB / per
        m["operators.shuffle_read_mb"] = warm["shuffle_read_bytes"] / MB / per
        m["operators.spill_mb"] = warm["spill_bytes"] / MB / per
        m["operators.first_tasks"] = first["tasks"]
        m["operators.first_run_s"] = first["run_ms"] / 1e3
        m["operators.first_cpu_s"] = first["cpu_ns"] / 1e9
        m["operators.first_gc_s"] = first["gc_ms"] / 1e3
        m["arrow.python_sent_mb"] = warm["python_sent_bytes"] / MB / per
        m["arrow.python_received_mb"] = warm["python_received_bytes"] / MB / per
        m["arrow.python_rows"] = warm["python_rows"] / per
    return m


class RunFailed(RuntimeError):
    """The driver process exited without a result."""


def input_rows(data_dir: str, tables) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(os.path.join(data_dir, f"{t}.parquet")).num_rows for t in tables)


def tally(wl, res: dict, problems: dict) -> tuple[int, int]:
    """(attempted, failed) ops. Batch: every first run plus every warm
    execution; a first run fails if it raised or differs from its oracle,
    a warm execution if it raised or changed its row count. Streaming:
    every round; a round fails if it raised or fed a wrong window."""
    if wl.stream is None:
        return len(wl.queries) + res["warm_ops"], len(problems) + res["warm_failed"]
    attempted = res["n_rounds"]
    return attempted, min(len(problems), attempted)


def run_workload(wl, seed: int, seconds: float, trace: bool) -> dict:
    """Run one workload in a fresh driver process and return its artifact,
    which is also written under .perfbench/artifacts/."""
    from datagen import WINDOW_S, write_tables
    from workloads import to_spec

    stamp = dt.datetime.now(dt.timezone.utc).strftime("%Y%m%dT%H%M%S")
    run_id = f"{wl.name}_s{seed}_{stamp}_{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", run_id)
    spec = {
        "workload": to_spec(wl),
        "seed": seed,
        "seconds": seconds,
        "trace": int(trace),
        "cores": min(len(os.sched_getaffinity(0)), 4),
        "run_dir": run_dir,
        "tmp_dir": os.path.join(run_dir, "tmp"),
        "local_dir": os.path.join(run_dir, "local"),
        "eventlog_dir": os.path.join(run_dir, "eventlog"),
        "out_path": os.path.join(run_dir, "result.json"),
        "data_dir": None,
    }
    for d in ("tmp_dir", "local_dir", "eventlog_dir"):
        os.makedirs(spec[d], exist_ok=True)
    host = {
        "nproc": os.cpu_count(),
        "cpus_usable": len(os.sched_getaffinity(0)),
        "loadavg_before": os.getloadavg(),
        "calibration_before_s": calibrate(),
        "git_rev": git_rev(),
    }
    data_root = os.path.join(WORK, "data", f"{wl.name}_s{seed}_{os.getpid()}")
    phases = {"start": time.monotonic()}
    try:
        if wl.sizes is not None:
            spec["data_dir"] = write_tables(wl.sizes, seed, data_root)
        phases["generated"] = time.monotonic()
        spec_path = os.path.join(run_dir, "spec.json")
        with open(spec_path, "w") as fh:
            json.dump(spec, fh)
        t_spawn, rss, code = run_driver(spec, spec_path)
        phases["driver_exited"] = time.monotonic()
        if code != 0 or not os.path.exists(spec["out_path"]):
            with open(os.path.join(run_dir, "driver.log"), "rb") as fh:
                tail = fh.read()[-4000:].decode(errors="replace")
            raise RunFailed(f"driver failed (exit {code}):\n{tail}")
        with open(spec["out_path"]) as fh:
            res = json.load(fh)
        res["data_dir"] = spec["data_dir"]

        # correctness, outside every timed region
        if wl.stream is None:
            from oracle import check_batch

            from dataflowjavasdk_spark.queries import all_oracles

            problems = check_batch(spec["data_dir"], run_dir, wl.queries, all_oracles())
        else:
            from oracle import check_stream

            problems = check_stream(run_dir, WINDOW_S, res["watermark_us"])
        problems.update({k: "raised: " + e.splitlines()[-1] for k, e in res["errors"].items()})
        attempted, failed = tally(wl, res, problems)
        phases["checked"] = time.monotonic()

        e2e = {
            "setup_s": res["ready"] - t_spawn,
            "first_run_s": res["first_run_s"],
            "warm_s": res["warm_s"],
            "events_per_s": (
                res["events_per_s"] if wl.stream
                else input_rows(spec["data_dir"], wl.tables) / res["warm_s"]
            ),
            "peak_rss_mb": rss.peak / MB,
        }
        groups = None
        if trace:
            from eventlog import parse_file

            logs = os.listdir(spec["eventlog_dir"])
            if logs:
                groups = parse_file(os.path.join(spec["eventlog_dir"], logs[0]))
        layers = layer_metrics(wl, res, groups) if trace else {}

        host["loadavg_after"] = os.getloadavg()
        host["calibration_after_s"] = calibrate()
        phases["done"] = time.monotonic()
        artifact = {
            "run_id": run_id,
            "workload": wl.name,
            "queries": list(wl.queries),
            "seed": seed,
            "seconds": seconds,
            "trace": int(trace),
            "cores": spec["cores"],
            "host": host,
            "end_to_end": e2e,
            "per_layer": layers,
            "error_rate": failed / attempted,
            "attempted": attempted,
            "failed": failed,
            "problems": {str(k): v for k, v in problems.items()},
            "rss_samples": rss.samples,
            "rss_peak_parts_mb": {k: v / MB for k, v in rss.peak_parts.items()},
            "phase_offsets_s": {k: v - phases["start"] for k, v in phases.items()},
            "spawned_offset_s": t_spawn - phases["start"],
            "event_log_groups": groups,
            "raw": res,
        }
        os.makedirs(os.path.join(WORK, "artifacts"), exist_ok=True)
        with open(os.path.join(WORK, "artifacts", f"{run_id}.json"), "w") as fh:
            json.dump(artifact, fh)
        return artifact
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        shutil.rmtree(data_root, ignore_errors=True)


def report(art: dict) -> str:
    """The human-readable metric lines, then the JSON result line."""
    from workloads import END_TO_END, PER_LAYER

    lines = [f"{n} {art['end_to_end'][n]:.6g} {u}" for n, u, _ in END_TO_END]
    lines.append(f"error_rate {art['error_rate']:.6g} ratio "
                 f"({art['failed']}/{art['attempted']} ops failed)")
    if art["raw"].get("rounds"):
        # the median measured warm round, which the streaming workload reports as warm_s
        lines.append(f"round_p50_s {art['end_to_end']['warm_s']:.6g} s "
                     f"({art['raw']['measured_rounds']} measured warm rounds)")
    lines += [f"FAILED {k}: {msg}" for k, msg in art["problems"].items()]
    if art["trace"]:
        metrics = {n: {"value": art["per_layer"][n], "unit": u} for n, u, *_ in PER_LAYER}
    else:
        metrics = {n: {"value": art["end_to_end"][n], "unit": u} for n, u, _ in END_TO_END}
    lines.append(json.dumps({"correct": art["failed"] == 0, "attempted": art["attempted"],
                             "failed": art["failed"], "metrics": metrics}))
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="time budget of the batch warm passes (streaming runs a fixed "
                    "number of rounds)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("dataflowjavasdk_spark", "tools/check_correctness.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources not found under {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    try:
        art = run_workload(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace))
    except RunFailed as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    print(report(art))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
