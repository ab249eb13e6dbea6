"""Measure the fixed cost of a Python task and the Python workers' memory.

Prints, on one engine session:

  submit_to_python_s  from the driver submitting a trivial
                      `mapInPandas` over 4 partitions to the first line
                      of Python run by any of its tasks (one host clock),
                      median over --runs jobs after two untimed warm-up
                      jobs, so every task lands on a reused worker;
  invalidate_caches_s the in-worker cost of one
                      `importlib.invalidate_caches()`, which PySpark's
                      worker runs at the start of every task;
  fresh_pool_first_s  the same lag for a job on a fresh worker pool
                      (a new daemon, workers forked for the job), median
                      over --fresh jobs. An executor env var set for one
                      job only keys a pool of its own;
  python_workers      the Python workers alive after the probe, per
                      pool, with their summed proportional set size (PSS)
                      and the daemon's. Each Python task holds one worker
                      per Python evaluator in its stage.

A JVM-only job on this session starts its tasks in a few tens of ms, so
a `submit_to_python_s` far above that, with a matching
`invalidate_caches_s`, is per-task Python set-up, not host load.

Usage, from the repository root (the workers import the engine from it):
    python tools/python_floor.py [--runs N] [--fresh N]
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)

_POOL_VAR = "PYTHON_FLOOR_POOL"


def _first_line(batches):
    """Drains the partition; reports when its first line ran and what one
    `importlib.invalidate_caches()` costs in this worker."""
    started = time.time()
    import importlib

    import pandas as pd

    import dataflowjavasdk_spark  # noqa: F401  (the engine's worker state)

    t0 = time.perf_counter()
    importlib.invalidate_caches()
    invalidate = time.perf_counter() - t0
    for _ in batches:
        pass
    yield pd.DataFrame({"started": [started], "invalidate": [invalidate]})


def _pss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        return next(int(line.split()[1]) for line in fh if line.startswith("Pss:")) / 1024


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    # the field after the parenthesised command name is the ppid
                    if int(fh.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(entry))
            except (OSError, IndexError, ValueError):
                continue
    return out


def python_pools(jvm_pid: int) -> list[dict]:
    """The JVM's Python daemons, one per worker pool: the pool's label
    (its `_POOL_VAR`, or "default"), the daemon's module, PSS and its
    forked workers' count and summed PSS."""
    pools = []
    for pid in _children(jvm_pid):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                argv = fh.read().decode(errors="replace").split("\0")
            with open(f"/proc/{pid}/environ", "rb") as fh:
                env = dict(kv.split("=", 1) for kv in fh.read().decode(errors="replace").split("\0")
                           if "=" in kv)
            if "-m" not in argv:
                continue
            workers = _children(pid)
            pools.append({
                "pool": env.get(_POOL_VAR, "default"),
                "module": argv[argv.index("-m") + 1],
                "daemon_mb": _pss_mb(pid),
                "workers": len(workers),
                "workers_mb": sum(_pss_mb(w) for w in workers),
            })
        except (OSError, StopIteration):
            continue
    return sorted(pools, key=lambda p: p["pool"])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=9)
    ap.add_argument("--fresh", type=int, default=3)
    args = ap.parse_args()

    from dataflowjavasdk_spark.session import get_spark

    spark = get_spark(app_name="python-floor")
    sc = spark.sparkContext

    def probe():
        # a Python function captures the executor env when it is planned
        return spark.range(0, 4, numPartitions=4).mapInPandas(
            _first_line, "started double, invalidate double")

    df = probe()
    lags, invalidates = [], []
    for run in range(args.runs + 2):
        submit = time.time()
        rows = df.collect()
        if run >= 2:
            lags.append(min(r.started for r in rows) - submit)
            invalidates.extend(r.invalidate for r in rows)
    fresh = []
    for run in range(args.fresh):
        sc.environment[_POOL_VAR] = f"fresh{run}"
        try:
            fresh_df = probe()
            submit = time.time()
            rows = fresh_df.collect()
        finally:
            del sc.environment[_POOL_VAR]
        fresh.append(min(r.started for r in rows) - submit)
    print(f"submit_to_python_s  {statistics.median(lags):.4f}  (median of {len(lags)} jobs)")
    print(f"invalidate_caches_s {statistics.median(invalidates):.6f}  "
          f"(median of {len(invalidates)} tasks)")
    if fresh:
        print(f"fresh_pool_first_s  {statistics.median(fresh):.4f}  "
              f"(median of {len(fresh)} jobs, each on a new pool)")
    for p in python_pools(sc._gateway.proc.pid):
        print(f"python_workers      {p['workers']}  pool={p['pool']} "
              f"worker_pss_mb={p['workers_mb']:.1f} daemon_pss_mb={p['daemon_mb']:.1f} "
              f"daemon={p['module']}")


if __name__ == "__main__":
    main()
