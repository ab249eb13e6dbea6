"""Measure the fixed cost of a Python task in reused workers.

Prints two medians, each over --runs jobs on one engine session after
two untimed warm-up jobs (so every task lands on a reused worker):

  submit_to_python_s  from the driver submitting a trivial
                      `mapInPandas` over 4 partitions to the first line
                      of Python run by any of its tasks (one host clock);
  invalidate_caches_s the in-worker cost of one
                      `importlib.invalidate_caches()`, which PySpark's
                      worker runs at the start of every task.

A JVM-only job on this session starts its tasks in a few tens of ms, so
a `submit_to_python_s` far above that, with a matching
`invalidate_caches_s`, is per-task Python set-up, not host load.

Usage, from the repository root (the workers import the engine from it):
    python tools/python_floor.py [--runs N]
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)


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


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=9)
    args = ap.parse_args()

    from dataflowjavasdk_spark.session import get_spark

    spark = get_spark(app_name="python-floor")
    df = spark.range(0, 4, numPartitions=4).mapInPandas(
        _first_line, "started double, invalidate double")
    lags, invalidates = [], []
    for run in range(args.runs + 2):
        submit = time.time()
        rows = df.collect()
        if run >= 2:
            lags.append(min(r.started for r in rows) - submit)
            invalidates.extend(r.invalidate for r in rows)
    print(f"submit_to_python_s  {statistics.median(lags):.4f}  (median of {len(lags)} jobs)")
    print(f"invalidate_caches_s {statistics.median(invalidates):.6f}  "
          f"(median of {len(invalidates)} tasks)")


if __name__ == "__main__":
    main()
