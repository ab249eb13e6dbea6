"""Steadiness record: run-to-run spread of every end-to-end metric and
the tracing overhead, per workload.

    python3 perfbench/steadiness.py [--workloads curation,streaming]

Each workload runs RUNS untraced times, one seed each, at BENCHMARK.json's
run_seconds. The first TRACED seeds also run traced, right beside their
untraced run, with the order flipped from one seed to the next, so the
overhead is a paired difference rather than host drift. For every
end-to-end metric the record holds the values, their median and the
spread (Q3 - Q1) / median with quartiles from statistics.quantiles(n=4),
next to the bound BENCHMARK.json sets; the overhead is the median of the
paired traced-minus-untraced differences. The record is merged into
perfbench/steadiness.json (one entry per workload), so workloads can be
re-run one at a time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run  # noqa: E402
from workloads import END_TO_END, WORKLOADS  # noqa: E402

RUNS = 10
TRACED = 4
SEED0 = 1000
OUT = os.path.join(HERE, "steadiness.json")


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None,
            "values": values}


def record(wl, bench: dict) -> dict:
    seeds = list(range(SEED0, SEED0 + RUNS))
    seconds = bench["run_seconds"]
    plain, pairs, failed_runs, n_rounds = [], [], [], []
    for i, seed in enumerate(seeds):
        traced = [False, True] if i < TRACED else [False]
        if i % 2:
            traced.reverse()
        got = {}
        for trace in traced:
            art = run.run_workload(wl, seed, seconds, trace=trace)
            got[trace] = art["end_to_end"]
            if art["failed"]:
                failed_runs.append(art["run_id"])
            if "n_rounds" in art["raw"]:
                n_rounds.append(art["raw"]["n_rounds"])
            print(f"{wl.name} seed={seed} trace={int(trace)} "
                  + " ".join(f"{k}={v:.4g}" for k, v in art["end_to_end"].items()), flush=True)
        plain.append(got[False])
        if True in got:
            pairs.append((got[False], got[True]))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    metrics, overhead = {}, {}
    for name, *_ in END_TO_END:
        metrics[name] = spread([r[name] for r in plain])
        metrics[name]["bound"] = bounds.get(name)
        diffs = [t[name] - u[name] for u, t in pairs]
        overhead[name] = {"paired_diffs": diffs, "median_diff": statistics.median(diffs),
                          "median_share": statistics.median(diffs) / metrics[name]["median"]}
    out = {"seeds": seeds, "seconds": seconds, "metrics": metrics,
           "trace_overhead": overhead, "failed_runs": failed_runs}
    if n_rounds:
        out["n_rounds"] = sorted(set(n_rounds))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    try:
        with open(OUT) as fh:
            out = json.load(fh)
    except (OSError, ValueError):
        out = {}
    out["host"] = {"nproc": os.cpu_count(), "cpus_usable": len(os.sched_getaffinity(0)),
                   "calibration_s": run.calibrate()}
    out.setdefault("workloads", {})
    for name in args.workloads.split(","):
        out["workloads"][name] = record(WORKLOADS[name], bench)
        with open(OUT, "w") as fh:
            json.dump(out, fh, indent=1)
    for name, rec in out["workloads"].items():
        for metric, st in rec["metrics"].items():
            print(f"{name:11s} {metric:13s} median={st['median']:.4g} "
                  f"spread={st['spread']:.3f} bound={st['bound']} "
                  f"trace_overhead={rec['trace_overhead'][metric]['median_share']:+.3f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
