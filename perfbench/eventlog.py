"""Attribute Spark event-log task metrics to benchmark job groups.

The traced run calls `setJobGroup("<workload>/<query>/<phase>")` before
every call into the engine. Each JobStart carries that group id in its
properties and lists its stage ids, so every TaskEnd can be attributed
to the group through its stage. Python exec-node metrics (bytes sent to
and returned from Python workers, rows out of the Python node) are read
from the same TaskEnd accumulables, keyed by the accumulator ids that the
SQL plan events declare on Python nodes.
"""

from __future__ import annotations

import json
from collections import defaultdict

_PY_NODE_HINTS = ("Python", "Pandas", "Arrow")

# per-group counters, all plain sums over attributed tasks
FIELDS = (
    "tasks",
    "stages",
    "run_ms",
    "cpu_ns",
    "gc_ms",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "python_sent_bytes",
    "python_received_bytes",
    "python_rows",
)


def _walk(plan: dict):
    yield plan
    for child in plan.get("children", ()):
        yield from _walk(child)


def parse(lines) -> dict[str, dict[str, int]]:
    """Group id -> summed counters. Tasks of jobs without a group land
    under the empty string."""
    events = [json.loads(line) for line in lines if line.strip()]
    # first pass: job group of every stage, accumulator ids of Python
    # nodes' row counters (plan updates may follow the tasks they cover)
    stage_group: dict[int, str] = {}
    py_rows_ids: set[int] = set()
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            for sid in ev.get("Stage IDs", ()):
                stage_group[sid] = group
        elif kind.endswith("SQLExecutionStart") or kind.endswith(
            "SQLAdaptiveExecutionUpdate"
        ):
            for node in _walk(ev.get("sparkPlanInfo") or {}):
                if any(h in node.get("nodeName", "") for h in _PY_NODE_HINTS):
                    for m in node.get("metrics", ()):
                        if m.get("name") == "number of output rows":
                            py_rows_ids.add(m["accumulatorId"])
    out: dict[str, dict[str, int]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            out[stage_group.get(sid, "")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = out[stage_group.get(ev["Stage ID"], "")]
            m = ev.get("Task Metrics") or {}
            g["tasks"] += 1
            g["run_ms"] += m.get("Executor Run Time", 0)
            g["cpu_ns"] += m.get("Executor CPU Time", 0)
            g["gc_ms"] += m.get("JVM GC Time", 0)
            g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            rd = m.get("Shuffle Read Metrics") or {}
            g["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                # SQL metrics serialize their update as a decimal string
                name = acc.get("Name")
                try:
                    upd = int(acc.get("Update"))
                except (TypeError, ValueError):
                    continue
                if name == "data sent to Python workers":
                    g["python_sent_bytes"] += upd
                elif name == "data returned from Python workers":
                    g["python_received_bytes"] += upd
                elif acc.get("ID") in py_rows_ids:
                    g["python_rows"] += upd
    return dict(out)


def parse_file(path: str) -> dict[str, dict[str, int]]:
    with open(path) as fh:
        return parse(fh)


def rollup(groups: dict[str, dict[str, int]], phase: str) -> dict[str, int]:
    """Sum the counters of every group whose last path element (the
    phase) equals `phase`."""
    total = dict.fromkeys(FIELDS, 0)
    for gid, counters in groups.items():
        if gid.rsplit("/", 1)[-1] == phase:
            for k, v in counters.items():
                total[k] += v
    return total
