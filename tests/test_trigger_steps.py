"""Spark-free differential tests of the two trigger kernels' per-key steps
(`triggers.window_step`, `triggers.session_step`).

A small batch simulator drives each step with `KeyedState` handles the way
Spark's stateful operator drives `stateful_par_do`: a step sees the
previous batch's watermark, rows at or behind it are dropped, keys with
data run first, then keys whose timer is strictly below the watermark,
and state round-trips through JSON between batches. Random streams cover
fixed, sliding and session windows, random trees of
AfterCount/AfterEach/OrFinally/Repeatedly/Never, both accumulation modes,
both closing behaviours, every OutputTimeFn and lateness up to 600 s.
Fixed and sliding windows must match a per-(key, window) reference built
on `fire_panes`; closed sessions must match an offline gap-merge."""

from __future__ import annotations

import json
from collections import defaultdict
from functools import partial

import numpy as np
import pandas as pd
import pytest

from dataflowjavasdk_spark.streaming.state import KeyedState
from dataflowjavasdk_spark.streaming.triggers import (
    ACCUMULATING,
    CLOSING_FIRE_ALWAYS,
    CLOSING_FIRE_IF_NON_EMPTY,
    DISCARDING,
    OUTPUT_EARLIEST,
    OUTPUT_END_OF_WINDOW,
    OUTPUT_LATEST,
    AfterCount,
    AfterEach,
    AfterWatermark,
    Never,
    OrFinally,
    PaneConfig,
    Repeatedly,
    _CELL_FIELDS,
    fire_panes,
    merge_cells,
    new_cell,
    session_step,
    window_step,
)

S = 1000  # ms per second
STREAMS = 40  # random streams per window kind


def simulate(step, batches, delay_ms):
    """Run a per-key step over micro-batches of (key, ts_ms, value, window)
    rows; returns every emitted pane as a dict with its batch number."""
    blobs, timers, outs, wm = {}, {}, [], 0
    for b, batch in enumerate(batches):
        by_key = defaultdict(list)
        for row in batch:
            if row[1] > wm:  # rows at or behind the watermark are dropped
                by_key[row[0]].append(row)
        expired = [k for k, t in timers.items() if t < wm and k not in by_key]
        for k in list(by_key) + expired:
            rows = by_key.get(k, [])
            frame = pd.DataFrame({
                "window_start": np.array([r[3][0] for r in rows], "datetime64[ms]"),
                "window_end": np.array([r[3][1] for r in rows], "datetime64[ms]"),
                "__v__": [r[2] for r in rows],
                "ts": np.array([r[1] for r in rows], "datetime64[ms]"),
            }) if rows else pd.DataFrame()
            st = KeyedState(blobs.pop(k, {}), k not in by_key, wm)
            out = step((k,), frame, st)
            outs.append(None if out is None else out.assign(batch=b))
            timers.pop(k, None)
            if not st.removed:
                blobs[k] = json.loads(json.dumps(st._cells))
                timers[k] = st._timer_ms
        wm = max([wm] + [r[1] - delay_ms for r in batch])
    return pd.concat(outs).to_dict("records") if any(o is not None for o in outs) else []


def reference_windows(batches, delay_ms, cfg):
    """Today's semantics: one cell and one timer per (key, window)."""
    cells, timers, panes, wm = {}, {}, [], 0
    for b, batch in enumerate(batches):
        fresh = defaultdict(list)
        for k, t, v, w in batch:
            if t > wm:
                fresh[(k, *w)].append((t, v))
        expired = [kw for kw, t in timers.items() if t < wm and kw not in fresh]
        for kw in list(fresh) + expired:
            k, start, end = kw
            # an accepted row's window is never past its GC horizon (true
            # watermark wm + lateness >= end + lateness) without state
            assert kw in cells or wm < end
            ts = [t for t, _ in fresh.get(kw, [])]
            cell = cells.pop(kw, new_cell(start, end))
            merge_cells(cell, new_cell(start, end, len(ts), float(sum(v for _, v in fresh.get(kw, []))),
                                       min(ts, default=-1), max(ts, default=-1)))
            fired = fire_panes(cell, len(ts), wm + cfg.lateness_ms, 0, cfg)
            panes += [dict(p, key=k, window_start=start, window_end=end, batch=b)
                      for p in fired.panes]
            timers.pop(kw, None)
            if fired.cell is not None:
                cells[kw], timers[kw] = fired.cell, fired.timeout_ms
        wm = max([wm] + [t - delay_ms for _, t, _, _ in batch])
    return panes


def gap_merge(batches, delay_ms, gap_ms):
    """(key, start, end) -> (n, total) of the sessions the accepted rows form."""
    accepted, wm = defaultdict(list), 0
    for batch in batches:
        for k, t, v, _ in batch:
            if t > wm:
                accepted[k].append((t, v))
        wm = max([wm] + [t - delay_ms for _, t, _, _ in batch])
    sessions = {}
    for k, rows in accepted.items():
        cur = None
        for t, v in sorted(rows):
            if cur and t < cur[1]:
                cur = [cur[0], max(cur[1], t + gap_ms), cur[2] + 1, cur[3] + v]
            else:
                if cur:
                    sessions[(k, cur[0], cur[1])] = (cur[2], cur[3])
                cur = [t, t + gap_ms, 1, v]
        sessions[(k, cur[0], cur[1])] = (cur[2], cur[3])
    return sessions


def random_trigger(rng, depth=0):
    kind = rng.integers(5 if depth < 2 else 2)
    if kind == 0:
        return AfterCount(int(rng.integers(1, 4)))
    if kind == 1:
        return Never()
    if kind == 2:
        return Repeatedly(random_trigger(rng, depth + 1))
    if kind == 3:
        return AfterEach(tuple(random_trigger(rng, depth + 1) for _ in range(rng.integers(1, 3))))
    return OrFinally(random_trigger(rng, depth + 1), random_trigger(rng, depth + 1))


def random_config(rng):
    maybe = lambda: random_trigger(rng) if rng.random() < 0.7 else None  # noqa: E731
    return PaneConfig(
        AfterWatermark(early=maybe(), late=maybe()),
        accumulation=[ACCUMULATING, DISCARDING][rng.integers(2)],
        lateness_ms=int(rng.choice([0, 0, 30, 90, 600])) * S,
        output_time=[None, OUTPUT_END_OF_WINDOW, OUTPUT_EARLIEST, OUTPUT_LATEST][rng.integers(4)],
        closing_behavior=[CLOSING_FIRE_IF_NON_EMPTY, CLOSING_FIRE_ALWAYS][rng.integers(2)],
    )


def random_stream(rng, assign, delay_ms):
    """8 batches over 3 keys on a quarter-second grid, event time moving
    20 s a batch with rows up to 80 s behind (some dropped as late), then
    one batch far ahead and an empty one so every window closes."""
    batches = []
    for b in range(8):
        ts = (b * 20 * S + rng.integers(-320, 120, rng.integers(0, 9)) * 250).clip(250)
        batches.append([(f"k{rng.integers(3)}", int(t), float(rng.integers(10)), w)
                        for t in ts for w in assign(int(t))])
    far = 10_000 * S + delay_ms
    return batches + [[("zz", far, 0.0, w) for w in assign(far)[:1]], []]


def _key(p):
    emit = p.get("emit_ts")
    emit = None if emit is None or pd.isna(emit) else pd.Timestamp(emit).value // 1_000_000
    ws, we = (x if isinstance(x, int) else pd.Timestamp(x).value // 1_000_000
              for x in (p["window_start"], p["window_end"]))
    return (p["key"], ws, we, p["pane_timing"], p["pane_index"], p["n"], p["total"],
            p["is_first"], p["is_last"], emit, p["batch"])


def fixed(size):
    return lambda t: [(t - t % size, t - t % size + size)]


def sliding(size, period):
    return lambda t: [(s, s + size) for s in range(t - t % period, t - size, -period)]


@pytest.mark.parametrize("kind", ["fixed", "sliding"])
def test_window_step_matches_per_window_reference(kind):
    rng = np.random.default_rng(11 if kind == "fixed" else 12)
    for i in range(STREAMS):
        cfg = random_config(rng)
        delay_ms = int(rng.choice([0, 10, 60])) * S
        size = int(rng.choice([10, 30, 60])) * S
        assign = fixed(size) if kind == "fixed" else sliding(size, size // int(rng.choice([2, 3])))
        batches = random_stream(rng, assign, delay_ms)
        step = partial(window_step, cfg=cfg, keys=["key"], ts_col="ts")
        got = sorted(map(_key, simulate(step, batches, delay_ms + cfg.lateness_ms)), key=repr)
        want = sorted(map(_key, reference_windows(batches, delay_ms + cfg.lateness_ms, cfg)), key=repr)
        assert got == want, (i, cfg)


def test_session_step_closes_gap_merged_sessions():
    rng = np.random.default_rng(13)
    for i in range(STREAMS):
        cfg = random_config(rng)
        delay_ms = int(rng.choice([0, 10, 60])) * S
        gap_ms = int(rng.choice([5, 20, 60])) * S
        batches = random_stream(rng, lambda t: [(t, t + gap_ms)], delay_ms)
        step = partial(session_step, cfg=cfg, keys=["key"], ts_col="ts", gap_ms=gap_ms)
        panes = simulate(step, batches, delay_ms + cfg.lateness_ms)
        want = gap_merge(batches, delay_ms + cfg.lateness_ms, gap_ms)
        del want[("zz", *batches[-2][0][3])]  # the flushing row's session stays open
        last = [_key(p) for p in panes if p["is_last"]]
        closed = [(k, ws, we) for k, ws, we, *_ in last]
        assert len(set(closed)) == len(closed) and set(closed) <= set(want), (i, cfg)
        if cfg.accumulation == ACCUMULATING:
            assert all(want[(k, ws, we)] == (n, total)
                       for k, ws, we, _, _, n, total, *_ in last), (i, cfg)
        if cfg.closing_behavior == CLOSING_FIRE_ALWAYS:
            assert set(closed) == set(want), (i, cfg)


def test_steps_resume_state_written_with_dict_cells():
    """State checkpointed before cells were stored positionally holds each
    cell as a dict of its fields; both steps resume it as the same cells."""
    rng = np.random.default_rng(14)

    def as_dicts(step):
        def run(key, rows, st):
            st.set("cells", [dict(zip(_CELL_FIELDS, c)) for c in st.value("cells", [])])
            return step(key, rows, st)
        return run

    for i in range(10):
        cfg = random_config(rng)
        delay_ms = int(rng.choice([0, 10, 60])) * S
        gap_ms = int(rng.choice([5, 20, 60])) * S
        for step, assign in (
            (partial(window_step, cfg=cfg, keys=["key"], ts_col="ts"), fixed(30 * S)),
            (partial(session_step, cfg=cfg, keys=["key"], ts_col="ts", gap_ms=gap_ms),
             lambda t: [(t, t + gap_ms)]),
        ):
            batches = random_stream(rng, assign, delay_ms)
            want = sorted(map(_key, simulate(step, batches, delay_ms + cfg.lateness_ms)), key=repr)
            got = sorted(map(_key, simulate(as_dicts(step), batches, delay_ms + cfg.lateness_ms)),
                         key=repr)
            assert got == want and want, (i, cfg)
