"""Trigger kernel: the Beam trigger grammar as per-key stateful DoFns.

This is the engine's one genuinely custom component (SURVEY.md §4.2, §7.2):
the reference implements it as ~1k LoC of runner machinery (historical
sdk/util/ReduceFnRunner.java + TriggerRunner.java + WatermarkHold.java +
PaneInfoTracker.java; triggers under sdk/transforms/windowing/:
AfterWatermark, AfterPane.elementCountAtLeast, AfterProcessingTime,
Repeatedly, AfterFirst, AfterAll — Dataflow VLDB 2015 §2.3-2.4).

Model implemented per (key, window):
- buffered accumulators (count + sum v1) ≡ SystemReduceFn state
- a trigger state machine deciding when panes fire
- PaneInfo synthesis: timing EARLY/ON_TIME/LATE, pane_index,
  is_first/is_last — absent natively in Spark
- accumulatingFiredPanes vs discardingFiredPanes
- allowed lateness: late data within the horizon fires LATE panes;
  beyond it state is garbage-collected and stragglers are dropped
  (identical to the reference's lateness contract)

One pane state machine, `fire_panes`, runs this lifecycle for one window
cell per step. Both window front-ends are per-key stateful DoFns on
`stateful_par_do` (streaming/state.py): one shuffle on the key, and the
key's open window cells live in one cell list in its state, each cell a
positional list in `_CELL_FIELDS` order. Each
micro-batch, a key's new rows become proto-cells that merge into the open
cells, and `fire_panes` runs on each cell with new elements or a due
wake-up. The front-ends differ only where Beam's non-merging and merging
WindowFns differ:
- `triggered_window_aggregate` (fixed and sliding windows): a row's
  window comes from `F.window`, and a proto-cell joins the open cell of
  the same window;
- `triggered_session_aggregate` (merging windows): each element is a
  proto-session [ts, ts + gap), and overlapping sessions merge.
Event-time timers fire when the watermark passes window end (on-time
pane) and window end + lateness (cleanup). Scale: state rows are keys
with open cells, and each cell is bounded by lateness GC — the same
bound Windmill enforces; swap the state store to RocksDB for large key
spaces (session.py note).

Semantic deviations (documented, SURVEY.md §7.2):
- processing-time triggers evaluate at micro-batch boundaries, not
  arbitrary wall-clock instants (Spark has no per-key processing timers in
  applyInPandasWithState with event-time timeouts active).
- the on-time pane needs a watermark advance past window end, which in a
  file-replay world means one more batch must arrive (Spark watermarks
  advance per batch).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from functools import partial
from time import time as _now
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataflowjavasdk_spark.streaming.core import duration_ms
from dataflowjavasdk_spark.streaming.state import KeyedState, stateful_par_do

# --------------------------------------------------------------------------
# Trigger grammar (static config objects; per-window dynamic state is a
# JSON dict living inside the window's cell, keyed by the trigger's tree path)
# --------------------------------------------------------------------------


class Trigger:
    """Sub-trigger protocol: mutate dynamic state on elements, answer
    should_fire, reset on fire."""

    def on_elements(self, dyn: dict, path: str, n_new: int, now_ms: int) -> None:
        pass

    def should_fire(self, dyn: dict, path: str, now_ms: int) -> bool:
        raise NotImplementedError

    def on_fire(self, dyn: dict, path: str) -> None:
        pass


@dataclass(frozen=True)
class AfterCount(Trigger):
    """AfterPane.elementCountAtLeast(n) (historical
    sdk/transforms/windowing/AfterPane.java)."""

    n: int

    def on_elements(self, dyn, path, n_new, now_ms):
        dyn[path + ".c"] = dyn.get(path + ".c", 0) + n_new

    def should_fire(self, dyn, path, now_ms):
        return dyn.get(path + ".c", 0) >= self.n

    def on_fire(self, dyn, path):
        dyn[path + ".c"] = 0


@dataclass(frozen=True)
class AfterProcessingTime(Trigger):
    """AfterProcessingTime.pastFirstElementInPane().plusDelayOf(delay_ms)
    (historical sdk/transforms/windowing/AfterProcessingTime.java).
    Evaluated at micro-batch boundaries (see module deviation note)."""

    delay_ms: int

    def on_elements(self, dyn, path, n_new, now_ms):
        dyn.setdefault(path + ".first", now_ms)

    def should_fire(self, dyn, path, now_ms):
        first = dyn.get(path + ".first")
        return first is not None and now_ms >= first + self.delay_ms

    def on_fire(self, dyn, path):
        dyn.pop(path + ".first", None)


@dataclass(frozen=True)
class Repeatedly(Trigger):
    """Repeatedly.forever(t): re-arms its sub-trigger after every fire."""

    trigger: Trigger

    def on_elements(self, dyn, path, n_new, now_ms):
        self.trigger.on_elements(dyn, path + ".r", n_new, now_ms)

    def should_fire(self, dyn, path, now_ms):
        return self.trigger.should_fire(dyn, path + ".r", now_ms)

    def on_fire(self, dyn, path):
        self.trigger.on_fire(dyn, path + ".r")


@dataclass(frozen=True)
class AfterFirst(Trigger):
    """AfterFirst.of(a, b, ...): fires when ANY sub-trigger would."""

    triggers: tuple[Trigger, ...]

    def on_elements(self, dyn, path, n_new, now_ms):
        for i, t in enumerate(self.triggers):
            t.on_elements(dyn, f"{path}.f{i}", n_new, now_ms)

    def should_fire(self, dyn, path, now_ms):
        return any(
            t.should_fire(dyn, f"{path}.f{i}", now_ms)
            for i, t in enumerate(self.triggers)
        )

    def on_fire(self, dyn, path):
        for i, t in enumerate(self.triggers):
            t.on_fire(dyn, f"{path}.f{i}")


@dataclass(frozen=True)
class AfterAll(Trigger):
    """AfterAll.of(a, b, ...): fires when EVERY sub-trigger would."""

    triggers: tuple[Trigger, ...]

    def on_elements(self, dyn, path, n_new, now_ms):
        for i, t in enumerate(self.triggers):
            t.on_elements(dyn, f"{path}.a{i}", n_new, now_ms)

    def should_fire(self, dyn, path, now_ms):
        return all(
            t.should_fire(dyn, f"{path}.a{i}", now_ms)
            for i, t in enumerate(self.triggers)
        )

    def on_fire(self, dyn, path):
        for i, t in enumerate(self.triggers):
            t.on_fire(dyn, f"{path}.a{i}")


@dataclass(frozen=True)
class Never(Trigger):
    """Never.ever() (historical sdk/transforms/windowing/Never.java): a
    trigger that never fires — as OrFinally's main it means "only the
    until-condition ever emits"."""

    def should_fire(self, dyn, path, now_ms):
        return False


@dataclass(frozen=True)
class AfterEach(Trigger):
    """AfterEach.inOrder(t1, t2, ...) (historical
    sdk/transforms/windowing/AfterEach.java): runs sub-triggers in
    sequence — the active one fires, finishes, and hands over to the next;
    after the last finishes the trigger is done. (A sub-trigger here
    finishes on its first fire, Beam's semantics for non-repeated
    sub-triggers.)"""

    triggers: tuple[Trigger, ...]

    def _i(self, dyn, path) -> int:
        return dyn.get(path + ".i", 0)

    def on_elements(self, dyn, path, n_new, now_ms):
        i = self._i(dyn, path)
        if i < len(self.triggers):
            self.triggers[i].on_elements(dyn, f"{path}.e{i}", n_new, now_ms)

    def should_fire(self, dyn, path, now_ms):
        i = self._i(dyn, path)
        return i < len(self.triggers) and self.triggers[i].should_fire(
            dyn, f"{path}.e{i}", now_ms
        )

    def on_fire(self, dyn, path):
        i = self._i(dyn, path)
        if i < len(self.triggers):
            self.triggers[i].on_fire(dyn, f"{path}.e{i}")
            dyn[path + ".i"] = i + 1


@dataclass(frozen=True)
class OrFinally(Trigger):
    """t.orFinally(until) (historical OrFinallyTrigger in
    sdk/transforms/windowing/Trigger.java): behaves as `main` until
    `until` fires once, which finishes the trigger permanently. The
    kernel calls should_fire exactly once before on_fire, so the
    until-branch decision is stashed in dynamic state between the two."""

    main: Trigger
    until: Trigger

    def on_elements(self, dyn, path, n_new, now_ms):
        if dyn.get(path + ".done"):
            return
        self.main.on_elements(dyn, f"{path}.m", n_new, now_ms)
        self.until.on_elements(dyn, f"{path}.u", n_new, now_ms)

    def should_fire(self, dyn, path, now_ms):
        if dyn.get(path + ".done"):
            return False
        u = self.until.should_fire(dyn, f"{path}.u", now_ms)
        dyn[path + ".upending"] = u
        return u or self.main.should_fire(dyn, f"{path}.m", now_ms)

    def on_fire(self, dyn, path):
        self.main.on_fire(dyn, f"{path}.m")
        if dyn.pop(path + ".upending", False):
            dyn[path + ".done"] = True


@dataclass(frozen=True)
class AfterWatermark(Trigger):
    """AfterWatermark.pastEndOfWindow().withEarlyFirings(e).withLateFirings(l)
    — the root trigger (historical sdk/transforms/windowing/
    AfterWatermark.java). The kernel itself handles the watermark
    crossing; `early`/`late` govern speculative and refinement panes."""

    early: Trigger | None = None
    late: Trigger | None = None


ACCUMULATING = "accumulating"
DISCARDING = "discarding"

# OutputTimeFn policies (historical sdk/transforms/windowing/OutputTimeFn.java)
OUTPUT_END_OF_WINDOW = "end_of_window"
OUTPUT_EARLIEST = "earliest"
OUTPUT_LATEST = "latest"

# ClosingBehavior (historical sdk/transforms/windowing/Window.java
# ClosingBehavior.FIRE_IF_NON_EMPTY / FIRE_ALWAYS): whether the window's
# final pane at the lateness horizon fires even when nothing new arrived
# since the last firing. FIRE_ALWAYS guarantees every window emits a pane
# carrying is_last=True — downstream consumers can treat it as the
# window-closed signal.
CLOSING_FIRE_IF_NON_EMPTY = "fire_if_non_empty"
CLOSING_FIRE_ALWAYS = "fire_always"


@dataclass(frozen=True)
class PaneConfig:
    """The static half of the pane lifecycle: the transform's trigger,
    accumulation mode, allowed lateness, OutputTimeFn and ClosingBehavior."""

    trigger: AfterWatermark
    accumulation: str = ACCUMULATING
    lateness_ms: int = 0
    output_time: str | None = None
    closing_behavior: str = CLOSING_FIRE_IF_NON_EMPTY


class Fired(NamedTuple):
    """What one step of a window's pane lifecycle produced."""

    panes: list[dict]  # pane columns: n, total, pane_index, ... [, emit_ts]
    cell: dict | None  # the advanced cell; None once the window is GC'd
    timeout_ms: int | None  # next wake-up on Spark's (delayed) watermark clock


# A cell's fields in the order a key's state stores them: each open cell
# is one positional list there, not a dict that spells out every name.
_CELL_FIELDS = ("start", "end", "acc_n", "acc_sum", "pane_n", "pane_sum", "pane_idx",
                "on_time_fired", "dyn", "acc_min", "acc_max", "pane_min", "pane_max")


def new_cell(start_ms: int, end_ms: int, n: int = 0, total: float = 0.0,
             lo: int = -1, hi: int = -1) -> dict:
    """A window cell [start_ms, end_ms) holding `n` unfired elements that
    sum to `total`, with input timestamps in [lo, hi] (-1 = unset).

    The cell is the per-window state of the pane lifecycle: accumulated
    (acc_*) and current-pane (pane_*) count, sum and min/max input
    timestamp, the next pane index, whether the ON_TIME pane fired, and
    the trigger's dynamic state `dyn`."""
    return dict(
        start=start_ms, end=end_ms, acc_n=n, acc_sum=total, pane_n=n,
        pane_sum=total, pane_idx=0, on_time_fired=False, dyn={},
        acc_min=lo, acc_max=hi, pane_min=lo, pane_max=hi,
    )


def merge_cells(m: dict, s: dict) -> None:
    """Fold cell `s` into `m` in place — Beam's onMerge: the window spans
    both, counts and sums add, the pane index continues from the max, the
    ON_TIME pane stays fired if either part fired, min/max input
    timestamps merge, and trigger counters add. Folding a batch of new
    elements into a window's cell is the same merge."""
    m["end"] = max(m["end"], s["end"])
    for k in ("acc_n", "acc_sum", "pane_n", "pane_sum"):
        m[k] += s[k]
    m["pane_idx"] = max(m["pane_idx"], s["pane_idx"])
    m["on_time_fired"] = m["on_time_fired"] or s["on_time_fired"]
    for k in ("acc_min", "pane_min"):
        a, b = m[k], s[k]
        m[k] = b if a < 0 else (a if b < 0 else min(a, b))
    for k in ("acc_max", "pane_max"):
        m[k] = max(m[k], s[k])
    for dk, dv in s["dyn"].items():
        if isinstance(dv, (int, float)):
            m["dyn"][dk] = m["dyn"].get(dk, 0) + dv
        else:
            m["dyn"].setdefault(dk, dv)


def fire_panes(cell: dict, new_n: int, watermark_ms: int, now_ms: int,
               cfg: PaneConfig) -> Fired:
    """One step of a window's pane lifecycle — the ReduceFnRunner,
    TriggerRunner and PaneInfoTracker of one window, shared by every
    window front-end.

    `cell` (see `new_cell`) already holds the step's elements, `new_n` of
    which arrived in this step; `watermark_ms` is the Beam-true watermark.
    Before the window's end, the early trigger may fire an EARLY pane.
    Once the watermark passes the end, the ON_TIME pane fires; later data
    within the allowed lateness fires LATE panes through the late trigger.
    At end + lateness the window closes: a final pane fires under
    FIRE_ALWAYS, or under FIRE_IF_NON_EMPTY when the pane holds data no
    earlier firing emitted, and the cell is garbage-collected. The input
    cell is left unchanged."""
    cell = dict(cell, dyn=dict(cell["dyn"]))
    trig, lateness, end = cfg.trigger, cfg.lateness_ms, cell["end"]
    shown = "acc_" if cfg.accumulation == ACCUMULATING else "pane_"
    panes: list[dict] = []

    def emit(timing: str, is_last: bool) -> None:
        idx = cell["pane_idx"]
        pane = dict(
            n=cell[shown + "n"], total=cell[shown + "sum"], pane_index=idx,
            pane_timing=timing, is_first=idx == 0, is_last=is_last,
        )
        if cfg.output_time is not None:
            # END_OF_WINDOW is Beam's maxTimestamp (end − 1 ms); EARLIEST /
            # LATEST span the shown pane's contents.
            if cfg.output_time == OUTPUT_END_OF_WINDOW:
                ms = end - 1
            else:
                ms = cell[shown + ("min" if cfg.output_time == OUTPUT_EARLIEST else "max")]
            pane["emit_ts"] = pd.Timestamp(ms, unit="ms") if ms >= 0 else pd.NaT
        panes.append(pane)
        cell.update(pane_idx=idx + 1, pane_n=0, pane_sum=0.0, pane_min=-1, pane_max=-1)

    def ready(sub: Trigger, path: str) -> bool:
        sub.on_elements(cell["dyn"], path, new_n, now_ms)
        if not sub.should_fire(cell["dyn"], path, now_ms):
            return False
        sub.on_fire(cell["dyn"], path)
        return True

    if watermark_ms < end:
        if trig.early is not None and new_n and ready(trig.early, "e"):
            emit("EARLY", is_last=False)
    else:
        final = watermark_ms >= end + lateness
        if not cell["on_time_fired"]:
            emit("ON_TIME", is_last=final)
            cell["on_time_fired"] = True
        elif new_n and (trig.late is None or ready(trig.late, "l")):
            emit("LATE", is_last=final)
        if final:
            # unless this step's ON_TIME/LATE pane already carried is_last
            if not panes and (
                cfg.closing_behavior == CLOSING_FIRE_ALWAYS or cell["pane_n"]
            ):
                # The closing pane. FIRE_ALWAYS: the guaranteed is_last
                # window-closed signal, empty under DISCARDING. Default
                # FIRE_IF_NON_EMPTY: e.g. a late element buffered by an
                # unready late trigger — Beam fires the final pane whenever
                # there is new data since the last firing.
                emit("LATE", is_last=True)
            return Fired(panes, None, None)
    return Fired(panes, cell, _wake_ms(cell, lateness))


def _wake_ms(cell: dict, lateness_ms: int) -> int:
    """When a cell with no new elements next has something to do. Wake
    when the true watermark passes the window end, then at the GC horizon
    end + lateness; on Spark's clock (true − lateness) those are
    end − lateness and end. For a cell `fire_panes` just advanced, both
    are past Spark's current watermark."""
    return cell["end"] if cell["on_time_fired"] else cell["end"] - lateness_ms


def _pane_setup(df: DataFrame, keys: list[str], trigger: AfterWatermark, accumulation: str,
                allowed_lateness: str, watermark_delay: str, output_time: str | None,
                closing_behavior: str):
    """The prologue both kernels share: validate the options and return the
    output schema, the pane config and the watermark delay to declare to
    Spark."""
    if output_time not in (None, OUTPUT_END_OF_WINDOW, OUTPUT_EARLIEST, OUTPUT_LATEST):
        raise ValueError(f"unknown output_time {output_time!r}")
    if closing_behavior not in (CLOSING_FIRE_IF_NON_EMPTY, CLOSING_FIRE_ALWAYS):
        raise ValueError(f"unknown closing_behavior {closing_behavior!r}")
    key_fields = ", ".join(f"{k} {dict(df.dtypes)[k]}" for k in keys)
    out_schema = (
        f"{key_fields}, window_start timestamp, window_end timestamp, "
        "n long, total double, pane_index long, pane_timing string, "
        "is_first boolean, is_last boolean"
    ) + (", emit_ts timestamp" if output_time is not None else "")
    lateness_ms = duration_ms(allowed_lateness)
    # Spark's stateful operator drops input rows behind ITS watermark, but
    # Beam accepts data up to `allowed_lateness` behind the true watermark.
    # Reconciliation: declare watermark_delay + lateness to Spark, so
    #   spark_wm = true_wm - lateness.
    # Rows later than lateness are then dropped by Spark itself (exactly
    # Beam's drop rule); the kernels convert back via
    #   true_wm = spark_wm + lateness
    # for all pane timing decisions.
    spark_delay = f"{duration_ms(watermark_delay) + lateness_ms} milliseconds"
    cfg = PaneConfig(trigger, accumulation, lateness_ms, output_time, closing_behavior)
    return out_schema, cfg, spark_delay


def _epoch_ms(col: pd.Series) -> np.ndarray:
    """A timestamp column as integer epoch milliseconds."""
    return col.to_numpy().astype("datetime64[ms]").astype(np.int64)


def _same_window(m: dict, c: dict) -> bool:
    return (m["start"], m["end"]) == (c["start"], c["end"])


def _overlaps(m: dict, c: dict) -> bool:
    return c["start"] < m["end"]


def _advance(key: tuple, protos: list[dict], state: KeyedState, cfg: PaneConfig,
             keys: list[str], merges: Callable[[dict, dict], bool]) -> pd.DataFrame | None:
    """One key's step, shared by both kernels: Beam's ReduceFnRunner over
    the key's open windows, kept as one cell list in `state`.

    The batch's proto-cells (each holding only new elements) join the open
    cells in (start, end) order, and a cell folds into the one before it
    wherever `merges(before, cell)` holds. A cell with new elements, or
    whose wake-up is due (strictly below Spark's watermark, the stateful
    operator's timeout rule), runs `fire_panes`; any other cell has
    nothing to do and is kept as is. The surviving cells stay in state
    and the key's timer is the earliest of their wake-ups."""
    spark_wm = state.watermark_ms
    watermark_ms = spark_wm + cfg.lateness_ms  # Beam-true
    now_ms = int(_now() * 1000)
    # a checkpoint written before the positional layout holds dict cells
    cells = [(c if isinstance(c, dict) else dict(zip(_CELL_FIELDS, c)), 0)
             for c in state.value("cells", [])]
    cells += [(p, p["acc_n"]) for p in protos]
    cells.sort(key=lambda cn: (cn[0]["start"], cn[0]["end"]))
    merged: list[list] = []  # [cell, new elements in it]
    for c, n in cells:
        if merged and merges(merged[-1][0], c):
            merge_cells(merged[-1][0], c)
            merged[-1][1] += n
        else:
            merged.append([c, n])

    out: list[dict] = []
    keep: list[dict] = []
    for c, n in merged:
        if n or _wake_ms(c, cfg.lateness_ms) < spark_wm:
            fired = fire_panes(c, n, watermark_ms, now_ms, cfg)
            head = dict(zip(keys, key), window_start=pd.Timestamp(c["start"], unit="ms"),
                        window_end=pd.Timestamp(c["end"], unit="ms"))
            out += [{**head, **p} for p in fired.panes]
            c = fired.cell
        if c is not None:  # still open, or refinable within lateness
            keep.append(c)

    if keep:
        state.set("cells", [[c[f] for f in _CELL_FIELDS] for c in keep])
        state.set_timer(min(_wake_ms(c, cfg.lateness_ms) for c in keep))
    else:
        state.clear_all()
    return pd.DataFrame(out) if out else None


def window_step(key: tuple, rows: pd.DataFrame, state: KeyedState, *, cfg: PaneConfig,
                keys: list[str], ts_col: str) -> pd.DataFrame | None:
    """`triggered_window_aggregate`'s per-key step. Each row carries its
    window (one row per window under sliding assignment); the new rows of
    one window form one proto-cell, which joins that window's open cell."""
    protos = []
    if len(rows):
        start, end, ts = (_epoch_ms(rows[c]) for c in ("window_start", "window_end", ts_col))
        v = rows["__v__"].to_numpy(dtype="float64")
        order = np.argsort(start, kind="stable")
        for w in np.split(order, np.flatnonzero(np.diff(start[order])) + 1):
            protos.append(new_cell(int(start[w[0]]), int(end[w[0]]), len(w), float(v[w].sum()),
                                   int(ts[w].min()), int(ts[w].max())))
    return _advance(key, protos, state, cfg, keys, _same_window)


def session_step(key: tuple, rows: pd.DataFrame, state: KeyedState, *, cfg: PaneConfig,
                 keys: list[str], ts_col: str, gap_ms: int) -> pd.DataFrame | None:
    """`triggered_session_aggregate`'s per-key step. Each new element is a
    proto-session [ts, ts + gap), and overlapping sessions merge (Beam's
    Sessions, a merging WindowFn)."""
    protos = []
    if len(rows):
        ts = _epoch_ms(rows[ts_col]).tolist()
        v = rows["__v__"].to_numpy(dtype="float64").tolist()
        protos = [new_cell(t, t + gap_ms, 1, x, t, t) for t, x in zip(ts, v)]
    return _advance(key, protos, state, cfg, keys, _overlaps)


def triggered_window_aggregate(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    window_size: str,
    trigger: AfterWatermark,
    accumulation: str = ACCUMULATING,
    allowed_lateness: str = "0 seconds",
    ts_col: str = "ts",
    watermark_delay: str = "0 seconds",
    output_time: str | None = None,
    closing_behavior: str = CLOSING_FIRE_IF_NON_EMPTY,
    window_period: str | None = None,
) -> DataFrame:
    """Count+sum per (key, fixed window) under the full trigger grammar.

    Output: keys..., window_start, window_end, n, total, pane_index,
    pane_timing (EARLY|ON_TIME|LATE), is_first, is_last
    [, emit_ts when `output_time` is set].

    `window_period` switches assignment from FixedWindows to
    SlidingWindows.of(window_size).every(window_period): each element
    lands in size/period overlapping windows and every (key, window)
    runs the full trigger/pane lifecycle independently.

    `output_time` (end_of_window | earliest | latest) adds the pane's
    emitted event-time timestamp: END_OF_WINDOW = window end − 1 ms
    (Beam's maxTimestamp), EARLIEST/LATEST = min/max input timestamp of
    the pane's contents (all accumulated elements under ACCUMULATING,
    only the new ones under DISCARDING) — the reference's
    OutputTimeFn.outputAtEarliest/LatestInputTimestamp.

    Scale: one shuffle on the key; the key's state holds one cell per
    open window, and a window's cell is dropped at end + lateness.
    """
    out_schema, cfg, spark_delay = _pane_setup(
        df, keys, trigger, accumulation, allowed_lateness, watermark_delay,
        output_time, closing_behavior,
    )
    # Window assignment: fixed (default) or sliding when window_period is
    # given (SlidingWindows.of(size).every(period)). Sliding uses Spark's
    # native multi-assign, a map-side Expand pipelined before the shuffle;
    # each of the key's windows then owns its own cell, exactly Beam's
    # per-window pane semantics over overlapping windows.
    window_expr = (
        F.window(ts_col, window_size)
        if window_period is None
        else F.window(ts_col, window_size, window_period)
    )
    windowed = df.withColumn("__w__", window_expr).select(
        *keys,
        F.col("__w__.start").alias("window_start"),
        F.col("__w__.end").alias("window_end"),
        F.col(value_col).alias("__v__"),
        F.col(ts_col),
    )
    step = partial(window_step, cfg=cfg, keys=keys, ts_col=ts_col)
    return stateful_par_do(windowed, keys, step, out_schema, ts_col, spark_delay)


def triggered_session_aggregate(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    gap: str,
    trigger: AfterWatermark,
    accumulation: str = ACCUMULATING,
    allowed_lateness: str = "0 seconds",
    ts_col: str = "ts",
    watermark_delay: str = "0 seconds",
    output_time: str | None = None,
    closing_behavior: str = CLOSING_FIRE_IF_NON_EMPTY,
) -> DataFrame:
    """The trigger grammar over MERGING session windows — the streaming
    ReduceFnRunner for Sessions (historical sdk/util/ReduceFnRunner.java +
    Sessions.java): per-key state holds the open session set; each element
    is a proto-session [ts, ts + gap) merged into it (merging windows merge
    their accumulators AND their trigger state — Beam's onMerge contract);
    the watermark closes sessions (ON_TIME), late data within
    allowed_lateness refines (LATE) or opens new sessions that may re-merge.

    This is the piece native Structured Streaming cannot express:
    session_window supports only watermark-close (append) semantics, while
    this kernel runs early/late firings, accumulation modes, and PaneInfo
    over merging windows. Output: keys..., window_start, window_end, n,
    total, pane_index, pane_timing, is_first, is_last.

    Scale: state per key = open sessions only (each a few scalars), the
    same bound as Spark's native MergingSessions and Windmill's per-key
    window state; one shuffle on the key.

    `output_time` (end_of_window | earliest | latest) adds an emit_ts
    column per pane; for merging windows END_OF_WINDOW tracks the
    session's CURRENT end (end − 1 ms) at firing time, and
    EARLIEST/LATEST merge across fused sessions (onMerge takes min/max).
    """
    out_schema, cfg, spark_delay = _pane_setup(
        df, keys, trigger, accumulation, allowed_lateness, watermark_delay,
        output_time, closing_behavior,
    )
    step = partial(session_step, cfg=cfg, keys=keys, ts_col=ts_col, gap_ms=duration_ms(gap))
    return stateful_par_do(
        df.select(*keys, F.col(value_col).alias("__v__"), F.col(ts_col)),
        keys, step, out_schema, ts_col, spark_delay,
    )
