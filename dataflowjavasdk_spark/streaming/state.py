"""Beam-shaped per-key state for streaming ParDo (SURVEY.md §2.9).

The reference's stateful DoFn surface — `@StateId` ValueState / BagState /
CombiningState, `@TimerId` event-time timers, scoped per key — recreated on
Structured Streaming's stateful operator (`applyInPandasWithState`, the
GroupState kernel): all named state cells serialize into one JSON state
blob, and the single event-time timer maps to EventTimeTimeout. The
handle also shows the key's input watermark (`watermark_ms`), which
event-time logic needs to tell on-time data from late.

This is the engine's one call of the stateful operator: both trigger
kernels (streaming/triggers.py) are per-key DoFns run by
`stateful_par_do`, holding each key's open window cells in one value.

Usage (the Beam idiom, vectorized):

    def fn(key, rows_df, state):           # rows_df: pandas batch for key
        seen = state.value("count", 0)
        state.set("count", seen + len(rows_df))
        state.bag_add("recent", rows_df["event_id"].tolist())
        if state.timer_fired:
            out = ...; state.clear_all()
            return out                      # pandas DataFrame to emit
        state.set_timer(window_end_ms)
        return None                         # nothing emitted this bundle

    stateful_par_do(df, keys=["user_id"], fn=fn, output_schema="...",
                    ts_col="ts", watermark_delay="0 seconds")
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame


class KeyedState:
    """The DoFn-visible state handle: named cells + one event-time timer.

    value/set → ValueState; bag/bag_add → BagState (append-only list);
    set_timer/timer_fired → a single event-time @TimerId (Beam allows many;
    one per key covers the window/GC patterns — register the earliest);
    watermark_ms → the input watermark (epoch ms) the step runs at: rows
    at or behind it were dropped before the step."""

    def __init__(self, cells: dict, timer_fired: bool, watermark_ms: int):
        self._cells = cells
        self.timer_fired = timer_fired
        self._watermark_ms = watermark_ms
        self._timer_ms: int | None = None
        self.removed = False

    @property
    def watermark_ms(self) -> int:
        return self._watermark_ms

    def value(self, name: str, default=None):
        return self._cells.get("v:" + name, default)

    def set(self, name: str, v) -> None:
        self._cells["v:" + name] = v

    def clear(self, name: str) -> None:
        self._cells.pop("v:" + name, None)

    def bag(self, name: str) -> list:
        return self._cells.get("b:" + name, [])

    def bag_add(self, name: str, items: list) -> None:
        self._cells["b:" + name] = self._cells.get("b:" + name, []) + list(items)

    def set_timer(self, event_time_ms: int) -> None:
        self._timer_ms = event_time_ms

    def clear_all(self) -> None:
        self.removed = True


def stateful_par_do(
    df: DataFrame,
    keys: list[str],
    fn: Callable[[tuple, pd.DataFrame, KeyedState], pd.DataFrame | None],
    output_schema: str,
    ts_col: str = "ts",
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """ParDo with per-key state & event-time timer over a keyed stream.

    `fn(key_tuple, rows_pandas, state)` runs once per key per micro-batch
    (rows_pandas may be empty when only the timer fired) and returns rows
    to emit or None. State mutations persist across batches; `clear_all`
    drops the key's state (Beam's state GC)."""

    def process(key: tuple, pdfs: Iterator[pd.DataFrame], group_state) -> Iterator[pd.DataFrame]:
        cells = json.loads(group_state.get[0]) if group_state.exists else {}
        fired = group_state.hasTimedOut
        # Beam timers PERSIST until they fire or are overwritten, but
        # GroupState cancels its timeout on every invocation unless
        # re-set — so the pending expiry is carried in the state blob
        # (reserved "t:pending" slot, invisible to value()/bag()) and
        # re-armed here. Without this, a data batch arriving between
        # set_timer and expiry would silently cancel the timer.
        pending = cells.pop("t:pending", None)
        if fired:
            pending = None  # the timer is spent
        st = KeyedState(cells, fired, group_state.getCurrentWatermarkMs())
        batches = [p for p in pdfs if len(p)]
        rows = pd.concat(batches) if batches else pd.DataFrame()
        out = fn(key, rows, st)
        if st.removed:
            group_state.remove()
        else:
            timer = st._timer_ms if st._timer_ms is not None else pending
            if timer is not None:
                st._cells["t:pending"] = timer
            group_state.update((json.dumps(st._cells, separators=(",", ":")),))
            if timer is not None:
                group_state.setTimeoutTimestamp(max(timer, st.watermark_ms + 1))
        if out is not None and len(out):
            yield out

    return (
        df.withWatermark(ts_col, watermark_delay)
        .groupBy(*keys)
        .applyInPandasWithState(
            process,
            outputStructType=output_schema,
            stateStructType="cells string",
            outputMode="update",
            timeoutConf="EventTimeTimeout",
        )
    )
