"""Spark-free table tests of the pane lifecycle (`triggers.fire_panes`), in
the style of the reference's ReduceFnTester (historical
tests/util/ReduceFnTester.java): one window cell is driven by element
arrivals and watermark steps, and each step's panes are asserted. Both
trigger kernels run this function, so these cases pin their shared
EARLY / ON_TIME / LATE / closing semantics without starting a stream."""

from __future__ import annotations

import copy

import pandas as pd
import pytest

from dataflowjavasdk_spark.streaming.triggers import (
    ACCUMULATING,
    CLOSING_FIRE_ALWAYS,
    CLOSING_FIRE_IF_NON_EMPTY,
    DISCARDING,
    OUTPUT_EARLIEST,
    OUTPUT_END_OF_WINDOW,
    OUTPUT_LATEST,
    AfterCount,
    AfterWatermark,
    PaneConfig,
    fire_panes,
    merge_cells,
    new_cell,
)

S = 1000  # ms per second
END = 60 * S  # the window under test is [0 s, 60 s)


class WindowTester:
    """One window's cell, advanced step by step. `step(wm, *elements)`
    folds the elements (ts_ms, value) into the cell, runs the pane
    lifecycle at Beam-true watermark `wm` and returns the step's panes as
    (timing, index, n, total, is_first, is_last)."""

    def __init__(self, cfg: PaneConfig):
        self.cfg = cfg
        self.cell: dict | None = new_cell(0, END)
        self.timeout_ms: int | None = None
        self.panes: list[dict] = []

    def step(self, wm: int, *elements: tuple[int, float]) -> list[tuple]:
        assert self.cell is not None, "window already garbage-collected"
        ts = [t for t, _ in elements]
        merge_cells(self.cell, new_cell(
            0, END, len(elements), float(sum(v for _, v in elements)),
            min(ts, default=-1), max(ts, default=-1),
        ))
        before = copy.deepcopy(self.cell)
        fired = fire_panes(self.cell, len(elements), wm, 0, self.cfg)
        assert self.cell == before  # the step leaves its input cell alone
        self.cell, self.timeout_ms, self.panes = fired.cell, fired.timeout_ms, fired.panes
        if fired.cell is not None:
            # a surviving cell always wakes past Spark's current watermark
            assert fired.timeout_ms > wm - self.cfg.lateness_ms
        return [
            (p["pane_timing"], p["pane_index"], p["n"], p["total"], p["is_first"], p["is_last"])
            for p in fired.panes
        ]


@pytest.mark.parametrize(
    "accumulation, on_time",
    [
        (ACCUMULATING, ("ON_TIME", 1, 4, 10.0, False, True)),
        (DISCARDING, ("ON_TIME", 1, 1, 4.0, False, True)),
    ],
)
def test_early_count_pane_then_on_time(accumulation, on_time):
    t = WindowTester(PaneConfig(AfterWatermark(early=AfterCount(2)), accumulation))
    assert t.step(0, (10 * S, 1), (20 * S, 2), (30 * S, 3)) == [
        ("EARLY", 0, 3, 6.0, True, False)
    ]
    assert t.step(0, (40 * S, 4)) == []  # the re-armed count is 1 < 2
    # the watermark reaches the window end; with no lateness the ON_TIME
    # pane is also the last one and the cell is collected
    assert t.step(END) == [on_time]
    assert t.cell is None


def test_late_pane_within_lateness():
    t = WindowTester(PaneConfig(AfterWatermark(), lateness_ms=600 * S))
    assert t.step(0, (10 * S, 1)) == []
    assert t.step(120 * S) == [("ON_TIME", 0, 1, 1.0, True, False)]
    # late element for [0, 60) while the watermark (120 s) is still
    # before the horizon (60 s + 600 s): a LATE refinement
    assert t.step(120 * S, (30 * S, 5)) == [("LATE", 1, 2, 6.0, False, False)]
    # the horizon passes with nothing new: no pane, state collected
    assert t.step(660 * S) == []
    assert t.cell is None


@pytest.mark.parametrize("closing", [CLOSING_FIRE_IF_NON_EMPTY, CLOSING_FIRE_ALWAYS])
def test_closing_pane_flushes_buffered_late_element(closing):
    cfg = PaneConfig(AfterWatermark(late=AfterCount(2)), lateness_ms=60 * S,
                     closing_behavior=closing)
    t = WindowTester(cfg)
    assert t.step(100 * S, (10 * S, 1)) == [("ON_TIME", 0, 1, 1.0, True, False)]
    assert t.step(100 * S, (45 * S, 5)) == []  # buffered: AfterCount(2) unmet
    # the horizon (120 s) passes: the pane is non-empty, so both closing
    # behaviours fire it
    assert t.step(500 * S) == [("LATE", 1, 2, 6.0, False, True)]
    assert t.cell is None


@pytest.mark.parametrize(
    "closing, accumulation, last",
    [
        (CLOSING_FIRE_IF_NON_EMPTY, ACCUMULATING, []),
        (CLOSING_FIRE_ALWAYS, ACCUMULATING, [("LATE", 1, 1, 1.0, False, True)]),
        (CLOSING_FIRE_ALWAYS, DISCARDING, [("LATE", 1, 0, 0.0, False, True)]),
    ],
)
def test_closing_pane_with_nothing_buffered(closing, accumulation, last):
    cfg = PaneConfig(AfterWatermark(late=AfterCount(2)), accumulation,
                     lateness_ms=60 * S, closing_behavior=closing)
    t = WindowTester(cfg)
    assert t.step(100 * S, (10 * S, 1)) == [("ON_TIME", 0, 1, 1.0, True, False)]
    assert t.step(500 * S) == last
    assert t.cell is None


@pytest.mark.parametrize(
    "output_time, accumulation, early_ms, on_time_ms",
    [
        (OUTPUT_END_OF_WINDOW, ACCUMULATING, END - 1, END - 1),
        (OUTPUT_EARLIEST, ACCUMULATING, 10 * S, 10 * S),
        (OUTPUT_LATEST, ACCUMULATING, 30 * S, 50 * S),
        # DISCARDING: the ON_TIME pane holds only the element at 50 s
        (OUTPUT_EARLIEST, DISCARDING, 10 * S, 50 * S),
        (OUTPUT_LATEST, DISCARDING, 30 * S, 50 * S),
    ],
)
def test_output_time_policies(output_time, accumulation, early_ms, on_time_ms):
    cfg = PaneConfig(AfterWatermark(early=AfterCount(2)), accumulation,
                     output_time=output_time)
    t = WindowTester(cfg)
    t.step(0, (10 * S, 1), (30 * S, 2))
    assert [p["emit_ts"] for p in t.panes] == [pd.Timestamp(early_ms, unit="ms")]
    t.step(END, (50 * S, 4))
    assert [p["emit_ts"] for p in t.panes] == [pd.Timestamp(on_time_ms, unit="ms")]


def test_output_time_of_an_empty_discarding_pane_is_null():
    cfg = PaneConfig(AfterWatermark(early=AfterCount(1)), DISCARDING,
                     output_time=OUTPUT_EARLIEST)
    t = WindowTester(cfg)
    t.step(0, (10 * S, 1))
    assert t.step(END) == [("ON_TIME", 1, 0, 0.0, False, True)]
    assert pd.isna(t.panes[0]["emit_ts"])


def test_no_emit_ts_column_without_output_time():
    t = WindowTester(PaneConfig(AfterWatermark()))
    t.step(0, (10 * S, 1))
    t.step(END)
    assert "emit_ts" not in t.panes[0]


def test_gc_at_end_plus_lateness_and_timeout_targets():
    lateness = 120 * S
    t = WindowTester(PaneConfig(AfterWatermark(), lateness_ms=lateness))
    # Spark's clock runs `lateness` behind the Beam-true watermark: the
    # ON_TIME wake-up (true wm = end) is at end - lateness there ...
    assert t.step(0, (10 * S, 1)) == []
    assert t.timeout_ms == END - lateness
    assert t.step(END - 1) == []  # one ms before the end: still open
    assert t.timeout_ms == END - lateness
    assert t.step(70 * S) == [("ON_TIME", 0, 1, 1.0, True, False)]
    # ... and the GC wake-up (true wm = end + lateness) is at end
    assert t.timeout_ms == END
    assert t.step(END + lateness - 1) == []  # one ms before the horizon
    assert t.cell is not None and t.timeout_ms == END
    assert t.step(END + lateness) == []  # horizon: collected, no pane
    assert t.cell is None and t.timeout_ms is None


def test_on_time_at_the_horizon_is_also_the_last_pane():
    # a watermark jump straight past end + lateness fires ON_TIME with
    # is_last and collects the cell in the same step
    t = WindowTester(PaneConfig(AfterWatermark(), lateness_ms=60 * S))
    t.step(0, (10 * S, 1))
    assert t.step(500 * S) == [("ON_TIME", 0, 1, 1.0, True, True)]
    assert t.cell is None


def test_merge_cells_is_beam_on_merge():
    a = new_cell(0, 70 * S, 2, 3.0, 0, 10 * S)
    a.update(pane_idx=1, pane_n=0, pane_sum=0.0, pane_min=-1, pane_max=-1,
             dyn={"e.c": 1})
    b = new_cell(61 * S, 180 * S, 1, 8.0, 61 * S, 61 * S)
    b["dyn"] = {"e.c": 2}
    merge_cells(a, b)
    assert (a["start"], a["end"]) == (0, 180 * S)
    assert (a["acc_n"], a["acc_sum"], a["pane_n"], a["pane_sum"]) == (3, 11.0, 1, 8.0)
    assert (a["acc_min"], a["acc_max"]) == (0, 61 * S)
    assert (a["pane_min"], a["pane_max"]) == (61 * S, 61 * S)
    assert a["pane_idx"] == 1 and a["dyn"] == {"e.c": 3}
