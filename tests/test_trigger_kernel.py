"""Trigger-kernel semantics tests (the ReduceFnRunnerTest analog —
historical tests/util/ReduceFnRunnerTest.java + tests/transforms/windowing/
{AfterPaneTest,AfterWatermarkTest,TriggerTest}.java): early firings by
element count, on-time panes at the watermark, late panes within the
lateness horizon, accumulating vs discarding, PaneInfo sequencing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataflowjavasdk_spark.streaming import core as SC
from dataflowjavasdk_spark.streaming.triggers import (
    ACCUMULATING,
    CLOSING_FIRE_ALWAYS,
    DISCARDING,
    AfterCount,
    AfterWatermark,
    triggered_window_aggregate,
)

SCHEMA = "event_id long, ts timestamp, key string, value double"


def _batch(spark, specs):
    import datetime

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (eid, base + datetime.timedelta(seconds=sec), key, float(v))
        for (eid, sec, key, v) in specs
    ]
    return spark.createDataFrame(rows, SCHEMA)


@pytest.fixture()
def harness(spark):
    h = SC.MicroBatchHarness(spark, SCHEMA)
    yield h
    h.close()


def _build(trigger, accumulation, lateness="0 seconds"):
    def build(stream):
        return triggered_window_aggregate(
            stream,
            keys=["key"],
            value_col="value",
            window_size="60 seconds",
            trigger=trigger,
            accumulation=accumulation,
            allowed_lateness=lateness,
        )

    return build


def _panes(rows):
    return [
        (str(r["window_start"]), r["pane_timing"], r["pane_index"], r["n"], r["total"], r["is_first"], r["is_last"])
        for r in sorted(rows, key=lambda r: (r["window_start"], r["pane_index"]))
    ]


def test_early_firing_by_count_then_on_time_accumulating(spark, harness):
    trig = AfterWatermark(early=AfterCount(2))
    # 3 elements in window [0,60) — one batch → one EARLY pane (count≥2)
    harness.feed(_batch(spark, [(1, 10, "a", 1), (2, 20, "a", 2), (3, 30, "a", 3)]))
    out1 = harness.run_round(_build(trig, ACCUMULATING), output_mode="update")
    assert _panes(out1) == [("2024-01-01 00:00:00", "EARLY", 0, 3, 6.0, True, False)]

    # advance the watermark past window end → ON_TIME pane, accumulating
    harness.feed(_batch(spark, [(4, 500, "a", 0)]))
    out2 = harness.run_round(_build(trig, ACCUMULATING), output_mode="update")
    on_time = [p for p in _panes(out2) if p[0] == "2024-01-01 00:00:00"]
    assert on_time == [("2024-01-01 00:00:00", "ON_TIME", 1, 3, 6.0, False, True)]


def test_discarding_mode_resets_between_panes(spark, harness):
    trig = AfterWatermark(early=AfterCount(2))
    harness.feed(_batch(spark, [(1, 10, "a", 1), (2, 20, "a", 2)]))
    out1 = harness.run_round(_build(trig, DISCARDING), output_mode="update")
    assert _panes(out1) == [("2024-01-01 00:00:00", "EARLY", 0, 2, 3.0, True, False)]

    harness.feed(_batch(spark, [(3, 500, "a", 0)]))
    out2 = harness.run_round(_build(trig, DISCARDING), output_mode="update")
    on_time = [p for p in _panes(out2) if p[0] == "2024-01-01 00:00:00"]
    # discarding: the EARLY pane consumed both elements → ON_TIME is empty
    assert on_time == [("2024-01-01 00:00:00", "ON_TIME", 1, 0, 0.0, False, True)]


def test_sliding_windows_full_trigger_lifecycle(spark, harness):
    """SlidingWindows.of(120s).every(60s) through the trigger kernel: one
    element at sec 70 belongs to windows [0,120) and [60,180); each
    overlapping window runs its own pane lifecycle — EARLY panes fire per
    window (AfterCount(1)), and the ON_TIME panes arrive separately as
    the watermark crosses each window's end."""
    trig = AfterWatermark(early=AfterCount(1))

    def build(stream):
        return triggered_window_aggregate(
            stream, keys=["key"], value_col="value",
            window_size="120 seconds", trigger=trig,
            accumulation=ACCUMULATING, window_period="60 seconds",
        )

    # sec 70 -> windows starting at 00:00:00 and 00:01:00
    harness.feed(_batch(spark, [(1, 70, "a", 5)]))
    out1 = _panes(harness.run_round(build, output_mode="update"))
    assert out1 == [
        ("2024-01-01 00:00:00", "EARLY", 0, 1, 5.0, True, False),
        ("2024-01-01 00:01:00", "EARLY", 0, 1, 5.0, True, False),
    ]

    # watermark to 130: [0,120) closes ON_TIME; [60,180) still open
    harness.feed(_batch(spark, [(2, 130, "zz", 0)]))
    out2 = [p for p in _panes(harness.run_round(build, output_mode="update"))
            if p[0].startswith("2024-01-01 00:0")]
    assert ("2024-01-01 00:00:00", "ON_TIME", 1, 1, 5.0, False, True) in out2
    assert not any(p[0] == "2024-01-01 00:01:00" and p[1] == "ON_TIME" for p in out2)

    # watermark to 250: [60,180) closes too
    harness.feed(_batch(spark, [(3, 250, "zz", 0)]))
    out3 = [p for p in _panes(harness.run_round(build, output_mode="update"))
            if p[0] == "2024-01-01 00:01:00"]
    assert ("2024-01-01 00:01:00", "ON_TIME", 1, 1, 5.0, False, True) in out3


def test_closing_behavior_fire_always_emits_final_pane(spark):
    """ClosingBehavior.FIRE_ALWAYS (historical sdk/transforms/windowing/
    Window.java): when the lateness horizon passes with nothing new since
    the last firing, the window still emits one final pane carrying
    is_last=True — the guaranteed window-closed signal. The default
    FIRE_IF_NON_EMPTY stays silent in the same scenario."""

    def build(closing):
        def b(stream):
            return triggered_window_aggregate(
                stream, keys=["key"], value_col="value",
                window_size="60 seconds", trigger=AfterWatermark(),
                accumulation=ACCUMULATING, allowed_lateness="60 seconds",
                closing_behavior=closing,
            )
        return b

    for closing, expect_final in (("fire_if_non_empty", False), (CLOSING_FIRE_ALWAYS, True)):
        h = SC.MicroBatchHarness(spark, SCHEMA)  # fresh checkpoint per scenario
        try:
            # Round 1: two elements in [0,60); driver row at 100 crosses
            # the window end (wm 100 > 60) but not the horizon (120) ->
            # ON_TIME, window stays open for refinements.
            h.feed(_batch(spark, [(1, 10, "a", 1), (2, 20, "a", 2), (3, 100, "zz", 0)]))
            out1 = [p for p in _panes(h.run_round(build(closing), output_mode="update"))
                    if p[0] == "2024-01-01 00:00:00"]
            assert out1 == [("2024-01-01 00:00:00", "ON_TIME", 0, 2, 3.0, True, False)], closing

            # Round 2: watermark crosses the horizon with NO new data for
            # the window — only FIRE_ALWAYS emits the closing pane.
            h.feed(_batch(spark, [(4, 500, "zz", 0)]))
            out2 = [p for p in _panes(h.run_round(build(closing), output_mode="update"))
                    if p[0] == "2024-01-01 00:00:00"]
            if expect_final:
                assert out2 == [("2024-01-01 00:00:00", "LATE", 1, 2, 3.0, False, True)], closing
            else:
                assert out2 == [], closing
        finally:
            h.close()


def test_no_early_trigger_fires_only_at_watermark(spark, harness):
    trig = AfterWatermark()
    harness.feed(_batch(spark, [(1, 10, "a", 1), (2, 20, "a", 2)]))
    out1 = harness.run_round(_build(trig, ACCUMULATING), output_mode="update")
    assert _panes(out1) == []  # nothing before the watermark crossing

    harness.feed(_batch(spark, [(3, 500, "a", 0)]))
    out2 = harness.run_round(_build(trig, ACCUMULATING), output_mode="update")
    on_time = [p for p in _panes(out2) if p[0] == "2024-01-01 00:00:00"]
    assert on_time == [("2024-01-01 00:00:00", "ON_TIME", 0, 2, 3.0, True, True)]


def test_late_data_within_lateness_fires_late_pane(spark, harness):
    trig = AfterWatermark()
    build = _build(trig, ACCUMULATING, lateness="600 seconds")

    harness.feed(_batch(spark, [(1, 10, "a", 1)]))
    harness.feed(_batch(spark, [(2, 120, "a", 0)]))  # watermark → 120 > 60
    out1 = harness.run_round(build, output_mode="update")
    w0 = [p for p in _panes(out1) if p[0] == "2024-01-01 00:00:00"]
    assert w0 == [("2024-01-01 00:00:00", "ON_TIME", 0, 1, 1.0, True, False)]

    # late element for [0,60) while watermark=120 < 60+600 → LATE pane
    harness.feed(_batch(spark, [(3, 30, "a", 5)]))
    out2 = harness.run_round(build, output_mode="update")
    w0_late = [p for p in _panes(out2) if p[0] == "2024-01-01 00:00:00"]
    assert w0_late == [("2024-01-01 00:00:00", "LATE", 1, 2, 6.0, False, False)]


def test_stragglers_beyond_lateness_are_dropped(spark, harness):
    trig = AfterWatermark()
    build = _build(trig, ACCUMULATING, lateness="0 seconds")

    harness.feed(_batch(spark, [(1, 10, "a", 1)]))
    harness.feed(_batch(spark, [(2, 500, "a", 0)]))  # closes + GCs [0,60)
    out1 = harness.run_round(build, output_mode="update")
    assert [p for p in _panes(out1) if p[0] == "2024-01-01 00:00:00"]

    # straggler for the GC'd window: no pane, no resurrected state
    harness.feed(_batch(spark, [(3, 20, "a", 9), (4, 600, "a", 0)]))
    out2 = harness.run_round(build, output_mode="update")
    assert [p for p in _panes(out2) if p[0] == "2024-01-01 00:00:00"] == []


def test_after_each_advances_through_subtriggers(spark, harness):
    """AfterEach.inOrder(count>=2, count>=3): first EARLY pane after 2
    elements, second after 3 MORE, then no further early panes."""
    from dataflowjavasdk_spark.streaming.triggers import AfterEach

    trig = AfterWatermark(early=AfterEach(triggers=(AfterCount(2), AfterCount(3))))
    # 2 elements → first sub-trigger fires.
    harness.feed(_batch(spark, [(1, 1, "a", 1), (2, 2, "a", 1)]))
    out1 = harness.run_round(_build(trig, ACCUMULATING), "update")
    assert [p[1] for p in _panes(out1)] == ["EARLY"]
    # 2 more: second sub-trigger needs 3, not there yet.
    harness.feed(_batch(spark, [(3, 3, "a", 1), (4, 4, "a", 1)]))
    out2 = harness.run_round(_build(trig, ACCUMULATING), "update")
    assert _panes(out2) == []
    # 1 more completes the second sub-trigger → second EARLY pane.
    harness.feed(_batch(spark, [(5, 5, "a", 1)]))
    out3 = harness.run_round(_build(trig, ACCUMULATING), "update")
    assert [p[1] for p in _panes(out3)] == ["EARLY"]
    # Sequence exhausted: more elements never fire early again.
    harness.feed(_batch(spark, [(6, 6, "a", 1), (7, 7, "a", 1), (8, 8, "a", 1)]))
    out4 = harness.run_round(_build(trig, ACCUMULATING), "update")
    assert _panes(out4) == []


def test_or_finally_stops_after_until_fires(spark, harness):
    """Repeatedly(count>=1).orFinally(count>=3): every element fires an
    EARLY pane until the 3rd arrives, then the trigger finishes — later
    elements produce no early panes."""
    from dataflowjavasdk_spark.streaming.triggers import OrFinally, Repeatedly

    trig = AfterWatermark(
        early=OrFinally(main=Repeatedly(AfterCount(1)), until=AfterCount(3))
    )
    harness.feed(_batch(spark, [(1, 1, "a", 1)]))
    assert [p[1] for p in _panes(harness.run_round(_build(trig, ACCUMULATING), "update"))] == ["EARLY"]
    harness.feed(_batch(spark, [(2, 2, "a", 1)]))
    assert [p[1] for p in _panes(harness.run_round(_build(trig, ACCUMULATING), "update"))] == ["EARLY"]
    # 3rd element: until fires (this pane still emits), then done.
    harness.feed(_batch(spark, [(3, 3, "a", 1)]))
    assert [p[1] for p in _panes(harness.run_round(_build(trig, ACCUMULATING), "update"))] == ["EARLY"]
    harness.feed(_batch(spark, [(4, 4, "a", 1), (5, 5, "a", 1)]))
    assert _panes(harness.run_round(_build(trig, ACCUMULATING), "update")) == []


def test_never_trigger_only_on_time_pane(spark, harness):
    """Never as the early trigger: no speculative panes at all; the only
    pane is ON_TIME at the watermark crossing."""
    from dataflowjavasdk_spark.streaming.triggers import Never

    trig = AfterWatermark(early=Never())
    harness.feed(_batch(spark, [(1, 1, "a", 1), (2, 2, "a", 1), (3, 3, "a", 1)]))
    out1 = harness.run_round(_build(trig, ACCUMULATING), "update")
    assert _panes(out1) == []
    # Advance the watermark past the window end → exactly one ON_TIME pane.
    harness.feed(_batch(spark, [(9, 500, "a", 1)]))
    out2 = harness.run_round(_build(trig, ACCUMULATING), "update")
    win0 = [p for p in _panes(out2) if p[0] == "2024-01-01 00:00:00"]
    assert [(p[1], p[3]) for p in win0] == [("ON_TIME", 3)]


def _build_ot(trigger, accumulation, output_time):
    def build(stream):
        return triggered_window_aggregate(
            stream,
            keys=["key"],
            value_col="value",
            window_size="60 seconds",
            trigger=trigger,
            accumulation=accumulation,
            output_time=output_time,
        )

    return build


def test_output_time_fn_all_three_policies(spark, harness):
    """OutputTimeFn (historical sdk/transforms/windowing/OutputTimeFn.java):
    pane timestamps under END_OF_WINDOW / EARLIEST / LATEST. Elements at
    :10/:20/:30 in window [00:00, 01:00): emitted timestamps must be
    00:00:59.999 (end − 1 ms), 00:00:10, and 00:00:30 respectively."""
    import datetime

    for policy, want in [
        ("end_of_window", datetime.datetime(2024, 1, 1, 0, 0, 59, 999000)),
        ("earliest", datetime.datetime(2024, 1, 1, 0, 0, 10)),
        ("latest", datetime.datetime(2024, 1, 1, 0, 0, 30)),
    ]:
        h = SC.MicroBatchHarness(spark, SCHEMA)
        try:
            trig = AfterWatermark()
            h.feed(_batch(spark, [(1, 10, "a", 1), (2, 20, "a", 2), (3, 30, "a", 3)]))
            h.run_round(_build_ot(trig, ACCUMULATING, policy), output_mode="update")
            h.feed(_batch(spark, [(4, 500, "a", 0)]))
            out = h.run_round(_build_ot(trig, ACCUMULATING, policy), output_mode="update")
            panes = [
                r for r in out
                if str(r["window_start"]) == "2024-01-01 00:00:00"
            ]
            assert len(panes) == 1, (policy, panes)
            assert panes[0]["pane_timing"] == "ON_TIME"
            assert panes[0]["emit_ts"] == want, policy
        finally:
            h.close()


def test_output_time_discarding_uses_pane_elements_only(spark, harness):
    """Under DISCARDING, EARLIEST/LATEST reflect only the current pane's
    elements (the reference resets the timestamp hold after each firing)."""
    import datetime

    trig = AfterWatermark(early=AfterCount(2))
    # EARLY pane: elements at :10 and :20 → latest = :20
    harness.feed(_batch(spark, [(1, 10, "a", 1), (2, 20, "a", 2)]))
    out1 = harness.run_round(_build_ot(trig, DISCARDING, "latest"), output_mode="update")
    assert [r["emit_ts"] for r in out1] == [datetime.datetime(2024, 1, 1, 0, 0, 20)]
    # next batch: :40 then watermark passes → ON_TIME pane sees only :40
    harness.feed(_batch(spark, [(3, 40, "a", 3), (4, 500, "a", 0)]))
    out2 = harness.run_round(_build_ot(trig, DISCARDING, "latest"), output_mode="update")
    panes = [r for r in out2 if str(r["window_start"]) == "2024-01-01 00:00:00"]
    assert [r["emit_ts"] for r in panes] == [datetime.datetime(2024, 1, 1, 0, 0, 40)]


from dataflowjavasdk_spark.streaming.triggers import triggered_session_aggregate


def _build_sess(trigger, accumulation, gap="60 seconds", lateness="0 seconds"):
    def build(stream):
        return triggered_session_aggregate(
            stream,
            keys=["key"],
            value_col="value",
            gap=gap,
            trigger=trigger,
            accumulation=accumulation,
            allowed_lateness=lateness,
        )

    return build


def test_session_kernel_merges_and_fires_on_time(spark, harness):
    """Merging-window kernel (the Sessions ReduceFnRunner): elements at
    :00/:30/:50 with a 60s gap form ONE session [0, 110); an element far
    later advances the watermark and closes it as a single ON_TIME pane."""
    trig = AfterWatermark()
    harness.feed(_batch(spark, [(1, 0, "a", 1), (2, 30, "a", 2), (3, 50, "a", 3)]))
    out1 = harness.run_round(_build_sess(trig, ACCUMULATING), output_mode="update")
    assert out1 == []  # nothing fires before the watermark
    harness.feed(_batch(spark, [(4, 1000, "a", 0)]))
    out2 = harness.run_round(_build_sess(trig, ACCUMULATING), output_mode="update")
    closed = [r for r in out2 if str(r["window_start"]) == "2024-01-01 00:00:00"]
    assert len(closed) == 1
    r = closed[0]
    assert str(r["window_end"]) == "2024-01-01 00:01:50"  # :50 + 60s gap
    assert (r["n"], r["total"], r["pane_timing"], r["is_first"], r["is_last"]) == (
        3, 6.0, "ON_TIME", True, True,
    )


def test_session_kernel_separate_sessions_beyond_gap(spark, harness):
    trig = AfterWatermark()
    harness.feed(_batch(spark, [(1, 0, "a", 1), (2, 300, "a", 2)]))
    harness.feed(_batch(spark, [(3, 1000, "a", 0)]))
    out = harness.run_round(_build_sess(trig, ACCUMULATING), output_mode="update")
    out += harness.run_round(_build_sess(trig, ACCUMULATING), output_mode="update")
    on_time = {
        str(r["window_start"]): (r["n"], str(r["window_end"]))
        for r in out
        if r["pane_timing"] == "ON_TIME"
    }
    # elements 300s apart with a 60s gap → two distinct closed sessions
    assert on_time["2024-01-01 00:00:00"] == (1, "2024-01-01 00:01:00")
    assert on_time["2024-01-01 00:05:00"] == (1, "2024-01-01 00:06:00")


def _session_panes(rows, key="a"):
    return [
        (str(r["window_start"]), str(r["window_end"]), r["pane_timing"], r["pane_index"],
         r["n"], r["total"], r["is_first"], r["is_last"])
        for r in sorted(rows, key=lambda r: (r["window_start"], r["pane_index"]))
        if r["key"] == key
    ]


def test_session_kernel_late_data_within_lateness_fires_late_pane(spark, harness):
    """Session twin of test_late_data_within_lateness_fires_late_pane: a
    late element within allowed lateness merges into the closed session
    and refines it with a LATE pane (the pane index continues, the
    session grows)."""
    build = _build_sess(AfterWatermark(), ACCUMULATING, lateness="600 seconds")

    # session [10, 70) for a; the zz row moves the watermark to 120 > 70
    harness.feed(_batch(spark, [(1, 10, "a", 1)]))
    harness.feed(_batch(spark, [(2, 120, "zz", 0)]))
    out1 = _session_panes(harness.run_round(build, output_mode="update"))
    assert out1 == [("2024-01-01 00:00:10", "2024-01-01 00:01:10", "ON_TIME", 0, 1, 1.0, True, False)]

    # late element at 30 (watermark 120 < 70 + 600): its proto-session
    # [30, 90) merges into [10, 70) -> one LATE refinement of [10, 90)
    harness.feed(_batch(spark, [(3, 30, "a", 5)]))
    out2 = _session_panes(harness.run_round(build, output_mode="update"))
    assert out2 == [("2024-01-01 00:00:10", "2024-01-01 00:01:30", "LATE", 1, 2, 6.0, False, False)]


def test_session_kernel_stragglers_beyond_lateness_are_dropped(spark, harness):
    """Session twin of test_stragglers_beyond_lateness_are_dropped: once a
    session is past end + lateness its state is gone, and a straggler
    for it is dropped — no pane, no resurrected session."""
    build = _build_sess(AfterWatermark(), ACCUMULATING, lateness="0 seconds")

    harness.feed(_batch(spark, [(1, 10, "a", 1)]))
    harness.feed(_batch(spark, [(2, 500, "zz", 0)]))  # closes + GCs [10, 70)
    out1 = _session_panes(harness.run_round(build, output_mode="update"))
    assert out1 == [("2024-01-01 00:00:10", "2024-01-01 00:01:10", "ON_TIME", 0, 1, 1.0, True, True)]

    # straggler for the GC'd session: no pane, and only zz keeps state
    harness.feed(_batch(spark, [(3, 20, "a", 9), (4, 600, "zz", 0)]))
    assert _session_panes(harness.run_round(build, output_mode="update")) == []
    assert harness.state_rows == 1


def test_session_kernel_early_firing_then_merge(spark, harness):
    """An early pane fires by element count inside an open session; a
    bridging element then MERGES two open sessions — the merged session's
    accumulator is the union and the pane index continues (onMerge)."""
    trig = AfterWatermark(early=AfterCount(2))
    # round 1: one proto-session with 2 elements → EARLY pane at count 2
    harness.feed(_batch(spark, [(1, 0, "a", 1), (2, 10, "a", 2)]))
    out1 = harness.run_round(_build_sess(trig, ACCUMULATING), output_mode="update")
    early = [tuple(r[c] for c in ("pane_timing", "n", "total")) for r in out1]
    assert ("EARLY", 2, 3.0) in early  # the [0,70) session fired at count 2
    # round 2 (watermark still at :10): an element at :120 opens a second
    # session and a bridge at :61 merges [0,70) with [120,180) into [0,180)
    # (:60 exactly would NOT merge — [60,120) and [120,180) are adjacent,
    # and IntervalWindow.intersects is strict)
    harness.feed(_batch(spark, [(3, 120, "a", 4), (4, 61, "a", 8)]))
    out2 = harness.run_round(_build_sess(trig, ACCUMULATING), output_mode="update")
    # round 3: advance the watermark far past the merged end → ON_TIME
    harness.feed(_batch(spark, [(5, 1000, "a", 0)]))
    out3 = harness.run_round(_build_sess(trig, ACCUMULATING), output_mode="update")
    closed = [r for r in out2 + out3 if r["pane_timing"] == "ON_TIME" and r["n"] == 4]
    assert len(closed) == 1
    r = closed[0]
    assert str(r["window_start"]) == "2024-01-01 00:00:00"
    assert str(r["window_end"]) == "2024-01-01 00:03:00"  # 120+60s gap
    assert r["total"] == 15.0
    assert r["pane_index"] >= 1  # pane index continued past the early pane


def test_session_kernel_discarding_resets_after_early(spark, harness):
    trig = AfterWatermark(early=AfterCount(2))
    harness.feed(_batch(spark, [(1, 0, "a", 1), (2, 10, "a", 2)]))
    out1 = harness.run_round(_build_sess(trig, DISCARDING), output_mode="update")
    assert [(r["pane_timing"], r["n"]) for r in out1] == [("EARLY", 2)]
    harness.feed(_batch(spark, [(3, 20, "a", 5), (4, 1000, "a", 0)]))
    out2 = harness.run_round(_build_sess(trig, DISCARDING), output_mode="update")
    closed = [r for r in out2 if r["pane_timing"] == "ON_TIME"
              and str(r["window_start"]) == "2024-01-01 00:00:00"]
    # discarding: the on-time pane carries only the post-early element
    assert [(r["n"], r["total"]) for r in closed] == [(1, 5.0)]


def test_session_kernel_closing_behavior_fire_always(spark):
    """ClosingBehavior.FIRE_ALWAYS over MERGING windows: a session whose
    lateness horizon passes with nothing new still emits its final
    is_last pane; the default stays silent. Mirrors the fixed-window
    closing test through the session ReduceFnRunner."""
    from dataflowjavasdk_spark.streaming.triggers import (
        CLOSING_FIRE_ALWAYS,
        triggered_session_aggregate,
    )

    def build(closing):
        def b(stream):
            return triggered_session_aggregate(
                stream, keys=["key"], value_col="value", gap="60 seconds",
                trigger=AfterWatermark(), accumulation=ACCUMULATING,
                allowed_lateness="120 seconds", closing_behavior=closing,
            )
        return b

    for closing, expect_final in (("fire_if_non_empty", False), (CLOSING_FIRE_ALWAYS, True)):
        h = SC.MicroBatchHarness(spark, SCHEMA)
        try:
            # proto-sessions [10,70) and [50,110) merge -> [10,110) for
            # key a; the driver row advances the watermark past the
            # session end (wm 200 > 110) but not the horizon (110+120=230)
            # -> ON_TIME, session stays open for refinements.
            h.feed(_batch(spark, [(1, 10, "a", 1), (2, 50, "a", 2), (3, 200, "zz", 0)]))
            out1 = [(r["pane_timing"], r["n"], r["total"], r["is_last"])
                    for r in h.run_round(build(closing), "update") if r["key"] == "a"]
            assert out1 == [("ON_TIME", 2, 3.0, False)], (closing, out1)

            # horizon passes with no new data for a
            h.feed(_batch(spark, [(4, 500, "zz", 0)]))
            out2 = [(r["pane_timing"], r["n"], r["total"], r["is_last"])
                    for r in h.run_round(build(closing), "update") if r["key"] == "a"]
            if expect_final:
                assert out2 == [("LATE", 2, 3.0, True)], (closing, out2)
            else:
                assert out2 == [], (closing, out2)
        finally:
            h.close()


def test_session_kernel_output_time_latest(spark, harness):
    """OutputTimeFn over merging windows: the closed session's LATEST input
    timestamp survives merges (onMerge max)."""
    import datetime

    def build(stream):
        return triggered_session_aggregate(
            stream, keys=["key"], value_col="value", gap="60 seconds",
            trigger=AfterWatermark(), accumulation=ACCUMULATING,
            output_time="latest",
        )

    harness.feed(_batch(spark, [(1, 0, "a", 1), (2, 30, "a", 2), (3, 50, "a", 3)]))
    harness.run_round(build, output_mode="update")
    harness.feed(_batch(spark, [(4, 1000, "a", 0)]))
    out = harness.run_round(build, output_mode="update")
    closed = [r for r in out if str(r["window_start"]) == "2024-01-01 00:00:00"]
    assert [r["emit_ts"] for r in closed] == [datetime.datetime(2024, 1, 1, 0, 0, 50)]


def test_closing_fire_if_non_empty_flushes_buffered_late_data(spark, harness):
    """Default ClosingBehavior.FIRE_IF_NON_EMPTY must still fire the final
    pane when data arrived since the last firing but the late trigger was
    not ready (AfterCount(2) with one late element): Beam fires the
    closing pane whenever it is non-empty. Dropping it would lose the
    buffered element's contribution forever and never emit is_last."""
    trig = AfterWatermark(late=AfterCount(2))
    build = _build(trig, ACCUMULATING, lateness="60 seconds")

    # Round 1: one element in [0,60); driver row at 100 crosses the
    # window end (wm 100 > 60) but not the horizon (120) -> ON_TIME.
    harness.feed(_batch(spark, [(1, 10, "a", 1), (2, 100, "zz", 0)]))
    out1 = [p for p in _panes(harness.run_round(build, output_mode="update"))
            if p[0] == "2024-01-01 00:00:00"]
    assert out1 == [("2024-01-01 00:00:00", "ON_TIME", 0, 1, 1.0, True, False)]

    # Round 2: ONE late element (AfterCount(2) not satisfied -> no LATE
    # pane yet); wm stays 100 < 120 so the window is still open. ts=45
    # is Beam-late (true wm 100 > 60) but above Spark's delayed watermark
    # (100-60=40), so the row reaches the kernel instead of being dropped
    # by FlatMapGroupsWithState's own late filter.
    harness.feed(_batch(spark, [(3, 45, "a", 5)]))
    out2 = [p for p in _panes(harness.run_round(build, output_mode="update"))
            if p[0] == "2024-01-01 00:00:00"]
    assert out2 == []

    # Round 3: the horizon passes with no new data for the window. The
    # buffered late element makes the closing pane NON-EMPTY -> it must
    # fire (accumulating totals, is_last=True).
    harness.feed(_batch(spark, [(4, 500, "zz", 0)]))
    out3 = [p for p in _panes(harness.run_round(build, output_mode="update"))
            if p[0] == "2024-01-01 00:00:00"]
    assert out3 == [("2024-01-01 00:00:00", "LATE", 1, 2, 6.0, False, True)]


@pytest.mark.parametrize("kernel", ["window", "session"])
def test_accepted_row_is_never_past_its_gc_horizon(spark, harness, kernel):
    """Spark drops rows at or behind the watermark a step sees, and every
    window holding an accepted row ends after that row, so no accepted
    row can land in a window whose lateness horizon has passed: neither
    kernel needs a guard against resurrecting collected state. After a
    batch at :10, a@20 arrives together with b@500 and a's window still
    closes with its one ON_TIME pane."""
    trig = AfterWatermark()
    build = (_build(trig, ACCUMULATING) if kernel == "window"
             else _build_sess(trig, ACCUMULATING, gap="30 seconds"))
    harness.feed(_batch(spark, [(1, 10, "z", 0)]))
    harness.run_round(build, output_mode="update")
    harness.feed(_batch(spark, [(2, 20, "a", 7), (3, 500, "b", 0)]))
    out = harness.run_round(build, output_mode="update")
    assert [(r["pane_timing"], r["n"], r["total"], r["is_last"])
            for r in out if r["key"] == "a"] == [("ON_TIME", 1, 7.0, True)]


def test_trigger_kernel_soak_state_bounded_by_lateness_horizon(spark):
    """Load pin (VERDICT r3 #7): 10k keys x overlapping sliding windows x
    several micro-batches through the kernel — the state-blob count must
    stay bounded by the lateness horizon (the Windmill bound SCALE.md
    claims), i.e. closed windows' GroupState is actually GC'd instead of
    accumulating round over round.

    Geometry: size 60s / period 30s -> every element lives in 2 windows;
    rounds advance event time by 120s, so each round closes the previous
    round's windows (end + 30s lateness < new watermark). All of a key's
    open windows share one state row, so state rows <= keys with open
    windows = n_keys; growth across rounds would mean a state leak."""
    n_keys = 10_000

    def bulk(ts_sec):
        return spark.range(n_keys).select(
            F.col("id").alias("event_id"),
            F.expr(
                f"timestamp'2024-01-01 00:00:00' + INTERVAL {ts_sec} SECONDS"
            ).alias("ts"),
            F.concat(F.lit("k"), F.col("id")).alias("key"),
            F.lit(1.0).alias("value"),
        )

    def build(stream):
        return triggered_window_aggregate(
            stream,
            keys=["key"],
            value_col="value",
            window_size="60 seconds",
            trigger=AfterWatermark(),
            accumulation=ACCUMULATING,
            allowed_lateness="30 seconds",
            window_period="30 seconds",
        )

    h = SC.MicroBatchHarness(spark, SCHEMA)
    try:
        state_per_round = []
        emitted = 0
        for r in range(4):
            h.feed(bulk(120 * r))
            emitted += len(h.run_round(build, output_mode="update"))
            assert h.state_rows is not None
            state_per_round.append(h.state_rows)
        # Bounded by the horizon, every round.
        for r, n in enumerate(state_per_round):
            assert n <= n_keys, f"round {r}: {n} state rows (leak)"
        # And flat, not growing: the last round holds no more state than
        # the first steady-state round.
        assert state_per_round[-1] <= state_per_round[1], state_per_round
        # Sanity: the pipeline actually emitted panes at this scale.
        assert emitted >= 2 * n_keys
    finally:
        h.close()
