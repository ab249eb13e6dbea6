"""Structured-streaming semantics tests via the MicroBatchHarness — the
ReduceFnTester analog (SURVEY.md §5.2.4): feed timestamped batches, let
the watermark advance between batches, assert what each round emits."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataflowjavasdk_spark.streaming import core as SC

SCHEMA = "event_id long, ts timestamp, key string, value double"


def _batch(spark, rows):
    return spark.createDataFrame(rows, SCHEMA).select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "key", "value"
    )


def _rows(spark, *specs):
    import datetime

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    return [
        (eid, base + datetime.timedelta(seconds=sec), key, float(v))
        for (eid, sec, key, v) in specs
    ]


@pytest.fixture()
def harness(spark):
    h = SC.MicroBatchHarness(spark, SCHEMA)
    yield h
    h.close()


def windowed_count(stream):
    return (
        SC.with_watermark(stream, "ts", "0 seconds")
        .groupBy(F.window("ts", "60 seconds").alias("w"), "key")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "key", "n")
    )


def test_append_mode_emits_once_after_watermark(spark, harness):
    # Batch 1: three rows in window [0,60); watermark still at batch start.
    harness.feed(_batch(spark, _rows(spark, (1, 10, "a", 1), (2, 20, "a", 1), (3, 70, "a", 1))))
    out1 = harness.run_round(windowed_count, output_mode="append")
    # The batch raises the watermark to 70s; the run's follow-up
    # watermark-commit batch closes [0,60) — emitted exactly once, with
    # the on-time result. [60,120) stays open (watermark 70 < 120).
    got1 = {(str(r["ws"]), r["key"]): r["n"] for r in out1}
    assert got1 == {("2024-01-01 00:00:00", "a"): 2}

    # Batch 2: a row far in the future → watermark passes [60,120).
    harness.feed(_batch(spark, _rows(spark, (4, 500, "a", 1))))
    out2 = harness.run_round(windowed_count, output_mode="append")
    got2 = {(str(r["ws"]), r["key"]): r["n"] for r in out2}
    assert got2 == {("2024-01-01 00:01:00", "a"): 1}


def test_update_mode_emits_early_refinements(spark, harness):
    # Update mode ≈ early firings: partial aggregates emitted per batch.
    harness.feed(_batch(spark, _rows(spark, (1, 10, "a", 1), (2, 20, "a", 1))))
    out1 = harness.run_round(windowed_count, output_mode="update")
    assert [(r["key"], r["n"]) for r in out1] == [("a", 2)]

    harness.feed(_batch(spark, _rows(spark, (3, 30, "a", 1))))
    out2 = harness.run_round(windowed_count, output_mode="update")
    # refinement: same window, updated count
    assert [(r["key"], r["n"]) for r in out2] == [("a", 3)]


def test_drop_duplicates_within_watermark(spark, harness):
    def dedup(stream):
        return SC.drop_duplicates_within_watermark(stream, ["event_id"], "ts", "300 seconds")

    harness.feed(_batch(spark, _rows(spark, (1, 10, "a", 1), (2, 20, "a", 1))))
    out1 = harness.run_round(dedup, output_mode="append")
    assert sorted(r["event_id"] for r in out1) == [1, 2]

    # event_id=1 replayed within the horizon → dropped; 3 is new.
    harness.feed(_batch(spark, _rows(spark, (1, 30, "a", 1), (3, 40, "a", 1))))
    out2 = harness.run_round(dedup, output_mode="append")
    assert sorted(r["event_id"] for r in out2) == [3]


def test_stream_static_join(spark, harness):
    dim = spark.createDataFrame([("a", "alpha"), ("b", "beta")], "key string, name string")

    def join_query(stream):
        return SC.stream_static_join(stream, F.broadcast(dim), "key").select(
            "event_id", "name"
        )

    harness.feed(_batch(spark, _rows(spark, (1, 10, "a", 1), (2, 20, "b", 1), (3, 30, "c", 1))))
    out = harness.run_round(join_query, output_mode="append")
    assert sorted((r["event_id"], r["name"]) for r in out) == [(1, "alpha"), (2, "beta")]


def test_session_window_streaming(spark, harness):
    def sessions(stream):
        return (
            SC.with_watermark(stream, "ts", "0 seconds")
            .groupBy(F.session_window("ts", "30 seconds").alias("w"), "key")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "key", "n")
        )

    # two bursts 10,20,25 (one session) and 200 (another), then advance
    harness.feed(_batch(spark, _rows(spark, (1, 10, "a", 1), (2, 20, "a", 1), (3, 25, "a", 1), (4, 200, "a", 1))))
    harness.feed(_batch(spark, _rows(spark, (5, 600, "a", 1))))
    out = harness.run_round(sessions, output_mode="append") + harness.run_round(
        sessions, output_mode="append"
    )
    got = {(str(r["ws"]), r["key"]): r["n"] for r in out}
    assert got[("2024-01-01 00:00:10", "a")] == 3
    assert got[("2024-01-01 00:03:20", "a")] == 1


def test_late_data_beyond_watermark_dropped(spark, harness):
    """SURVEY §2.8: rows later than the watermark horizon are dropped —
    Beam's allowedLateness expiry ≡ Spark's withWatermark delay. A row for
    an already-closed window must not re-emit or alter that window."""
    # Window [0,60) closes once the watermark (max ts − 0s delay) passes 60.
    harness.feed(_batch(spark, _rows(spark, (1, 10, "a", 1), (2, 200, "a", 1))))
    out1 = harness.run_round(windowed_count, output_mode="append")
    got1 = {(str(r["ws"]), r["key"]): r["n"] for r in out1}
    assert got1 == {("2024-01-01 00:00:00", "a"): 1}

    # A very late row for the closed [0,60) window: beyond the horizon.
    harness.feed(_batch(spark, _rows(spark, (3, 15, "a", 1))))
    out2 = harness.run_round(windowed_count, output_mode="append")
    assert [
        r for r in out2 if str(r["ws"]) == "2024-01-01 00:00:00"
    ] == [], "late row re-opened a closed window"


def test_golden_deviation_no_refiring_beyond_horizon(spark, harness):
    """GOLDEN PIN of documented deviation #1 (SURVEY §2.8 late-firings
    row; VERDICT r7 #7): Beam with allowedLateness(120s) +
    withLateFirings would REFIRE window [0,60) for a row 90s late;
    Spark's watermark horizon is the single lateness bound, so a row
    within it refines (update mode) and a row beyond it is silently
    dropped — there is no post-horizon refiring, by design. This test
    FEEDS both sides of the boundary and asserts the engine's actual
    behavior, so the deviation is executable documentation."""

    def counted(stream):
        return (
            SC.with_watermark(stream, "ts", "30 seconds")
            .groupBy(F.window("ts", "60 seconds").alias("w"), "key")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "key", "n")
        )

    w0 = "2024-01-01 00:00:00"
    # round 1: window [0,60) gets one row; watermark -> 80-30 = 50,
    # still BEFORE the window end, so [0,60) remains open.
    harness.feed(_batch(spark, _rows(spark, (1, 10, "a", 1), (2, 80, "a", 1))))
    out1 = harness.run_round(counted, output_mode="update")
    assert {(str(r["ws"]), r["n"]) for r in out1 if str(r["ws"]) == w0} == {(w0, 1)}

    # round 2: a late-in-Beam-terms row INSIDE the horizon (window end
    # 60 > watermark 50): the engine REFINES — update emits n=2. This
    # is the half of Beam's late-firing semantics Spark does honor.
    harness.feed(_batch(spark, _rows(spark, (3, 20, "a", 1))))
    out2 = harness.run_round(counted, output_mode="update")
    assert {(str(r["ws"]), r["n"]) for r in out2 if str(r["ws"]) == w0} == {(w0, 2)}

    # round 3: advance the watermark decisively past end+horizon
    # (300-30 = 270 >> 60) ...
    harness.feed(_batch(spark, _rows(spark, (4, 300, "b", 1))))
    harness.run_round(counted, output_mode="update")
    # ... round 4: the SAME kind of late row is now beyond the horizon:
    # dropped, no refinement, no late pane. Beam with
    # allowedLateness(300s) would refire here — the pinned deviation.
    harness.feed(_batch(spark, _rows(spark, (5, 25, "a", 1))))
    out4 = harness.run_round(counted, output_mode="update")
    assert [r for r in out4 if str(r["ws"]) == w0] == [], (
        "post-horizon late row produced a pane — deviation pin broken"
    )


def test_golden_deviation_user_declared_watermark_outlier(spark, harness):
    """GOLDEN PIN of documented deviation #2 (SURVEY §2.8 watermarks
    row; VERDICT r7 #7): Spark's watermark is USER-DECLARED —
    max(event_ts) − delay — while the reference computes it from source
    progress (MillWheel-style). Divergent scenario: ONE clock-skewed
    future event drags the watermark far ahead, and well-ordered rows
    that a source-computed watermark would still admit get dropped.
    Feeds the skewed event, asserts the honest row is dropped — the
    engine's documented behavior, now executable."""

    def counted(stream):
        return (
            SC.with_watermark(stream, "ts", "30 seconds")
            .groupBy(F.window("ts", "60 seconds").alias("w"), "key")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "key", "n")
        )

    # One honest row + one clock-skewed outlier 10000s in the future:
    # watermark jumps to 10000-30 = 9970.
    harness.feed(
        _batch(spark, _rows(spark, (1, 10, "a", 1), (2, 10_000, "skew", 1)))
    )
    harness.run_round(counted, output_mode="update")

    # An in-order row at ts=70 (window [60,120)) — honest wall-clock
    # progress, admitted by any source-computed watermark — is beyond
    # Spark's declared horizon (70 < 9970) and silently dropped.
    harness.feed(_batch(spark, _rows(spark, (3, 70, "a", 1))))
    out = harness.run_round(counted, output_mode="update")
    assert [r for r in out if str(r["ws"]) == "2024-01-01 00:01:00"] == [], (
        "outlier-advanced watermark should have dropped the honest row"
    )


def test_per_window_destination_partitions(spark, harness, tmp_path):
    """BigQueryIO streaming's per-window destination tables (SURVEY §2.6):
    foreachBatch + partitionBy(window_start) — each event-time window lands
    in its own partition directory of the sink."""
    import os

    out_dir = str(tmp_path / "sink")
    harness.feed(
        _batch(spark, _rows(spark, (1, 10, "a", 1), (2, 70, "a", 1), (3, 200, "b", 1)))
    )

    def windowed(stream):
        return (
            SC.with_watermark(stream, "ts", "0 seconds")
            .groupBy(F.window("ts", "60 seconds").alias("w"), "key")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").cast("string").alias("window_start"), "key", "n")
        )

    source = SC.read_stream_dropdir(spark, harness.input_dir, harness.schema)

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").partitionBy("window_start").parquet(out_dir)

    q = (
        windowed(source)
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", harness.checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    from urllib.parse import unquote

    parts = sorted(
        unquote(d.split("=", 1)[1])
        for d in os.listdir(out_dir)
        if d.startswith("window_start=")
    )
    assert parts == [
        "2024-01-01 00:00:00",
        "2024-01-01 00:01:00",
        "2024-01-01 00:03:00",
    ]
    back = spark.read.parquet(out_dir)
    assert back.count() == 3


def test_facade_unified_batch_and_streaming(spark, harness):
    """SURVEY §7.0's unified-model promise, concretely: ONE pipeline
    function — written once against the PCollection façade — produces the
    same per-window counts whether its source is bounded (read.parquet)
    or unbounded (readStream + watermark + availableNow drain)."""
    from dataflowjavasdk_spark.core import Pipeline, PCollection

    def pipeline_logic(pc):
        # windowed count per key — plain Column ops, no batch/stream split
        return (
            pc.with_timestamps(F.col("ts"))
            .apply(
                lambda df: df.groupBy(
                    F.window("ts", "60 seconds").alias("w"), "key"
                )
                .agg(F.count(F.lit(1)).alias("n"))
                .select(F.col("w.start").alias("ws"), "key", "n")
            )
        )

    rows = _rows(spark, (1, 10, "a", 1), (2, 20, "a", 1), (3, 70, "b", 1))
    batch_df = _batch(spark, rows)
    harness.feed(batch_df)

    # Batch run of the same logic, directly on the fed parquet directory.
    p = Pipeline(spark)
    batch_out = pipeline_logic(p.read_parquet(harness.input_dir)).collect()

    # Streaming run: unbounded source + complete drain via the harness.
    def build(stream):
        pc = PCollection(SC.with_watermark(stream, "ts", "0 seconds"))
        return pipeline_logic(pc).df

    stream_out = harness.run_round(build, output_mode="update")

    norm = lambda rows: sorted((str(r["ws"]), r["key"], r["n"]) for r in rows)
    assert norm(batch_out) == norm(stream_out)
    assert len(batch_out) == 2


def test_stateful_par_do_value_and_bag_state(spark, harness):
    """§2.9 stateful DoFn surface: ValueState accumulates across
    micro-batches; BagState buffers element ids; the running count emitted
    per batch reflects all data seen so far for the key."""
    import pandas as pd

    from dataflowjavasdk_spark.streaming.state import stateful_par_do

    def fn(key, rows, state):
        if len(rows) == 0:
            return None
        total = state.value("count", 0) + len(rows)
        state.set("count", total)
        state.bag_add("ids", [int(x) for x in rows["event_id"]])
        return pd.DataFrame(
            {"key": [key[0]], "n": [total], "n_ids": [len(state.bag("ids"))]}
        )

    def build(stream):
        return stateful_par_do(
            stream, keys=["key"], fn=fn,
            output_schema="key string, n long, n_ids long",
        )

    harness.feed(_batch(spark, _rows(spark, (1, 10, "a", 1), (2, 20, "a", 1), (3, 30, "b", 1))))
    out1 = {(r["key"]): (r["n"], r["n_ids"]) for r in harness.run_round(build, "update")}
    assert out1 == {"a": (2, 2), "b": (1, 1)}

    harness.feed(_batch(spark, _rows(spark, (4, 40, "a", 1))))
    out2 = {(r["key"]): (r["n"], r["n_ids"]) for r in harness.run_round(build, "update")}
    assert out2 == {"a": (3, 3)}  # state persisted across rounds


def test_stateful_par_do_timer_fires_and_clears(spark, harness):
    """§2.9 @TimerId: an event-time timer set at (last_seen + 60s) fires
    once the watermark passes it — the key emits its final count with
    empty input rows, then clear_all drops the state (Beam state GC)."""
    import pandas as pd

    from dataflowjavasdk_spark.streaming.state import stateful_par_do

    def fn(key, rows, state):
        if state.timer_fired:
            total = state.value("count", 0)
            state.clear_all()
            return pd.DataFrame({"key": [key[0]], "n": [total], "final": [True]})
        if len(rows) == 0:
            return None
        total = state.value("count", 0) + len(rows)
        state.set("count", total)
        last_ms = int(rows["ts"].max().timestamp() * 1000)
        state.set_timer(last_ms + 60_000)
        return pd.DataFrame({"key": [key[0]], "n": [total], "final": [False]})

    def build(stream):
        return stateful_par_do(
            stream, keys=["key"], fn=fn,
            output_schema="key string, n long, final boolean",
        )

    harness.feed(_batch(spark, _rows(spark, (1, 10, "a", 1), (2, 20, "a", 1))))
    out1 = [(r["key"], r["n"], r["final"]) for r in harness.run_round(build, "update")]
    assert out1 == [("a", 2, False)]

    # a far-future row for another key advances the watermark past a's timer
    harness.feed(_batch(spark, _rows(spark, (3, 500, "b", 1))))
    out2 = sorted((r["key"], r["n"], r["final"]) for r in harness.run_round(build, "update"))
    assert ("a", 2, True) in out2  # timer fired with the buffered count

    # a's state was cleared: new data starts the count from zero
    harness.feed(_batch(spark, _rows(spark, (4, 600, "a", 1))))
    out3 = [(r["key"], r["n"], r["final"]) for r in harness.run_round(build, "update") if r["key"] == "a"]
    assert out3 == [("a", 1, False)]


def test_leaderboard_end_to_end_pane_sequence(spark, harness):
    """LeaderBoard acceptance (historical examples/complete/game/
    LeaderBoard.java): team scores per fixed window under
    AfterWatermark.pastEndOfWindow()
      .withEarlyFirings(AfterCount(2)).withLateFirings(AfterCount(1)),
    ACCUMULATING panes, 120 s allowed lateness — one composed replay that
    exercises the speculative pane BEFORE the watermark, the ON_TIME pane
    at the watermark crossing, and a late element AFTER the watermark but
    inside the lateness horizon refining the same window. The pane
    sequence (timing, index, is_first/is_last, accumulated totals) must
    be deterministic."""
    from dataflowjavasdk_spark.streaming.triggers import (
        ACCUMULATING,
        AfterCount,
        AfterWatermark,
        triggered_window_aggregate,
    )

    def build(stream):
        return triggered_window_aggregate(
            stream,
            keys=["key"],
            value_col="value",
            window_size="60 seconds",
            trigger=AfterWatermark(early=AfterCount(2), late=AfterCount(1)),
            accumulation=ACCUMULATING,
            allowed_lateness="120 seconds",
        )

    def red(rows):
        return sorted(
            (r["pane_timing"], r["pane_index"], r["n"], r["total"],
             r["is_first"], r["is_last"])
            for r in rows
            if r["key"] == "red" and str(r["window_start"]).endswith("00:00:00")
        )

    # Round 1: two red scores inside [0,60) while the watermark is still
    # before the window end -> speculative EARLY pane (AfterCount(2)).
    harness.feed(_batch(spark, _rows(
        spark, (1, 10, "red", 3), (2, 20, "red", 4))))
    out1 = red(harness.run_round(build, "update"))
    assert out1 == [("EARLY", 0, 2, 7.0, True, False)]

    # Round 2: one more red score plus a later blue score that drives the
    # watermark (140) past the window end (60) but NOT past the lateness
    # horizon (60+120=180) -> ON_TIME pane accumulating all three
    # elements, with the window still open for late refinements.
    harness.feed(_batch(spark, _rows(
        spark, (3, 40, "red", 5), (4, 140, "blue", 1))))
    out2 = red(harness.run_round(build, "update"))
    assert out2 == [("ON_TIME", 1, 3, 12.0, False, False)]

    # Round 3: a red score at sec 50 — behind the watermark (140) but
    # within the lateness horizon -> LATE refinement pane of the SAME
    # window (LeaderBoard's late-score update).
    harness.feed(_batch(spark, _rows(spark, (5, 50, "red", 2))))
    out3 = red(harness.run_round(build, "update"))
    assert out3 == [("LATE", 2, 4, 14.0, False, False)]


CLICKS = "user string, click_ts timestamp"
BUYS = "user string, buy_ts timestamp, amount double"


def _ts(sec):
    import datetime

    return datetime.datetime(2024, 1, 1, 0, 0, 0) + datetime.timedelta(seconds=sec)


@pytest.fixture()
def two_streams(spark):
    h = SC.MultiStreamHarness(spark, {"clicks": CLICKS, "buys": BUYS})
    yield h
    h.close()


def _click_buy_join(how):
    def build(sources):
        return SC.stream_stream_join(
            sources["clicks"], sources["buys"], ["user"],
            "click_ts", "buy_ts", "0 seconds", "0 seconds",
            lower="0 seconds", upper="10 minutes", how=how,
        )

    return build


THREE = "key string, ts timestamp, v double"


def test_streaming_three_way_windowed_cogroup(spark):
    """N-way CoGroupByKey over UNBOUNDED inputs (round 7 — the streaming
    face of the batch union-tag plan operators/join.py uses): three
    sources tagged and unioned, per-(window,key) per-tag counts close
    exactly once when the watermark — the MIN across all three sources,
    the reference's slowest-input rule — passes the window end. A key
    absent from a source shows count 0 (the empty-iterable contract,
    stated relationally), and a replay round emits nothing."""
    h = SC.MultiStreamHarness(spark, {"a": THREE, "b": THREE, "c": THREE})
    try:
        names = ["a", "b", "c"]

        def build(sources):
            tagged = [
                SC.with_watermark(sources[n], "ts", "0 seconds").select(
                    "key", "ts", F.lit(i).alias("tag")
                )
                for i, n in enumerate(names)
            ]
            u = tagged[0].unionByName(tagged[1]).unionByName(tagged[2])
            return (
                u.groupBy(F.window("ts", "60 seconds").alias("w"), "key")
                .agg(
                    *[
                        F.sum(F.when(F.col("tag") == i, 1).otherwise(0))
                        .cast("long")
                        .alias(f"n_{n}")
                        for i, n in enumerate(names)
                    ]
                )
                .select(F.col("w.start").alias("ws"), "key", "n_a", "n_b", "n_c")
            )

        h.feed("a", spark.createDataFrame(
            [("k1", _ts(10), 1.0), ("k1", _ts(20), 1.0)], THREE))
        h.feed("b", spark.createDataFrame([("k1", _ts(30), 1.0)], THREE))
        h.feed("c", spark.createDataFrame([("k2", _ts(40), 1.0)], THREE))
        out1 = h.run_round(build, output_mode="append")
        # min watermark across sources is 20s < 60s: [0,60) stays open
        assert out1 == []

        # advance ALL THREE sources past the window end — only then does
        # the min watermark pass 60s and close [0,60)
        for n in names:
            h.feed(n, spark.createDataFrame([("kx", _ts(120), 1.0)], THREE))
        out2 = h.run_round(build, output_mode="append")
        got = {(str(r["ws"]), r["key"]): (r["n_a"], r["n_b"], r["n_c"])
               for r in out2}
        assert got == {
            ("2024-01-01 00:00:00", "k1"): (2, 1, 0),
            ("2024-01-01 00:00:00", "k2"): (0, 0, 1),
        }

        out3 = h.run_round(build, output_mode="append")  # replay: nothing new
        assert out3 == []
    finally:
        h.close()


def test_stream_stream_inner_join_emits_matches_in_range(spark, two_streams):
    """CoGroupByKey over two unbounded inputs: only the purchase within
    [click_ts, click_ts + 10 min] joins; inner matches emit eagerly."""
    two_streams.feed("clicks", spark.createDataFrame(
        [("u1", _ts(0)), ("u2", _ts(0))], CLICKS))
    two_streams.feed("buys", spark.createDataFrame(
        [("u1", _ts(300), 5.0), ("u2", _ts(1200), 7.0)], BUYS))
    out = two_streams.run_round(_click_buy_join("inner"))
    assert [(r["user"], r["amount"]) for r in out] == [("u1", 5.0)]


def test_stream_stream_left_outer_null_after_watermark(spark, two_streams):
    """Outer join: the unmatched click emits its NULL row only once the
    watermark proves no in-range purchase can still arrive (state evicted
    at watermark > click_ts + upper) — AfterWatermark semantics for the
    empty-side pane. The watermark is the MIN across both sources."""
    two_streams.feed("clicks", spark.createDataFrame(
        [("u1", _ts(0)), ("u2", _ts(0))], CLICKS))
    two_streams.feed("buys", spark.createDataFrame(
        [("u1", _ts(300), 5.0)], BUYS))
    out1 = two_streams.run_round(_click_buy_join("left_outer"))
    assert [(r["user"], r["amount"]) for r in out1] == [("u1", 5.0)]

    # Advance BOTH watermarks past 0s + 10 min; u2's null pane fires.
    later = []
    for rnd in range(2):
        two_streams.feed("clicks", spark.createDataFrame(
            [(f"x{rnd}", _ts(3600 + rnd))], CLICKS))
        two_streams.feed("buys", spark.createDataFrame(
            [(f"x{rnd}", _ts(7200 + rnd), 0.0)], BUYS))
        later += two_streams.run_round(_click_buy_join("left_outer"))
    nulls = [(r["user"], r["amount"]) for r in later if r["amount"] is None]
    assert ("u2", None) in nulls
    # u1 matched in round 1 — it must NOT get a second (null) emission.
    assert all(u != "u1" for u, _ in nulls)


def test_stream_stream_right_outer_null_after_watermark(spark, two_streams):
    """Right-outer on unbounded×unbounded (VERDICT r8 #7): the matched
    pair emits eagerly; the unmatched PURCHASE emits its NULL-click row
    (key preserved via the coalesced key column) only once the click
    watermark proves no in-range click can still arrive."""
    two_streams.feed("clicks", spark.createDataFrame(
        [("u1", _ts(0))], CLICKS))
    two_streams.feed("buys", spark.createDataFrame(
        [("u1", _ts(300), 5.0), ("u3", _ts(300), 7.0)], BUYS))
    out1 = two_streams.run_round(_click_buy_join("right_outer"))
    assert [(r["user"], r["amount"]) for r in out1] == [("u1", 5.0)]

    later = []
    for rnd in range(2):
        two_streams.feed("clicks", spark.createDataFrame(
            [(f"x{rnd}", _ts(3600 + rnd))], CLICKS))
        two_streams.feed("buys", spark.createDataFrame(
            [(f"x{rnd}", _ts(7200 + rnd), 0.0)], BUYS))
        later += two_streams.run_round(_click_buy_join("right_outer"))
    nulls = [(r["user"], r["click_ts"], r["amount"])
             for r in later if r["click_ts"] is None]
    # the key must survive on the NULL-left pane (coalesced key column)
    assert ("u3", None, 7.0) in nulls
    # u1 matched eagerly — no second (null) emission
    assert all(u != "u1" for u, _, _ in nulls)


def test_stream_stream_full_outer_both_null_sides_fire(spark, two_streams):
    """Full-outer on unbounded×unbounded (VERDICT r8 #7): BOTH
    unmatched sides fire their NULL rows at watermark — the unmatched
    click with a NULL buy side AND the unmatched purchase with a NULL
    click side, each exactly once, keys preserved."""
    two_streams.feed("clicks", spark.createDataFrame(
        [("u1", _ts(0)), ("u2", _ts(0))], CLICKS))
    two_streams.feed("buys", spark.createDataFrame(
        [("u1", _ts(300), 5.0), ("u3", _ts(300), 7.0)], BUYS))
    out1 = two_streams.run_round(_click_buy_join("full_outer"))
    assert [(r["user"], r["amount"]) for r in out1] == [("u1", 5.0)]

    later = []
    for rnd in range(2):
        two_streams.feed("clicks", spark.createDataFrame(
            [(f"x{rnd}", _ts(3600 + rnd))], CLICKS))
        two_streams.feed("buys", spark.createDataFrame(
            [(f"x{rnd}", _ts(7200 + rnd), 0.0)], BUYS))
        later += two_streams.run_round(_click_buy_join("full_outer"))
    nulls = {(r["user"], r["click_ts"] is None, r["buy_ts"] is None)
             for r in later
             if r["click_ts"] is None or r["buy_ts"] is None}
    # unmatched click u2: buy side NULL; unmatched buy u3: click side NULL
    assert ("u2", False, True) in nulls
    assert ("u3", True, False) in nulls
    # the matched pair never re-fires as a null pane
    assert all(u != "u1" for u, _, _ in nulls)


def session_count(stream):
    return (
        SC.with_watermark(stream, "ts", "0 seconds")
        .groupBy(F.session_window("ts", "30 seconds").alias("w"), "key")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("ws"), F.col("w.end").alias("we"), "key", "n"
        )
    )


def test_streaming_session_windows_merge_and_close(spark, harness):
    """Sessions (merging WindowFn) under a watermark in TRUE streaming
    mode: rows within the 30 s gap merge into one growing session; the
    session closes (append-mode emission) only when the watermark passes
    its end. The reference's hardest windowing case (MergingWindowFn +
    AfterWatermark) — here it's Spark's session_window state merge."""
    # a: rows at 0 and 20 chain one session [0, 50); b: singleton at 10.
    harness.feed(_batch(spark, _rows(spark, (1, 0, "a", 1), (2, 20, "a", 1), (3, 10, "b", 1))))
    out1 = harness.run_round(session_count, output_mode="append")
    # Watermark only reached 20 — no session end (40/50) passed; nothing final.
    assert out1 == []

    # A far-future row closes both sessions; a's merged across the gap.
    harness.feed(_batch(spark, _rows(spark, (4, 500, "a", 1))))
    out2 = harness.run_round(session_count, output_mode="append")
    got = {(str(r["ws"]), str(r["we"]), r["key"]): r["n"] for r in out2}
    assert got == {
        ("2024-01-01 00:00:00", "2024-01-01 00:00:50", "a"): 2,
        ("2024-01-01 00:00:10", "2024-01-01 00:00:40", "b"): 1,
    }


def sliding_count(stream):
    return (
        SC.with_watermark(stream, "ts", "0 seconds")
        .groupBy(F.window("ts", "60 seconds", "30 seconds").alias("w"), "key")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "key", "n")
    )


def test_streaming_sliding_windows_assign_to_overlaps(spark, harness):
    """SlidingWindows in true streaming: a row at t=40 belongs to BOTH
    [0,60) and [30,90); each pane finalizes when the watermark passes its
    own end — staggered emission across rounds."""
    harness.feed(_batch(spark, _rows(spark, (1, 40, "a", 1))))
    out1 = harness.run_round(sliding_count, output_mode="append")
    # Watermark 40: neither window closed; [-30,30) got no rows (no pane).
    assert out1 == []
    harness.feed(_batch(spark, _rows(spark, (2, 70, "a", 1))))
    out2 = harness.run_round(sliding_count, output_mode="append")
    # Watermark 70 closes [0,60): contains only the t=40 row.
    assert {(str(r["ws"]), r["key"], r["n"]) for r in out2} == {
        ("2024-01-01 00:00:00", "a", 1)
    }
    harness.feed(_batch(spark, _rows(spark, (3, 500, "a", 1))))
    out3 = harness.run_round(sliding_count, output_mode="append")
    # [30,90) closes with both rows; [60,120) with the t=70 row.
    assert {(str(r["ws"]), r["key"], r["n"]) for r in out3} == {
        ("2024-01-01 00:00:30", "a", 2),
        ("2024-01-01 00:01:00", "a", 1),
    }


def test_exactly_once_file_sink_across_restarts(spark, harness, tmp_path_factory):
    """FileBasedSink exactly-once (temp-write + manifest commit): the
    parquet streaming sink with a checkpoint never duplicates output even
    though each availableNow round restarts the query from scratch — the
    reference's finalize/rename protocol, done by Spark's sink manifest."""
    out_dir = str(tmp_path_factory.mktemp("eos")) + "/out"

    def run_sink_round():
        src = SC.read_stream_dropdir(spark, harness.input_dir, SCHEMA)
        q = (
            windowed_count(src)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", harness.checkpoint)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    harness.feed(_batch(spark, _rows(spark, (1, 10, "a", 1), (2, 20, "a", 1), (3, 70, "a", 1))))
    run_sink_round()
    harness.feed(_batch(spark, _rows(spark, (4, 500, "a", 1))))
    run_sink_round()
    # Re-running with no new data must add nothing (idempotent restart).
    run_sink_round()

    got = sorted(
        (str(r["ws"]), r["key"], r["n"])
        for r in spark.read.parquet(out_dir).collect()
    )
    assert got == [
        ("2024-01-01 00:00:00", "a", 2),
        ("2024-01-01 00:01:00", "a", 1),
    ]


def test_rocksdb_state_store_provider_works(spark, harness):
    """SCALE.md's large-key-space posture: the RocksDB state store (state
    spills to local disk instead of JVM heap) runs the same windowed
    aggregate unchanged — the conf IS the migration."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        harness.feed(_batch(spark, _rows(spark, (1, 10, "a", 1), (2, 20, "a", 1), (3, 70, "a", 1))))
        out1 = harness.run_round(windowed_count, output_mode="append")
        assert {(str(r["ws"]), r["key"], r["n"]) for r in out1} == {
            ("2024-01-01 00:00:00", "a", 2)
        }
        harness.feed(_batch(spark, _rows(spark, (4, 500, "a", 1))))
        out2 = harness.run_round(windowed_count, output_mode="append")
        assert {(str(r["ws"]), r["key"], r["n"]) for r in out2} == {
            ("2024-01-01 00:01:00", "a", 1)
        }
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_stateful_par_do_timer_survives_unrelated_batch(spark, harness):
    """Beam timers persist until they fire or are overwritten. The Beam
    set-once idiom (arm the timer only when first creating state) must
    work even when later data batches for the key arrive before expiry:
    GroupState cancels its timeout on every invocation unless re-set, so
    the kernel re-arms the pending expiry from the state blob. Without
    that, round 2 below would silently cancel the timer and the final
    pane would never fire."""
    import pandas as pd

    from dataflowjavasdk_spark.streaming.state import stateful_par_do

    def fn(key, rows, state):
        if state.timer_fired:
            total = state.value("count", 0)
            state.clear_all()
            return pd.DataFrame({"key": [key[0]], "n": [total], "final": [True]})
        if len(rows) == 0:
            return None
        state.set("count", state.value("count", 0) + len(rows))
        if not state.value("armed", False):  # arm ONCE, on first sight
            state.set("armed", True)
            first_ms = int(rows["ts"].min().timestamp() * 1000)
            state.set_timer(first_ms + 60_000)
        return None

    def build(stream):
        return stateful_par_do(
            stream, keys=["key"], fn=fn,
            output_schema="key string, n long, final boolean",
        )

    harness.feed(_batch(spark, _rows(spark, (1, 10, "a", 1))))
    assert harness.run_round(build, "update") == []

    # second batch for the same key: fn does NOT re-set the timer
    harness.feed(_batch(spark, _rows(spark, (2, 20, "a", 1))))
    assert harness.run_round(build, "update") == []

    # advance the watermark past the timer armed in round 1
    harness.feed(_batch(spark, _rows(spark, (3, 500, "b", 1))))
    out = [(r["key"], r["n"], r["final"]) for r in harness.run_round(build, "update")]
    assert ("a", 2, True) in out


def test_streaming_incremental_dedup_against_static_corpus_index(spark):
    """Ingest-time dedup as a streaming pipeline: new documents arrive in
    micro-batches and are classified against a STATIC corpus fingerprint
    index via a stream-static join (the production shape of
    incremental_dedup's exact stage — the index is precomputed once, each
    batch probes it). Batch 1 carries exact copies of corpus docs, batch
    2 carries genuinely new text; the verdicts must flip accordingly and
    state/checkpoint must carry across rounds."""
    from dataflowjavasdk_spark.functions import text as T
    from dataflowjavasdk_spark.sources.tables import load_table
    from tests.conftest import SMOKE_SF

    docs = load_table(spark, SMOKE_SF, "documents").select("doc_id", "text")
    corp_fp = (
        docs.select(T.fingerprint("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("match_id"))
    )

    schema = "doc_id long, text string"
    h = SC.MicroBatchHarness(spark, schema)
    try:
        copies = (
            docs.filter(F.col("doc_id") % 20 == 0)
            .withColumn("doc_id", F.col("doc_id") + 1_000_000)
            .limit(50)
        )
        h.feed(copies)

        def classify(stream):
            fp = stream.withColumn("fp", T.fingerprint("text"))
            joined = fp.join(corp_fp, "fp", "left")
            return joined.select(
                "doc_id",
                F.when(F.col("match_id").isNotNull(), F.lit("exact"))
                .otherwise(F.lit("unique"))
                .alias("verdict"),
                "match_id",
            )

        round1 = h.run_round(classify)
        assert round1, "first batch must emit classifications"
        assert all(r["verdict"] == "exact" for r in round1)
        for r in round1:
            # min-id representative: same normalized text as the copy's base
            assert r["match_id"] is not None

        fresh = spark.createDataFrame(
            [(9_000_000 + i, f"genuinely new text number {i}") for i in range(5)],
            schema,
        )
        h.feed(fresh)
        round2 = h.run_round(classify)
        emitted2 = {r["doc_id"]: r for r in round2}
        # the checkpoint must not re-emit batch 1 (exactly-once per round)
        assert set(emitted2) == {9_000_000 + i for i in range(5)}
        assert all(r["verdict"] == "unique" for r in round2)
    finally:
        h.close()


@pytest.fixture()
def avro_harness(spark):
    h = SC.MicroBatchHarness(spark, SCHEMA, fmt="avro")
    yield h
    h.close()


@pytest.fixture()
def jsonl_harness(spark):
    h = SC.MicroBatchHarness(spark, SCHEMA, fmt="jsonl")
    yield h
    h.close()


def test_read_stream_avro_watermark_panes(spark, avro_harness):
    """AvroIO streaming source (VERDICT r3 #5): avro container files
    dropped into the dir become micro-batches through the pure-Python OCF
    codec; watermark state carries across rounds exactly like the parquet
    drop-dir (same assertions as
    test_append_mode_emits_once_after_watermark)."""
    avro_harness.feed(
        _batch(spark, _rows(spark, (1, 10, "a", 1), (2, 20, "a", 1), (3, 70, "a", 1)))
    )
    out1 = avro_harness.run_round(windowed_count, output_mode="append")
    got1 = {(str(r["ws"]), r["key"]): r["n"] for r in out1}
    assert got1 == {("2024-01-01 00:00:00", "a"): 2}

    avro_harness.feed(_batch(spark, _rows(spark, (4, 500, "a", 1))))
    out2 = avro_harness.run_round(windowed_count, output_mode="append")
    got2 = {(str(r["ws"]), r["key"]): r["n"] for r in out2}
    assert got2 == {("2024-01-01 00:01:00", "a"): 1}


def test_read_stream_avro_equals_batch_read(spark, avro_harness):
    """Batch-equivalence: the unified-model contract — the streaming Avro
    source passed through unchanged must deliver exactly the rows the
    batch read_avro sees on the same files."""
    from dataflowjavasdk_spark.sources.avro import read_avro

    rows = _rows(spark, (1, 10, "a", 1.5), (2, 20, "b", 2.5), (3, 70, "c", 3.5))
    avro_harness.feed(_batch(spark, rows[:2]))
    avro_harness.feed(_batch(spark, rows[2:]))
    streamed = avro_harness.run_round(lambda s: s, output_mode="append")
    batch = read_avro(spark, avro_harness.input_dir).collect()
    key = lambda r: (r["event_id"], str(r["ts"]), r["key"], r["value"])  # noqa: E731
    assert sorted(map(key, streamed)) == sorted(map(key, batch))
    assert len(batch) == 3


def test_read_stream_avro_empty_dir_requires_schema(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        SC.read_stream_avro(spark, str(tmp_path))


def test_read_stream_jsonl_watermark_panes(spark, jsonl_harness):
    """JSON-lines drop-dir source: the other non-parquet PubsubIO-from-
    files payload. Same pane assertions as the parquet harness test."""
    jsonl_harness.feed(
        _batch(spark, _rows(spark, (1, 10, "a", 1), (2, 20, "a", 1), (3, 70, "a", 1)))
    )
    out1 = jsonl_harness.run_round(windowed_count, output_mode="append")
    got1 = {(str(r["ws"]), r["key"]): r["n"] for r in out1}
    assert got1 == {("2024-01-01 00:00:00", "a"): 2}

    jsonl_harness.feed(_batch(spark, _rows(spark, (4, 500, "a", 1))))
    out2 = jsonl_harness.run_round(windowed_count, output_mode="append")
    got2 = {(str(r["ws"]), r["key"]): r["n"] for r in out2}
    assert got2 == {("2024-01-01 00:01:00", "a"): 1}


def test_avro_stream_source_to_avro_stream_sink_exactly_once(
    spark, avro_harness, tmp_path_factory
):
    """Full unbounded AvroIO loop: avro drop-dir source → windowed agg →
    exactly-once avro streaming sink, across restarts (each availableNow
    round restarts the query; the third round replays with no new data
    and must add nothing). Closes the PubsubIO-from-files pattern for
    Avro payloads end to end — source AND sink twins of the batch codec."""
    from dataflowjavasdk_spark.sources.avro import read_avro, write_stream_avro

    out_dir = str(tmp_path_factory.mktemp("avro_eos")) + "/out"

    def run_sink_round():
        src = avro_harness._source()
        q = (
            write_stream_avro(
                windowed_count(src), out_dir, avro_harness.checkpoint
            )
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    avro_harness.feed(
        _batch(spark, _rows(spark, (1, 10, "a", 1), (2, 20, "a", 1), (3, 70, "a", 1)))
    )
    run_sink_round()
    avro_harness.feed(_batch(spark, _rows(spark, (4, 500, "a", 1))))
    run_sink_round()
    run_sink_round()  # replay with nothing new — idempotent

    got = sorted(
        (str(r["ws"]), r["key"], r["n"])
        for r in read_avro(spark, out_dir).collect()
    )
    assert got == [
        ("2024-01-01 00:00:00", "a", 2),
        ("2024-01-01 00:01:00", "a", 1),
    ]


def test_tfrecord_stream_sink_exactly_once_across_restarts(
    spark, harness, tmp_path_factory
):
    """Streaming twin of the trainer-egress write side (round 7): drop-dir
    source → windowed agg → exactly-once TFRecord streaming sink, across
    restarts. Each availableNow round restarts the query from the
    checkpoint; the third round replays with no new data and must add
    nothing (the batch=<id>/_SUCCESS marker is the atomic commit point).
    Read-back goes through the CRC-verified batch reader + parse_examples,
    so the committed bytes — not just the file census — are asserted."""
    from dataflowjavasdk_spark.sources.tfrecord import (
        parse_examples,
        read_tfrecord,
        write_stream_tfrecord,
    )

    out_dir = str(tmp_path_factory.mktemp("tfr_eos")) + "/out"

    def build(stream):
        return windowed_count(stream).select(
            F.col("ws").cast("string").alias("ws"), "key", "n"
        )

    def run_sink_round():
        q = (
            write_stream_tfrecord(
                build(harness._source()), out_dir, harness.checkpoint
            )
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    harness.feed(
        _batch(spark, _rows(spark, (1, 10, "a", 1), (2, 20, "a", 1), (3, 70, "a", 1)))
    )
    run_sink_round()
    harness.feed(_batch(spark, _rows(spark, (4, 500, "a", 1))))
    run_sink_round()
    run_sink_round()  # replay with nothing new — idempotent

    back = parse_examples(
        read_tfrecord(spark, out_dir),
        {"ws": "string", "key": "string", "n": "bigint"},
    )
    got = sorted((r["ws"], r["key"], r["n"]) for r in back.collect())
    assert got == [
        ("2024-01-01 00:00:00", "a", 2),
        ("2024-01-01 00:01:00", "a", 1),
    ]


def test_streaming_calendar_windows_update_mode(spark, harness):
    """CalendarWindows is a pure assignment expression, so the SAME
    WindowFn drives unbounded input: tz-offset day windows as the
    grouping key of a streaming update-mode aggregate (calendar structs
    aren't Spark `window()` columns, so append-mode watermark finalize
    doesn't apply — update mode emits refinements per micro-batch, the
    early-firing semantics; the trigger kernel covers finalize)."""
    from dataflowjavasdk_spark.operators.windowing import CalendarWindows

    fn = CalendarWindows.days("-8 hours")

    def build(stream):
        return (
            stream.withColumn("w", fn.assign(F.col("ts")))
            .groupBy("w", "key")
            .count()
            .select(F.col("w.start").alias("ws"), "key", "count")
        )

    # 2024-01-01 04:00 UTC is Dec 31 local (−08:00); 09:00 UTC is Jan 1.
    harness.feed(
        _batch(
            spark,
            _rows(spark, (1, 4 * 3600, "a", 1), (2, 9 * 3600, "a", 1)),
        )
    )
    out1 = harness.run_round(build, output_mode="update")
    got1 = {(str(r["ws"]), r["key"]): r["count"] for r in out1}
    assert got1 == {
        ("2023-12-31 08:00:00", "a"): 1,
        ("2024-01-01 08:00:00", "a"): 1,
    }
    # A later element in the same local day REFINES the existing window.
    harness.feed(_batch(spark, _rows(spark, (3, 10 * 3600, "a", 1))))
    out2 = harness.run_round(build, output_mode="update")
    got2 = {(str(r["ws"]), r["key"]): r["count"] for r in out2}
    assert got2 == {("2024-01-01 08:00:00", "a"): 2}


def test_media_stream_curation_pane_sequence(spark, tmp_path):
    """The flagship's streaming twin: media files land in a drop-dir,
    each availableNow round runs sniff → route → decode → gate →
    update-mode per-type aggregation against ONE checkpoint. Panes must
    refine cumulatively across rounds (update-mode state survives
    restarts), and the final counts must equal the batch flagship core
    run over the same payloads — the unified-model contract."""
    import numpy as np
    from pyspark.sql import functions as F

    from dataflowjavasdk_spark.functions.jpeg import encode_jpeg
    from dataflowjavasdk_spark.functions.multimodal import (
        curate_media_features,
        encode_bmp,
        encode_png,
        sniff_media_meta,
    )
    from dataflowjavasdk_spark.streaming import core as SC

    def wav_bytes(rate, n):
        import io
        import wave

        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(b"\x01\x00" * n)
        return buf.getvalue()

    payloads = {
        1: encode_png(np.zeros((4, 4), dtype=np.uint8)),        # kept (16 px)
        2: encode_bmp(np.zeros((2, 2, 3), dtype=np.uint8)),     # dropped (4 px)
        3: encode_jpeg(np.full((8, 8), 60, dtype=np.uint8)),    # kept (64 px)
        4: wav_bytes(8000, 5),                                  # dropped (rate)
        5: wav_bytes(44100, 7),                                 # kept
        6: encode_png(np.zeros((3, 3), dtype=np.uint8)),        # kept (9 px)
    }
    d = tmp_path / "media_drop"
    d.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def land(ids):
        for i in ids:
            (d / f"media-{i:04d}.bin").write_bytes(payloads[i])

    def build_agg():
        stream = SC.read_stream_media(spark, str(d))
        sniffed = sniff_media_meta(stream).select(
            "media_id", "payload", F.col("meta.media_type").alias("media_type")
        )
        return (
            curate_media_features(sniffed)
            .groupBy("media_type")
            .agg(
                F.count(F.lit(1)).alias("n_total"),
                F.sum(F.when(F.col("kept"), 1).otherwise(0))
                .cast("long")
                .alias("n_kept"),
            )
        )

    def run_round():
        panes = []

        def sink(batch_df, batch_id):
            panes.extend(
                (r["media_type"], r["n_total"], r["n_kept"])
                for r in batch_df.collect()
            )

        q = (
            build_agg()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        # latest pane per type this round
        return {t: (n, k) for t, n, k in panes}

    land([1, 2, 4])
    out1 = run_round()
    assert out1["image/png"] == (1, 1)
    assert out1["image/bmp"] == (1, 0)
    assert out1["audio/wav"] == (1, 0)
    # round 2: new files REFINE the same keys (update-mode state held
    # across the restart) and add a new key
    land([3, 5, 6])
    out2 = run_round()
    assert out2["image/png"] == (2, 2)
    assert out2["image/jpeg"] == (1, 1)
    assert out2["audio/wav"] == (2, 1)
    assert "image/bmp" not in out2  # unchanged key emits no update pane

    # unified-model contract: batch core over the same payloads agrees
    batch_media = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in payloads.items()],
        "media_id long, payload binary",
    )
    sniffed = sniff_media_meta(batch_media).select(
        "media_id", "payload", F.col("meta.media_type").alias("media_type")
    )
    batch = {
        r["media_type"]: (r["n_total"], r["n_kept"])
        for r in curate_media_features(sniffed)
        .groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
        )
        .collect()
    }
    final = dict(out1)
    final.update(out2)
    assert batch == final


def test_streaming_curation_capstone_end_to_end(spark, tmp_path):
    """VERDICT r7 #6 — the streaming curation capstone as ONE pipeline:
    drop-dir media → sniff → decode/gate → kept-only → TFRecord egress
    with batch=N/_SUCCESS commits. Asserts (1) restart/replay is
    exactly-once at the shard level (re-running with nothing new adds
    nothing; re-running after new files adds exactly those), (2) the
    read-back equals the BATCH run of the identical curation core over
    the same payloads — the unified-model contract, through the wire
    format."""
    import numpy as np
    from pyspark.sql import functions as F

    from dataflowjavasdk_spark.functions.jpeg import encode_jpeg
    from dataflowjavasdk_spark.functions.multimodal import (
        curate_media_features,
        encode_bmp,
        encode_png,
        sniff_media_meta,
    )
    from dataflowjavasdk_spark.sources.tfrecord import (
        parse_examples,
        read_tfrecord,
    )
    from dataflowjavasdk_spark.streaming import core as SC

    def wav_bytes(rate, n):
        import io
        import wave

        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(b"\x01\x00" * n)
        return buf.getvalue()

    payloads = {
        1: encode_png(np.zeros((4, 4), dtype=np.uint8)),      # kept
        2: encode_bmp(np.zeros((2, 2, 3), dtype=np.uint8)),   # gated out
        3: encode_jpeg(np.full((8, 8), 60, dtype=np.uint8)),  # kept
        4: wav_bytes(8000, 5),                                # gated out
        5: wav_bytes(44100, 7),                               # kept
    }
    d = tmp_path / "drop"
    d.mkdir()
    out_dir = str(tmp_path / "shards")
    ckpt = str(tmp_path / "ckpt")

    def land(ids):
        for i in ids:
            (d / f"media-{i:04d}.bin").write_bytes(payloads[i])

    def run_round():
        q = (
            SC.streaming_curation_capstone(spark, str(d), out_dir, ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    def read_back():
        back = parse_examples(
            read_tfrecord(spark, out_dir),
            {
                "media_id": "bigint",
                "media_type": "string",
                "units": "bigint",
                "mean_pix": "double",
                "rate": "bigint",
            },
        )
        return sorted(
            (r["media_id"], r["media_type"], r["units"], r["rate"])
            for r in back.collect()
        )

    land([1, 2, 4])
    run_round()
    got1 = read_back()
    assert [(m, t) for m, t, _, _ in got1] == [(1, "image/png")]

    # restart with nothing new: replay must add NOTHING (exactly-once)
    run_round()
    assert read_back() == got1

    # more media lands; a new round commits exactly the new keepers
    land([3, 5])
    run_round()
    got2 = read_back()
    assert [(m, t) for m, t, _, _ in got2] == [
        (1, "image/png"),
        (3, "image/jpeg"),
        (5, "audio/wav"),
    ]

    # batch/stream agreement: the identical curation core over the same
    # payload bytes, bounded — must equal the wire-format read-back.
    batch_media = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in payloads.items()],
        "media_id long, payload binary",
    )
    sniffed = sniff_media_meta(batch_media).select(
        "media_id", "payload", F.col("meta.media_type").alias("media_type")
    )
    batch_rows = sorted(
        (
            r["media_id"],
            r["media_type"],
            r["units"],
            r["rate"],
        )
        for r in curate_media_features(sniffed)
        .filter(F.col("kept"))
        .select("media_id", "media_type", "units", "rate")
        .collect()
    )
    assert batch_rows == got2


def test_streaming_ivf_index_maintenance(spark, tmp_path):
    """Streaming ANN index maintenance (round 8): vectors landing in a
    drop-dir are assigned to the BROADCAST centroid codebook
    (stream-static join — the IVF build step running unbounded) and the
    per-cell population refines in update mode across micro-batches.
    This is how a production vector index absorbs a crawl: centroids
    are periodically retrained offline (kmeans_ivf_refined), membership
    is maintained ONLINE. Final per-cell counts must equal the batch
    assignment over the same vectors — unified-model agreement."""
    import numpy as np
    from pyspark.sql import functions as F

    from dataflowjavasdk_spark.functions import similarity as S
    from dataflowjavasdk_spark.streaming import core as SC

    rng = np.random.default_rng(11)
    cents = [[float(x) for x in v] for v in rng.normal(size=(4, 8))]
    vec_schema = "vec_id long, vec array<float>"
    all_vecs = [
        (i, [float(x) for x in rng.normal(size=8)]) for i in range(40)
    ]
    d = tmp_path / "vecs"
    d.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def land(rows, name):
        import glob
        import shutil

        tmp = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(rows, vec_schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = glob.glob(tmp + "/part-*.parquet")[0]
        shutil.move(part, str(d / (name + ".parquet")))
        shutil.rmtree(tmp)

    def assign(df):
        # Assignment is a pure map-side expression (the codebook is a
        # constant literal — the broadcast-index shape): argmax over an
        # array of (cosine, -cell) structs, deterministic tiebreak to
        # the lowest cell. No shuffle before the single stateful
        # aggregation — the only streaming-legal AND the only
        # 100TB-sane plan (row_number windows are neither).
        cand = F.array(
            *[
                F.struct(
                    S.cosine(
                        F.col("vec"), F.array(*[F.lit(x) for x in cents[i]])
                    ).alias("c"),
                    F.lit(-i).alias("negcell"),
                )
                for i in range(4)
            ]
        )
        best = F.array_max(cand)
        return (
            df.select((-best.getField("negcell")).alias("cell"))
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    panes: dict = {}

    def run_round():
        def sink(batch_df, _bid):
            for r in batch_df.collect():
                panes[r["cell"]] = r["n"]

        q = (
            assign(
                spark.readStream.schema(vec_schema).option(
                    "maxFilesPerTrigger", 1
                ).parquet(str(d))
            )
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    land(all_vecs[:15], "p1")
    run_round()
    first_total = sum(panes.values())
    assert first_total == 15

    land(all_vecs[15:], "p2")
    run_round()  # state held across restart: counts REFINE, not reset
    assert sum(panes.values()) == 40

    batch = {
        r["cell"]: r["n"]
        for r in assign(
            spark.createDataFrame(all_vecs, vec_schema)
        ).collect()
    }
    assert panes == batch, "streaming index counts diverge from batch"


def test_stalled_source_holds_watermark(spark):
    """Source-computed watermark emulation (VERDICT r9 #8): the
    SourceWatermarkTracker's per-source/min watermarks — read from the
    drop-dirs' parquet footer statistics, no data scan — must PREDICT the
    engine's N-way CoGBK close behavior round by round, including the
    Beam slowest-input rule: a STALLED source (no new files) pins the min
    watermark at its last file's max event time and holds every window at
    or past it open, exactly ReduceFnRunner's min-across-inputs close."""
    h = SC.MultiStreamHarness(spark, {"a": THREE, "b": THREE, "c": THREE})
    try:
        names = ["a", "b", "c"]
        tracker = SC.SourceWatermarkTracker(
            {n: h.input_dirs[n] for n in names}, ts_col="ts"
        )

        def build(sources):
            return SC.nway_windowed_cogroup(
                sources, key="key", ts_col="ts", window_size="60 seconds",
                value_col="v",
            )

        # no files anywhere: an unstarted source is -inf
        assert tracker.low_watermark() is None

        h.feed("a", spark.createDataFrame(
            [("k1", _ts(10), 1.0), ("k1", _ts(20), 2.0)], THREE))
        h.feed("b", spark.createDataFrame([("k1", _ts(30), 4.0)], THREE))
        # c still empty -> tracker holds everything; the query agrees
        assert tracker.low_watermark() is None
        assert h.run_round(build, output_mode="append") == []

        h.feed("c", spark.createDataFrame([("k2", _ts(40), 8.0)], THREE))
        per = tracker.per_source()
        assert (per["a"], per["b"], per["c"]) == (_ts(20), _ts(30), _ts(40))
        assert tracker.low_watermark() == _ts(20)  # min across sources
        # 20s < 60s: [0,60) stays open
        assert h.run_round(build, output_mode="append") == []

        # advance a and b far past the window end; c is STALLED -> the
        # min stays pinned at c's 40s and [0,60) must remain open
        h.feed("a", spark.createDataFrame([("kx", _ts(120), 1.0)], THREE))
        h.feed("b", spark.createDataFrame([("kx", _ts(130), 1.0)], THREE))
        assert tracker.low_watermark() == _ts(40)
        assert h.run_round(build, output_mode="append") == []

        # the stalled source finally advances -> the tracker's min passes
        # 60s immediately (Beam would close NOW). Spark discards
        # per-source progress on availableNow restart (the offset log
        # persists only the GLOBAL min, so idle sources a/b restore to
        # 40s) — the round emits nothing yet, which is exactly the
        # information gap the tracker closes: it still knows a=120/b=130.
        h.feed("c", spark.createDataFrame([("kx", _ts(125), 1.0)], THREE))
        assert tracker.low_watermark() == _ts(120)
        assert h.run_round(build, output_mode="append") == []
        # all sources tick -> every watermark node re-observes data past
        # the window end, the min passes 60s in-run, [0,60) closes once
        # with per-source counts/sums and the empty-iterable zeros
        for n in names:
            h.feed(n, spark.createDataFrame([("kx", _ts(140), 1.0)], THREE))
        assert tracker.low_watermark() == _ts(140)
        out = h.run_round(build, output_mode="append")
        got = {
            (str(r["window_start"]), r["key"]): (
                r["n_a"], r["n_b"], r["n_c"], r["sum_a"], r["sum_b"], r["sum_c"]
            )
            for r in out
        }
        assert got == {
            ("2024-01-01 00:00:00", "k1"): (2, 1, 0, 3.0, 4.0, 0.0),
            ("2024-01-01 00:00:00", "k2"): (0, 0, 1, 0.0, 0.0, 8.0),
        }
        assert h.run_round(build, output_mode="append") == []  # replay
    finally:
        h.close()
