"""Event-time windowing queries (SURVEY.md §2.7) on the `events` table.

The reference's signature feature: Window.into(WindowFn) + per-key-per-window
grouping (historical sdk/transforms/windowing/*.java; Dataflow VLDB 2015
§2.2). Batch equivalents here; the same window expressions feed the
streaming layer unchanged (unified model).

Scale notes: window assignment is a pure projection (no shuffle); the single
shuffle is the groupBy on (window, key), which AQE coalesces. Sliding
windows multiply rows by size/period before the shuffle — that fan-out is
map-side and pipelined, never materialized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataflowjavasdk_spark.queries.helpers import dsum, sql_dsum
from dataflowjavasdk_spark.queries.registry import query
from dataflowjavasdk_spark.sources.tables import load_table


@query(
    "tumbling_hourly_events",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           count(*) AS n_events,
           {sql_dsum('value')} AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def tumbling_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP — FixedWindows.of(1h) + Count/Sum per key per window.

    The WindowedWordCount of this engine (reference example
    examples/WindowedWordCount.java; FixedWindows: historical
    sdk/transforms/windowing/FixedWindows.java).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "sliding_windows_events",
    oracle=f"""
    WITH offsets AS (SELECT unnest(range(0, 4)) AS k),
    assigned AS (
      SELECT date_trunc('minute', ts)
               - (EXTRACT(minute FROM ts)::BIGINT % 15) * INTERVAL 1 MINUTE
               - (15 * k) * INTERVAL 1 MINUTE AS window_start,
             value
      FROM events, offsets
    )
    SELECT window_start,
           window_start + 60 * INTERVAL 1 MINUTE AS window_end,
           count(*) AS n_events,
           {sql_dsum('value')} AS sum_value
    FROM assigned
    GROUP BY 1, 2
    """,
)
def sliding_windows_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SlidingWindows.of(60 min).every(15 min) — each element lands in 4
    windows (historical sdk/transforms/windowing/SlidingWindows.java).

    Spark's F.window(ts, size, slide) does the 1→4 assignment as a
    generator projection before the shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "60 minutes", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "session_windows_events",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       < INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_session
      FROM events
    ),
    numbered AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events,
           {sql_dsum('value')} AS sum_value
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def session_windows_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessions.withGapDuration(30 min) — merging windows per key
    (historical sdk/transforms/windowing/Sessions.java; Dataflow 2015 §2.2).

    Batch implementation: F.session_window (native gap-merge at GBK time,
    exactly the reference's merge-on-group semantics). The oracle is the
    classic lag/cumsum sessionization, which is the SQL-expressible
    definition of the same windows.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "session_ids_per_event",
    oracle="""
    WITH flagged AS (
      SELECT event_id, user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       < INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_session
      FROM events
    )
    SELECT event_id, user_id,
           CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS session_seq
    FROM flagged
    """,
)
def session_ids_per_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-ELEMENT session ids (round 9): native session_window only
    yields windows at aggregation time, but a training pipeline
    sessionizing click logs needs the session id ON EVERY EVENT (session
    features joined back to examples, intra-session ordering, session
    splits for leakage-safe eval). The plan is its own lag → flag →
    running sum: with one fixed gap every provisional interval is
    [ts, ts+gap), so the running max end that a general interval merge
    tracks (operators/windowing.py::_stage_intervals) is just
    lag(ts) + gap.

    Determinism: (ts, event_id) breaks timestamp ties in BOTH engines'
    window order, so session_seq is total-order stable; output is all
    integers (session_seq per user starts at 1), no floats to hash.

    Scale shape: ONE shuffle on user_id + one partition sort, both
    window passes fused over the same ordering — at 100 TB this is the
    minimal cost of any per-key sessionization (Beam's GBK pays the
    identical shuffle+sort); the 186-261 ms native session_window twin
    (session_windows_events) covers the aggregate-only consumer."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    from pyspark.sql.window import Window as W

    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    prior = F.lag("ts").over(wo)
    opens = (
        prior.isNull() | (F.col("ts") >= prior + F.expr("INTERVAL 30 MINUTES"))
    ).cast("long")
    return (
        ev.withColumn("__opens", opens)
        .withColumn(
            "session_seq",
            F.sum("__opens").over(wo.rowsBetween(W.unboundedPreceding, 0)),
        )
        .select("event_id", "user_id", "session_seq")
    )


@query(
    "calendar_day_events",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, event_type,
           count(*) AS n_events, {sql_dsum('value')} AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def calendar_day_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CalendarWindows.days(1) — calendar-aligned windows (historical
    sdk/transforms/windowing/CalendarWindows.java). No Spark built-in for
    calendar windows: the window struct is derived with date_trunc
    expressions (SURVEY.md §4.2)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("day", F.col("ts")).alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
    )


@query(
    "global_window_events",
    oracle=f"""
    SELECT count(*) AS n_events,
           {sql_dsum('value')} AS sum_value,
           count(DISTINCT user_id) AS n_users
    FROM events
    """,
)
def global_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GlobalWindows + Combine.globally — the batch default window
    (historical sdk/transforms/windowing/GlobalWindows.java): plain global
    aggregate, no window column."""
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("sum_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "session_windows_dynamic_gap",
    oracle=f"""
    WITH g AS (
      SELECT user_id, ts, value,
             CASE WHEN event_type = 'click' THEN INTERVAL 10 MINUTE
                  ELSE INTERVAL 30 MINUTE END AS gap
      FROM events
    ),
    w AS (
      SELECT user_id, ts, value, gap,
             max(ts + gap) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) AS prev_end
      FROM g
    ),
    f AS (
      SELECT user_id, ts, value, gap,
             CASE WHEN prev_end IS NULL OR ts >= prev_end THEN 1 ELSE 0 END
               AS new_s
      FROM w
    ),
    n AS (
      SELECT user_id, ts, value, gap,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM f
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts + gap) AS session_end,
           count(*) AS n_events,
           {sql_dsum('value')} AS sum_value
    FROM n GROUP BY user_id, sid
    """,
)
def session_windows_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessions.withGapDuration with a per-element gap (the dynamic-gap
    form Beam added for data-dependent sessions): clicks close after 10
    minutes, everything else after 30. Spark's session_window accepts a
    Column gap natively; the oracle is interval-union sessionization — a
    new session starts when ts >= the running max of (ts + gap) over all
    earlier events, and the session end is the max merged interval end."""
    ev = load_table(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "click", F.lit("10 minutes")).otherwise(
        F.lit("30 minutes")
    )
    return (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "rollup_hourly_to_daily",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start, event_type,
           count(*) AS n_events,
           {sql_dsum('value')} AS sum_value,
           CAST(max(value) AS DOUBLE) AS max_value
    FROM events GROUP BY 1, 2
    """,
)
def rollup_hourly_to_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: the daily aggregate is
    computed FROM the hourly partial aggregate, never from raw events —
    count/sum/max re-aggregate losslessly (algebraic CombineFns, the
    property Dataflow's combiner lifting relies on). The oracle aggregates
    the raw table directly, so the equality check proves the two-level
    rollup is exact. At 100 TB this is the pattern for materialized
    rollup tables: the hourly relation is ~3 orders of magnitude smaller
    than raw events, and every coarser window (day/week/month) reads it
    instead of rescanning the facts."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_start"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_dec"),
        F.max("value").alias("max_value"),
    )
    return (
        hourly.groupBy(
            F.date_trunc("day", F.col("hour_start")).alias("day_start"), "event_type"
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_dec").cast("double").alias("sum_value"),
            F.max("max_value").alias("max_value"),
        )
    )


@query(
    "custom_merged_windows_events",
    oracle=f"""
    WITH iv AS (
      SELECT user_id, value,
             ts - INTERVAL 5 MINUTE AS s,
             ts + INTERVAL ((event_id % 10) + 1) MINUTE AS e
      FROM events
    ),
    flagged AS (
      SELECT user_id, value, s, e,
             CASE WHEN s >= COALESCE(
                    max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    TIMESTAMP '1900-01-01')
                  THEN 1 ELSE 0 END AS opens
      FROM iv
    ),
    numbered AS (
      SELECT user_id, value, s, e,
             SUM(opens) OVER (PARTITION BY user_id ORDER BY s, e
                              ROWS UNBOUNDED PRECEDING) AS wid
      FROM flagged
    )
    SELECT user_id,
           min(s) AS window_start,
           max(e) AS window_end,
           count(*) AS n_events,
           {sql_dsum('value')} AS sum_value
    FROM numbered
    GROUP BY user_id, wid
    """,
)
def custom_merged_windows_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom merging WindowFn (historical sdk/transforms/windowing/
    MergingWindowFn.java) beyond Sessions: each event spans the interval
    [ts − 5 min, ts + (event_id % 10 + 1) min) — backward-extending AND
    variable-width, so neither F.window nor session_window (whose
    intervals are [ts, ts+gap)) can express it. Overlapping intervals
    merge per user via the engine's distributed interval-merge
    (operators/windowing.py merge_intervals: two window-function passes,
    one shuffle on user_id). The oracle reproduces the merge with the
    same lag/max-cumsum SQL — merged boundaries and aggregates must agree
    exactly."""
    from dataflowjavasdk_spark.operators.windowing import (
        IntervalMergingWindowFn,
        group_by_window,
    )

    class BackwardVariableWindows(IntervalMergingWindowFn):
        def assign_interval(self, ts):
            gap_min = (F.col("event_id") % 10 + 1).cast("int")
            return (
                ts - F.expr("INTERVAL 5 MINUTES"),
                ts + F.make_interval(mins=gap_min),
            )

    ev = load_table(spark, sf_dir, "events")
    return (
        group_by_window(ev, BackwardVariableWindows(), ["user_id"], "ts")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            "user_id",
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "leaderboard_team_windows",
    oracle=f"""
    WITH team_scores AS (
      SELECT date_trunc('hour', ts) AS window_start,
             date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
             event_type AS team,
             count(*) AS n_events,
             {sql_dsum('value')} AS team_score
      FROM events
      GROUP BY 1, 2, 3
    )
    SELECT window_start, window_end, team, n_events, team_score, rk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY window_start
                                   ORDER BY team_score DESC, team) AS rk
      FROM team_scores
    ) WHERE rk <= 3
    """,
)
def leaderboard_team_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LeaderBoard, batch form (historical examples/complete/game/
    LeaderBoard.java — team scores per fixed window; the streaming pane
    behavior is the composed trigger-kernel test in
    tests/test_streaming.py): hourly tumbling windows x team with exact
    decimal score sums, then the top-3 teams per window via a window
    row_number over the ALREADY-aggregated (window, team) relation — the
    ranking shuffle moves one row per team-hour, never raw events.
    Deterministic tiebreak on team name makes the rank oracle-exact."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    scores = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("team_score"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            F.col("event_type").alias("team"),
            "n_events",
            "team_score",
        )
    )
    w = W.partitionBy("window_start").orderBy(
        F.col("team_score").desc(), F.col("team")
    )
    return scores.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 3)


@query(
    "calendar_day_events_tz",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts + INTERVAL '5 hours 30 minutes')
                - INTERVAL '5 hours 30 minutes' AS TIMESTAMP) AS window_start,
           event_type,
           count(*) AS n_events, {sql_dsum('value')} AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def calendar_day_events_tz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CalendarWindows.days(1).withTimeZone(...) (historical
    sdk/transforms/windowing/CalendarWindows.java — tz-aware calendar
    boundaries): day windows aligned to a UTC+05:30 civil day, computed
    as shift → truncate → unshift, so window_start is still an instant on
    the shared timeline. A fixed offset keeps the arithmetic exact and
    identical cross-engine; a DST-observing zone needs a tz database and
    makes some local times ambiguous — the documented scope here is
    fixed-offset zones (covers IST, the canonical non-hour-aligned one).
    """
    ev = load_table(spark, sf_dir, "events")
    shift = F.expr("INTERVAL 5 HOURS 30 MINUTES")
    local_day = F.date_trunc("day", F.col("ts") + shift) - shift
    return ev.groupBy(
        local_day.alias("window_start"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))


@query(
    "calendar_month_events_tz",
    oracle=f"""
    SELECT CAST(date_trunc('month', ts - INTERVAL '8 hours')
                + INTERVAL '8 hours' AS TIMESTAMP) AS window_start,
           CAST(date_trunc('month', ts - INTERVAL '8 hours')
                + INTERVAL 1 MONTH + INTERVAL '8 hours' AS TIMESTAMP) AS window_end,
           event_type,
           count(*) AS n_events, {sql_dsum('value')} AS sum_value
    FROM events GROUP BY 1, 2, 3
    """,
)
def calendar_month_events_tz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CalendarWindows.months(1).withTimeZone(UTC-08:00) (historical
    sdk/transforms/windowing/CalendarWindows.java) — month boundaries +
    timezone, the classic calendar-window bug site (VERDICT r3 #4).

    Driven through the CalendarWindows operator itself (not an inline
    expression twin), so the oracle checks the operator's shift →
    truncate → unshift arithmetic AND its variable-length month end
    (add_months, not a fixed interval). The fixture's events span Jan
    2024 UTC; the −08:00 civil day pulls the first hours of Jan 1 into a
    December 2023 window, so the boundary genuinely splits the data."""
    from dataflowjavasdk_spark.operators.windowing import (
        CalendarWindows,
        group_by_window,
    )

    ev = load_table(spark, sf_dir, "events")
    months = CalendarWindows.months("-8 hours")
    return (
        group_by_window(ev, months, keys=["event_type"])
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "calendar_year_orders",
    oracle=f"""
    SELECT CAST(date_trunc('year', o_orderdate) AS TIMESTAMP) AS window_start,
           CAST(date_trunc('year', o_orderdate) + INTERVAL 1 YEAR AS TIMESTAMP)
               AS window_end,
           o_orderpriority,
           count(*) AS n_orders, {sql_dsum('o_totalprice')} AS sum_price
    FROM orders GROUP BY 1, 2, 3
    """,
)
def calendar_year_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CalendarWindows.years(1) over orders.o_orderdate (1995-2001 in the
    fixture — seven variable-length year windows, including leap years
    whose end arithmetic a fixed 365-day interval would get wrong).
    Window assignment is a projection; the one shuffle is the
    (window, priority) groupBy."""
    from dataflowjavasdk_spark.operators.windowing import (
        CalendarWindows,
        group_by_window,
    )

    orders = load_table(spark, sf_dir, "orders")
    years = CalendarWindows.years()
    return (
        group_by_window(orders, years, keys=["o_orderpriority"], ts_col="o_orderdate")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("sum_price"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "o_orderpriority",
            "n_orders",
            "sum_price",
        )
    )


@query(
    "tumbling_emit_time_earliest",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           min(ts) AS emit_ts
    FROM events
    GROUP BY 1, 2
    """,
)
def tumbling_emit_time_earliest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OutputTimeFn.outputAtEarliestInputTimestamp (historical
    sdk/transforms/windowing/OutputTimeFn.java), driven through the
    facade's combine_per_key(output_time=...) so the operator path —
    not an inline expression — is what the oracle checks: each pane's
    emitted event-time is the earliest input timestamp it contains,
    carried as one extra algebraic min accumulator (partial-aggregated
    like any min; END_OF_WINDOW/LATEST share the same plumbing,
    unit-tested for all three policies)."""
    from dataflowjavasdk_spark.core import PCollection
    from dataflowjavasdk_spark.operators.windowing import FixedWindows, OutputTimeFn

    # load_table (not a raw read) so the events.ts physical-type vintage
    # normalization applies regardless of fixture generation.
    ev = PCollection(load_table(spark, sf_dir, "events"))
    out = ev.window_into(FixedWindows("1 hour"), ts_col="ts").combine_per_key(
        ["event_type"],
        {"n_events": F.count(F.lit(1))},
        output_time=OutputTimeFn.EARLIEST,
    )
    return out.df.select(
        F.col("window.start").alias("window_start"),
        "event_type",
        "n_events",
        "emit_ts",
    )
