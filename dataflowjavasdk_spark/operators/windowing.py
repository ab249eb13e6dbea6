"""Event-time windowing — WindowFn inventory (SURVEY.md §2.7).

Reference: Window.into(WindowFn) assigns elements to windows logically (no
data movement); grouping ops then group per (key, window); merging
WindowFns (Sessions) merge at GBK time (historical
sdk/transforms/windowing/{Window,WindowFn,FixedWindows,SlidingWindows,
Sessions,CalendarWindows,GlobalWindows}.java; Dataflow VLDB 2015 §2.2).

Identical here: `assign` is a pure struct-producing expression — a
projection, zero shuffle. The shuffle happens once, at the groupBy that
includes the window column. Sessions can't pre-assign (windows merge), so
it contributes a grouping expression instead — exactly the reference's
MergingWindowFn contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class WindowFn:
    """Base: assignment produces a `struct<start,end>` window column."""

    merging = False

    def assign(self, ts: Column) -> Column:
        raise NotImplementedError

    def group_expr(self, ts: Column) -> Column:
        """Expression used directly inside groupBy (per-key-per-window
        grouping). Defaults to the assignment expression."""
        return self.assign(ts)


class GlobalWindows(WindowFn):
    """Single window covering all time — the batch default (historical
    sdk/transforms/windowing/GlobalWindows.java). Grouping under the
    global window is a plain groupBy, so the group expression is a
    constant (dropped by callers)."""

    def assign(self, ts: Column) -> Column:
        return F.struct(
            F.lit(None).cast("timestamp").alias("start"),
            F.lit(None).cast("timestamp").alias("end"),
        )


class FixedWindows(WindowFn):
    """FixedWindows.of(size).withOffset(offset) — tumbling windows."""

    def __init__(self, size: str, offset: str | None = None):
        self.size = size
        self.offset = offset

    def assign(self, ts: Column) -> Column:
        if self.offset is not None:
            return F.window(ts, self.size, startTime=self.offset)
        return F.window(ts, self.size)


class SlidingWindows(WindowFn):
    """SlidingWindows.of(size).every(period) — each element belongs to
    size/period windows; Spark expands via a generator projection
    (Expand operator) before the shuffle."""

    def __init__(self, size: str, period: str):
        self.size = size
        self.period = period

    def assign(self, ts: Column) -> Column:
        return F.window(ts, self.size, self.period)


class Sessions(WindowFn):
    """Sessions.withGapDuration(gap) — merging windows: elements within
    `gap` of each other coalesce, per key. Assignment alone is undefined
    (windows merge at grouping time), so only group_expr exists; Spark's
    session_window implements the merge natively inside the aggregation.
    `gap` may be a literal ('30 minutes') or a Column for dynamic gaps."""

    merging = True

    def __init__(self, gap: str | Column):
        self.gap = gap

    def assign(self, ts: Column) -> Column:
        raise TypeError(
            "Sessions is a merging WindowFn: windows exist only after "
            "grouping — use group_expr inside a group_by (the reference "
            "raises the same way if you read a session window pre-GBK)."
        )

    def group_expr(self, ts: Column) -> Column:
        return F.session_window(ts, self.gap)


class IntervalMergingWindowFn(WindowFn):
    """Custom merging WindowFn (historical sdk/transforms/windowing/
    MergingWindowFn.java): subclasses assign each element an arbitrary
    provisional interval [start, end); overlapping intervals per key merge
    into one window — Beam's IntervalWindow merge semantics, which every
    standard merging WindowFn (Sessions included) instantiates.

    Unlike Sessions/session_window, the interval need not be
    [ts, ts + gap): it can extend backward, scale with element values,
    etc. The merge itself runs distributed in two window-function passes
    (see merge_intervals): one shuffle on the key, linear within
    partitions — state never exceeds a partition's rows, same scale shape
    as Spark's native MergingSessions."""

    merging = True

    def assign_interval(self, ts: Column) -> tuple[Column, Column]:
        """Return (start, end) timestamp Columns for one element."""
        raise NotImplementedError

    def assign(self, ts: Column) -> Column:
        raise TypeError(
            "IntervalMergingWindowFn: windows exist only after grouping — "
            "use merged_windows/group_by_window (the reference's "
            "MergingWindowFn contract: mergeWindows runs at GBK time)."
        )


def merge_intervals(
    df: DataFrame,
    keys: list[str],
    start: Column,
    end: Column,
    out: str = "window",
) -> DataFrame:
    """Per-key union of overlapping [start, end) intervals → one merged
    `struct<start,end>` window column per element (the MergingWindowFn
    merge step, batch form).

    Classic two-pass plan: order by start per key; an interval opens a new
    merged window iff its start exceeds the running max end of all prior
    intervals; the running count of openings is the merged-window id;
    min(start)/max(end) per id frame the merged window. Both passes are
    window functions over the SAME (key, start) ordering — one shuffle
    total, no iteration, no driver involvement."""
    staged = _stage_intervals(df, keys, start, end)
    from pyspark.sql.window import Window as W

    w_grp = W.partitionBy(*keys, "__wid")
    return (
        staged.withColumn(
            out,
            F.struct(
                F.min("__start").over(w_grp).alias("start"),
                F.max("__end").over(w_grp).alias("end"),
            ),
        )
        .drop("__start", "__end", "__opens", "__wid")
    )


def _stage_intervals(df: DataFrame, keys: list[str], start: Column, end: Column) -> DataFrame:
    """Shared first half of the interval merge: assign (__start, __end),
    flag merged-window openings, number windows with a running sum — two
    window functions over one (key, start) ordering, one shuffle."""
    from pyspark.sql.window import Window as W

    staged = df.withColumn("__start", start).withColumn("__end", end)
    w_order = W.partitionBy(*keys).orderBy("__start", "__end")
    prior_max_end = F.max("__end").over(
        w_order.rowsBetween(W.unboundedPreceding, -1)
    )
    # >= : intervals are half-open, so [0,20) and [20,30) are adjacent,
    # not overlapping — they stay separate (Beam IntervalWindow.intersects
    # is strict; Spark's session_window closes the same way).
    staged = staged.withColumn(
        "__opens",
        (prior_max_end.isNull() | (F.col("__start") >= prior_max_end)).cast("long"),
    )
    return staged.withColumn("__wid", F.sum("__opens").over(w_order))


class _MergedWindowGroupedData:
    """GroupedData-shaped wrapper for the merging-window grouping path:
    folds the merged window's bounds (min start / max end per window id)
    into the SAME aggregation as the caller's aggregates, skipping the
    per-element window-bounds pass merge_intervals needs — two window
    functions and one aggregation total, instead of four window functions
    plus an aggregation. Aggregate expressions operate on element columns
    (the window struct exists only after this agg)."""

    def __init__(self, staged: DataFrame, keys: list[str]):
        self._staged = staged
        self._keys = keys

    def agg(self, *cols: Column) -> DataFrame:
        out = self._staged.groupBy(*self._keys, "__wid").agg(
            F.min("__start").alias("__ws"),
            F.max("__end").alias("__we"),
            *cols,
        )
        return (
            out.withColumn(
                "window",
                F.struct(F.col("__ws").alias("start"), F.col("__we").alias("end")),
            )
            .drop("__wid", "__ws", "__we")
        )


class CalendarWindows(WindowFn):
    """CalendarWindows.days/weeks/months/years (+withTimeZone) —
    calendar-aligned, variable-length windows (historical
    sdk/transforms/windowing/CalendarWindows.java). No Spark built-in: the
    window struct is derived from date_trunc / interval arithmetic
    (SURVEY.md §4.2). Only n=1 periods are supported (the reference's
    common case).

    Timezone: the session zone is pinned UTC (session.py); `tz_offset`
    (an INTERVAL string, e.g. "-8 hours" or "5 hours 30 minutes") aligns
    window boundaries to a fixed-offset civil calendar via
    shift → truncate → unshift, so boundaries are still instants on the
    shared timeline. Fixed offsets keep the arithmetic exact and identical
    cross-engine; a DST-observing zone needs a tz database and makes some
    local times ambiguous — the documented scope is fixed-offset zones
    (the same contract as calendar_day_events_tz)."""

    _TRUNC = {"day": "day", "week": "week", "month": "month", "year": "year"}

    def __init__(self, unit: str, tz_offset: str | None = None):
        if unit not in self._TRUNC:
            raise ValueError(f"unit must be one of {sorted(self._TRUNC)}")
        self.unit = unit
        self.tz_offset = tz_offset

    @classmethod
    def days(cls, tz_offset: str | None = None) -> "CalendarWindows":
        return cls("day", tz_offset)

    @classmethod
    def weeks(cls, tz_offset: str | None = None) -> "CalendarWindows":
        return cls("week", tz_offset)

    @classmethod
    def months(cls, tz_offset: str | None = None) -> "CalendarWindows":
        return cls("month", tz_offset)

    @classmethod
    def years(cls, tz_offset: str | None = None) -> "CalendarWindows":
        return cls("year", tz_offset)

    def assign(self, ts: Column) -> Column:
        shift = F.expr(f"INTERVAL {self.tz_offset}") if self.tz_offset else None
        local = ts + shift if shift is not None else ts
        start_local = F.date_trunc(self.unit, local)
        if self.unit == "day":
            end_local = start_local + F.expr("INTERVAL 1 DAY")
        elif self.unit == "week":
            end_local = start_local + F.expr("INTERVAL 7 DAY")
        elif self.unit == "month":
            end_local = F.to_timestamp(F.add_months(start_local, 1))
        else:  # year
            end_local = F.to_timestamp(F.add_months(start_local, 12))
        if shift is not None:
            start, end = start_local - shift, end_local - shift
        else:
            start, end = start_local, end_local
        return F.struct(start.alias("start"), end.alias("end"))


class OutputTimeFn:
    """OutputTimeFn (historical sdk/transforms/windowing/OutputTimeFn.java):
    the event-time timestamp assigned to a grouped/combined output element.

    - END_OF_WINDOW: the window's maximum timestamp (window.end − 1 ms,
      Beam's maxTimestamp; Spark's native window_time is end − 1 µs —
      we emit end − 1 ms for reference fidelity).
    - EARLIEST: the earliest input timestamp among the pane's elements.
    - LATEST: the latest input timestamp among the pane's elements.
    """

    END_OF_WINDOW = "end_of_window"
    EARLIEST = "earliest"
    LATEST = "latest"

    ALL = (END_OF_WINDOW, EARLIEST, LATEST)


def output_time_agg(policy: str, ts_col: str = "ts") -> Column | None:
    """The aggregate expression carrying the OutputTimeFn through a
    windowed groupBy — min(ts)/max(ts) for EARLIEST/LATEST (one extra
    algebraic accumulator, partial-aggregated like any min/max), None for
    END_OF_WINDOW (derived from the window struct post-agg, no state)."""
    if policy == OutputTimeFn.EARLIEST:
        return F.min(ts_col)
    if policy == OutputTimeFn.LATEST:
        return F.max(ts_col)
    if policy == OutputTimeFn.END_OF_WINDOW:
        return None
    raise ValueError(f"unknown OutputTimeFn {policy!r}; one of {OutputTimeFn.ALL}")


def end_of_window_ts(window_col: str = "window") -> Column:
    """END_OF_WINDOW emitted timestamp: window.end − 1 ms (maxTimestamp)."""
    return F.timestamp_millis(
        F.unix_millis(F.col(f"{window_col}.end")) - F.lit(1)
    )


def window_into(df: DataFrame, fn: WindowFn, ts_col: str = "ts", out: str = "window") -> DataFrame:
    """Window.into(fn): attach the window column. Pure projection — the
    reference's metadata-only WindowingStrategy rewrite becomes an actual
    (but free) column here, because Spark groups by value not metadata."""
    return df.withColumn(out, fn.assign(F.col(ts_col)))


def group_by_window(
    df: DataFrame, fn: WindowFn, keys: list[str], ts_col: str = "ts"
):
    """Per-key-per-window grouping — the model's invariant (every GBK is
    scoped by the window; SURVEY.md §1.1). Returns GroupedData ready for
    .agg(...). GlobalWindows degrades to a plain groupBy."""
    if isinstance(fn, GlobalWindows):
        return df.groupBy(*keys)
    if isinstance(fn, IntervalMergingWindowFn):
        s, e = fn.assign_interval(F.col(ts_col))
        return _MergedWindowGroupedData(_stage_intervals(df, keys, s, e), keys)
    return df.groupBy(fn.group_expr(F.col(ts_col)).alias("window"), *keys)
