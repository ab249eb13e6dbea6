"""Property-based tests (SURVEY.md §5.2.3) — the CoderProperties /
WindowFnTestUtils / SourceTestUtils analog: hypothesis generates adversarial
inputs, properties assert the model's invariants.

Spark actions are ~100ms each, so examples are capped; hypothesis still
explores boundaries (epoch edges, empty strings, single-element groups) far
better than hand-picked fixtures.
"""

from __future__ import annotations

import datetime
import decimal

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_settings = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

# Event-time seconds within a few days around an arbitrary epoch point;
# wide enough to cross window boundaries, small enough to stay readable.
_ts_secs = st.integers(min_value=1_700_000_000, max_value=1_700_300_000)


@given(ts_list=st.lists(_ts_secs, min_size=1, max_size=30), size=st.sampled_from([60, 300, 3600]))
@_settings
def test_fixed_windows_partition_time(spark, ts_list, size):
    """FixedWindows law (WindowFnTestUtils analog): every element lands in
    exactly one window; window_start = ts - ts % size; start <= ts < end;
    end - start = size."""
    df = spark.createDataFrame([(t,) for t in ts_list], "secs long").select(
        F.col("secs"), F.timestamp_seconds("secs").alias("ts")
    )
    out = df.select(
        "secs", F.window("ts", f"{size} seconds").alias("w")
    ).collect()
    assert len(out) == len(ts_list)  # exactly one window per element
    for r in out:
        start = int(r["w"]["start"].replace(tzinfo=datetime.timezone.utc).timestamp())
        end = int(r["w"]["end"].replace(tzinfo=datetime.timezone.utc).timestamp())
        assert start == r["secs"] - r["secs"] % size
        assert start <= r["secs"] < end
        assert end - start == size


@given(
    ts_list=st.lists(_ts_secs, min_size=1, max_size=20),
    period=st.sampled_from([60, 300]),
    mult=st.integers(min_value=2, max_value=4),
)
@_settings
def test_sliding_windows_overlap_count(spark, ts_list, period, mult):
    """SlidingWindows law: with size = mult × period, every element belongs
    to exactly `mult` windows, all of which contain it."""
    size = mult * period
    df = spark.createDataFrame([(t,) for t in ts_list], "secs long").select(
        F.col("secs"), F.timestamp_seconds("secs").alias("ts")
    )
    out = df.select(
        "secs", F.window("ts", f"{size} seconds", f"{period} seconds").alias("w")
    ).collect()
    per_elem: dict[int, int] = {}
    for r in out:
        start = int(r["w"]["start"].replace(tzinfo=datetime.timezone.utc).timestamp())
        end = int(r["w"]["end"].replace(tzinfo=datetime.timezone.utc).timestamp())
        assert start <= r["secs"] < end and end - start == size
        per_elem[r["secs"]] = per_elem.get(r["secs"], 0) + 1
    counts = {}
    for t in ts_list:
        counts[t] = counts.get(t, 0) + 1
    assert per_elem == {t: mult * n for t, n in counts.items()}


def _sessions_reference(pairs: list[tuple[int, int]], gap: int) -> set[tuple[int, int, int]]:
    """The lag/cumsum sessionization definition, in plain Python:
    (user, session_start, n_events) triples."""
    by_user: dict[int, list[int]] = {}
    for u, t in pairs:
        by_user.setdefault(u, []).append(t)
    out = set()
    for u, ts in by_user.items():
        ts.sort()
        start, n = ts[0], 1
        for prev, cur in zip(ts, ts[1:]):
            if cur - prev < gap:
                n += 1
            else:
                out.add((u, start, n))
                start, n = cur, 1
        out.add((u, start, n))
    return out


@given(
    pairs=st.lists(
        st.tuples(st.integers(min_value=0, max_value=3), _ts_secs),
        min_size=1,
        max_size=40,
    ),
    gap=st.sampled_from([60, 600, 1800]),
)
@_settings
def test_session_windows_match_reference_merge(spark, pairs, gap):
    """Sessions law (the heart of merging WindowFns): Spark's
    session_window gap-merge produces exactly the sessions of the
    sorted-scan reference algorithm — same (user, start, count) triples."""
    df = spark.createDataFrame(pairs, "user long, secs long").select(
        "user", F.timestamp_seconds("secs").alias("ts")
    )
    got = {
        (r["user"], int(r["start"].replace(tzinfo=datetime.timezone.utc).timestamp()), r["n"])
        for r in (
            df.groupBy(F.session_window("ts", f"{gap} seconds").alias("w"), "user")
            .agg(F.count(F.lit(1)).alias("n"))
            .select("user", F.col("w.start").alias("start"), "n")
            .collect()
        )
    }
    assert got == _sessions_reference(pairs, gap)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-(2**31), max_value=2**31 - 1),
            st.text(
                alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FA0),
                max_size=20,
            ),
            st.floats(allow_nan=False, allow_infinity=False, width=64),
            st.booleans(),
            st.lists(st.integers(min_value=-1000, max_value=1000), max_size=5),
        ),
        min_size=1,
        max_size=25,
    )
)
@_settings
def test_parquet_round_trip(spark, tmp_path_factory, rows):
    """Source/sink round-trip (SourceTestUtils/CoderProperties analog):
    write → read preserves the bag exactly for every SQL type we map
    coders onto (int, string incl. non-ASCII, double, bool, array)."""
    path = str(tmp_path_factory.mktemp("rt") / "t.parquet")
    schema = "i int, s string, d double, b boolean, a array<int>"
    df = spark.createDataFrame(rows, schema)
    df.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    norm = lambda rs: sorted((r.i, r.s, r.d, r.b, tuple(r.a)) for r in rs)
    assert norm(back.collect()) == norm(df.collect())
    assert back.schema == df.schema


@given(
    cents=st.lists(
        st.integers(min_value=-10_000_00, max_value=10_000_00),
        min_size=1,
        max_size=50,
    ),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@_settings
def test_decimal_sum_order_independent(spark, cents, seed):
    """The engine's exact-decimal aggregation invariant (queries/helpers.py):
    summing 2dp doubles through DECIMAL equals the true rational sum no
    matter the row order / partitioning — the property that makes every
    oracle value-hash deterministic."""
    import random

    vals = [c / 100.0 for c in cents]
    shuffled = vals[:]
    random.Random(seed).shuffle(shuffled)
    expected = float(sum(decimal.Decimal(c) for c in cents) / 100)

    def spark_sum(xs: list[float], parts: int) -> float:
        df = spark.createDataFrame([(x,) for x in xs], "v double").repartition(parts)
        return df.agg(
            F.sum(F.col("v").cast("decimal(18,2)")).cast("double").alias("s")
        ).collect()[0]["s"]

    assert spark_sum(vals, 1) == expected
    assert spark_sum(shuffled, 7) == expected


@given(
    lines=st.lists(
        st.text(
            alphabet=st.characters(
                min_codepoint=33, max_codepoint=0x2FA0, exclude_characters="\r\n"
            ),
            min_size=1,
            max_size=40,
        ),
        min_size=1,
        max_size=30,
    )
)
@_settings
def test_text_gzip_round_trip(spark, tmp_path_factory, lines):
    """TextIO.Read/Write with compression (historical sdk/io/TextIO.java +
    CompressedSource.java): line-oriented write → gzip codec → read back
    preserves the bag of lines; codec negotiation is by file extension,
    as the reference's CompressedSource did."""
    path = str(tmp_path_factory.mktemp("txt") / "out")
    df = spark.createDataFrame([(l,) for l in lines], "value string")
    df.write.mode("overwrite").option("compression", "gzip").text(path)
    back = spark.read.text(path)
    assert sorted(r.value for r in back.collect()) == sorted(lines)


def _asof_reference(lefts, rights):
    """Plain-Python as-of: most recent right (ts, rid) with ts <= left ts."""
    out = []
    for k, lts, lid in lefts:
        best = None
        for rk, rts, rid in rights:
            if rk == k and rts <= lts and (best is None or rts > best[0] or (rts == best[0] and rid > best[1])):
                best = (rts, rid)
        out.append((k, lts, lid, best[1] if best else None))
    return sorted(out)


@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 100), st.integers(0, 10**6)),
        min_size=1, max_size=15, unique_by=lambda t: t[2],
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 100), st.integers(0, 10**6)),
        min_size=0, max_size=15, unique_by=lambda t: (t[0], t[1]),
    ),
)
@_settings
def test_asof_join_matches_reference(spark, lefts, rights):
    """asof_join law: equals the brute-force most-recent-prior lookup on
    arbitrary keyed series (right unique per (key, ts) — the operator's
    documented precondition)."""
    from dataflowjavasdk_spark.operators.join import asof_join

    l = spark.createDataFrame(lefts, "k int, ts int, lid long")
    r = spark.createDataFrame(rights or [(99, 0, 0)], "k int, rts int, rid long")
    out = asof_join(l, r.withColumnRenamed("rts", "ts"), on=["k"],
                    left_ts="ts", right_ts="ts", right_cols=["rid"])
    got = sorted((x.k, x.ts, x.lid, x.rid) for x in out.collect())
    assert got == _asof_reference(lefts, rights or [(99, 0, 0)])


@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 200), st.integers(0, 10**6)),
        min_size=1, max_size=12, unique_by=lambda t: t[2],
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 200), st.integers(0, 10**6)),
        min_size=0, max_size=12, unique_by=lambda t: t[2],
    ),
    lower=st.integers(-30, 0),
    upper=st.integers(0, 30),
)
@_settings
def test_range_join_matches_reference(spark, lefts, rights, lower, upper):
    """range_join law: the banded implementation equals the brute-force
    inequality join for arbitrary bounds, including lower == upper."""
    from dataflowjavasdk_spark.operators.join import range_join

    l = spark.createDataFrame(lefts, "k int, ts int, lid long")
    r = spark.createDataFrame(rights or [(99, 0, 0)], "k int, rts int, rid long")
    out = range_join(l, r, on=["k"], left_ts="ts", right_ts="rts",
                     lower=lower, upper=upper)
    got = sorted((x.lid, x.rid) for x in out.collect())
    expect = sorted(
        (lid, rid)
        for (lk, lts, lid) in lefts
        for (rk, rts, rid) in (rights or [(99, 0, 0)])
        if lk == rk and lts + lower <= rts <= lts + upper
    )
    assert got == expect


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(
            # INT_MIN excluded: Spark 4.1's xml parser nulls the record on
            # exactly -2^31 (documented on Pipeline.read_xml).
            st.integers(min_value=-(2**31) + 1, max_value=2**31 - 1),
            # XML 1.0 forbids most control chars; CSV delimiters/quotes and
            # the null sentinel are excluded so one strategy serves all
            # three formats.
            st.text(
                alphabet=st.characters(
                    codec="utf-8",
                    categories=("L", "N", "P", "S"),
                    exclude_characters='",\\\n\r',
                ),
                min_size=1,
                max_size=20,
            ),
            st.floats(allow_nan=False, allow_infinity=False, width=32),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_csv_json_xml_round_trips(spark, tmp_path_factory, rows):
    """Source/sink §2.6: csv, json-lines, and xml round-trip losslessly
    with an explicit schema (no inference in the loop)."""
    from dataflowjavasdk_spark.core import Pipeline

    schema = "id int, s string, v float"
    df = spark.createDataFrame(rows, schema).coalesce(2)
    expect = sorted((r.id, r.s, r.v) for r in df.collect())
    base = str(tmp_path_factory.mktemp("io_rt"))
    p = Pipeline(spark)

    df.write.mode("overwrite").option("header", "true").option(
        "nullValue", "\\N"
    ).csv(base + "/c")
    got = p.read_csv(base + "/c", schema=schema, nullValue="\\N")
    assert sorted((r.id, r.s, r.v) for r in got.collect()) == expect

    df.write.mode("overwrite").json(base + "/j")
    got = p.read_json(base + "/j", schema=schema)
    assert sorted((r.id, r.s, r.v) for r in got.collect()) == expect

    df.write.mode("overwrite").format("xml").option("rowTag", "row").save(base + "/x")
    got = p.read_xml(base + "/x", row_tag="row", schema=schema)
    assert sorted((r.id, r.s, r.v) for r in got.collect()) == expect


def test_csv_null_vs_empty_distinct(spark, tmp_path_factory):
    """CSV's classic ambiguity, resolved by an explicit null sentinel:
    empty string and NULL survive a round trip as distinct values."""
    from dataflowjavasdk_spark.core import Pipeline

    base = str(tmp_path_factory.mktemp("csv_ne"))
    df = spark.createDataFrame([(1, ""), (2, None), (3, "x")], "id int, s string")
    df.write.mode("overwrite").option("header", "true").option(
        "nullValue", "\\N"
    ).csv(base)
    got = Pipeline(spark).read_csv(base, schema="id int, s string", nullValue="\\N")
    assert sorted((r.id, r.s) for r in got.collect()) == [(1, ""), (2, None), (3, "x")]


@given(
    intervals=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(min_value=0, max_value=200),
            st.integers(min_value=1, max_value=50),
        ),
        min_size=1,
        max_size=20,
    )
)
@_settings
def test_interval_merge_matches_reference(spark, intervals):
    """merge_intervals law (MergingWindowFn analog of the WindowFnTestUtils
    properties): the distributed per-key union of half-open intervals
    equals a sequential reference merge."""
    from dataflowjavasdk_spark.operators.windowing import merge_intervals

    rows = [(k, s, s + w) for (k, s, w) in intervals]
    df = spark.createDataFrame(rows, "key string, s long, e long").select(
        "key",
        F.timestamp_seconds("s").alias("s"),
        F.timestamp_seconds("e").alias("e"),
    )
    out = merge_intervals(df, ["key"], F.col("s"), F.col("e"))
    got = sorted(
        (
            r["key"],
            int(r["window"]["start"].replace(tzinfo=datetime.timezone.utc).timestamp()),
            int(r["window"]["end"].replace(tzinfo=datetime.timezone.utc).timestamp()),
        )
        for r in out.collect()
    )

    # sequential reference: sort per key, merge while start < current end
    def ref_merge(items):
        merged = []
        for s, e in sorted(items):
            if merged and s < merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], e)
            else:
                merged.append([s, e])
        return merged

    per_key: dict = {}
    for k, s, e in rows:
        per_key.setdefault(k, []).append((s, e))
    want = sorted(
        (k, m[0], m[1])
        for k, items in per_key.items()
        for (s, e) in items
        for m in [next(mm for mm in ref_merge(items) if mm[0] <= s and e <= mm[1])]
    )
    assert got == want


@given(
    texts=st.lists(
        st.lists(
            st.text(alphabet="abcd", min_size=1, max_size=3), min_size=0, max_size=12
        ).map(lambda toks: " ".join(toks)),
        min_size=1,
        max_size=6,
    ),
    n=st.sampled_from([2, 3, 5, 8]),
)
@_settings
def test_shingle_blocking_sql_matches_engine_for_all_widths(spark, texts, n):
    """The parameterized oracle shingle formula (_candidate_pairs_sql's
    ``sh`` CTE, any width n) must produce EXACTLY the engine's
    S.shingles(col, n) sets — including short-document, empty-string and
    repeated-token edges. This pins the width generalization that the
    Levenshtein path (n=5) relies on against the n=3 original."""
    import duckdb

    from dataflowjavasdk_spark.functions import similarity as S

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    engine = {
        r["doc_id"]: sorted(r["grams"])
        for r in df.select(
            "doc_id", S.shingles("text", n).alias("grams")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE src (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO src VALUES (?, ?)", rows)
    oracle = {
        doc_id: sorted(grams)
        for doc_id, grams in con.execute(f"""
            SELECT doc_id,
                   list_distinct(list_transform(
                     range(1, greatest(len(list_filter(string_split(text,' '), t -> t <> '')) - {n - 2}, 1)),
                     i -> array_to_string(
                            array_slice(list_filter(string_split(text,' '), t -> t <> ''),
                                        i, i + {n - 1}), ' ')
                   )) FROM src""").fetchall()
    }
    assert engine == oracle


# Wider span (minutes resolution over ~2 years) so month/year boundaries
# and leap-February are actually crossed.
_cal_ts_secs = st.integers(min_value=1_672_531_200, max_value=1_735_689_600)


@given(
    ts_list=st.lists(_cal_ts_secs, min_size=1, max_size=20),
    unit=st.sampled_from(["day", "week", "month", "year"]),
    offset_min=st.sampled_from([-480, -330, 0, 330, 480, 570]),
)
@_settings
def test_calendar_windows_tz_assignment_properties(spark, ts_list, unit, offset_min):
    """CalendarWindows(+tz) assignment invariants, any unit x fixed
    offset: (1) start <= ts < end; (2) boundaries align to the local
    calendar — shifting start by the offset lands exactly on a local
    date_trunc(unit) point; (3) the window covers one calendar period
    (adding one unit to the local start gives the local end) — so
    variable month/year lengths and the shift→truncate→unshift round
    trip hold for every generated instant."""
    from dataflowjavasdk_spark.operators.windowing import CalendarWindows

    sign = "-" if offset_min < 0 else ""
    tz = None if offset_min == 0 else f"{sign}{abs(offset_min)} minutes"
    fn = CalendarWindows(unit, tz)
    df = spark.createDataFrame(
        [(datetime.datetime.utcfromtimestamp(s),) for s in ts_list], "ts timestamp"
    )
    got = df.select(
        "ts",
        fn.assign(F.col("ts")).alias("w"),
        (F.col("ts") + F.expr(f"INTERVAL {tz}") if tz else F.col("ts")).alias("lts"),
    ).collect()
    step = {"day": "1 DAY", "week": "7 DAY", "month": "1 MONTH", "year": "1 YEAR"}[unit]
    for r in got:
        ts, start, end = r["ts"], r["w"]["start"], r["w"]["end"]
        assert start <= ts < end, (unit, tz, ts, start, end)
        off = datetime.timedelta(minutes=offset_min)
        local_start = start + off
        trunc = {
            "day": lambda d: d.replace(hour=0, minute=0, second=0, microsecond=0),
            "week": lambda d: (d - datetime.timedelta(days=d.weekday())).replace(
                hour=0, minute=0, second=0, microsecond=0
            ),
            "month": lambda d: d.replace(
                day=1, hour=0, minute=0, second=0, microsecond=0
            ),
            "year": lambda d: d.replace(
                month=1, day=1, hour=0, minute=0, second=0, microsecond=0
            ),
        }[unit]
        assert local_start == trunc(local_start), (unit, tz, local_start)
        # end = start + one local calendar period
        local_end = end + off
        if unit == "day":
            expect = local_start + datetime.timedelta(days=1)
        elif unit == "week":
            expect = local_start + datetime.timedelta(days=7)
        elif unit == "month":
            y, m = divmod(local_start.month, 12)
            expect = local_start.replace(
                year=local_start.year + y, month=m + 1
            )
        else:
            expect = local_start.replace(year=local_start.year + 1)
        assert local_end == expect, (unit, tz, local_start, local_end, expect)


@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=-(2**63), max_value=2**63 - 1)),
            st.one_of(st.none(), st.integers(min_value=-128, max_value=127)),
            st.one_of(st.none(), st.binary(max_size=16)),
            st.one_of(
                st.none(),
                st.decimals(
                    min_value=-(10**19), max_value=10**19, places=18
                ),
            ),
            st.one_of(
                st.none(),
                st.datetimes(
                    min_value=datetime.datetime(1900, 1, 1),
                    max_value=datetime.datetime(2200, 1, 1),
                ),
            ),
            st.one_of(
                st.none(),
                st.dates(
                    min_value=datetime.date(1900, 1, 1),
                    max_value=datetime.date(2200, 1, 1),
                ),
            ),
            st.one_of(
                st.none(),
                st.timedeltas(
                    min_value=datetime.timedelta(days=-999),
                    max_value=datetime.timedelta(days=999),
                ),
            ),
            st.one_of(
                st.none(),
                st.dictionaries(
                    st.text(alphabet="abcdef", min_size=1, max_size=4),
                    st.integers(min_value=-(2**31), max_value=2**31 - 1),
                    max_size=4,
                ),
            ),
            st.one_of(
                st.none(),
                st.tuples(
                    st.one_of(st.none(), st.integers(min_value=0, max_value=10**6)),
                    st.text(max_size=8),
                ),
            ),
            st.one_of(
                st.none(),
                st.floats(width=64, allow_nan=True, allow_infinity=True),
            ),
        ),
        min_size=1,
        max_size=15,
    )
)
@_settings
def test_parquet_round_trip_full_coder_table(spark, tmp_path_factory, rows):
    """CoderProperties analog for the REST of the SURVEY §1.3 coder→type
    table: VarLong/Byte/ByteArray/BigDecimal(38,18)/Instant(timestamp)/
    date/DurationCoder(day-time interval)/MapCoder/nested AvroCoder
    struct — plus NullableCoder (every field optional) and IEEE special
    values (NaN/±inf round-trip bit-exactly through parquet)."""
    path = str(tmp_path_factory.mktemp("rt2") / "t.parquet")
    schema = (
        "l long, y byte, bin binary, dec decimal(38,18), ts timestamp, "
        "dt date, iv interval day to second, m map<string,int>, "
        "rec struct<k: long, s: string>, d double"
    )
    df = spark.createDataFrame(rows, schema)
    df.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)

    def norm(rs):
        out = []
        for r in rs:
            d = r.asDict(recursive=True)
            out.append(
                (
                    d["l"], d["y"],
                    bytes(d["bin"]) if d["bin"] is not None else None,
                    d["dec"], d["ts"], d["dt"], d["iv"],
                    # keep NULL distinct from empty — parquet preserves both
                    None if d["m"] is None else tuple(sorted(d["m"].items())),
                    None if d["rec"] is None else tuple(d["rec"].values()),
                    "NaN" if (d["d"] is not None and d["d"] != d["d"]) else d["d"],
                )
            )
        return sorted(out, key=str)

    assert norm(back.collect()) == norm(df.collect())
    assert back.schema == df.schema


@given(
    data=st.binary(min_size=0, max_size=3000),
    mcs=st.integers(min_value=2, max_value=8),
)
@settings(max_examples=60, deadline=None)
def test_gif_lzw_round_trip_property(data, mcs):
    """GIF-variant LZW: any byte payload whose symbols fit the code width
    round-trips exactly — sweeps code-width growth boundaries, table
    resets, and the phantom-final-entry case the value oracle caught."""
    from dataflowjavasdk_spark.functions.video import _lzw_decode, _lzw_encode

    alphabet = 1 << mcs
    clipped = bytes(b % alphabet for b in data)
    assert _lzw_decode(_lzw_encode(clipped, mcs), mcs, len(clipped)) == clipped


@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=20),
    base=st.integers(min_value=0, max_value=150),
    dx=st.integers(min_value=0, max_value=20),
    dy=st.integers(min_value=0, max_value=30),
    color=st.booleans(),
    subsample=st.sampled_from(["444", "420", "422"]),
)
@settings(max_examples=40, deadline=None)
def test_jpeg_block_constant_round_trip_property(w, h, base, dx, dy, color, subsample):
    """Baseline JPEG: any per-8x8-block-constant pattern (DC-only blocks,
    all-ones quant) round-trips EXACTLY across dims that sweep every
    partial-MCU crop case, gray and 4:4:4/4:2:0/4:2:2 color."""
    import numpy as np

    from dataflowjavasdk_spark.functions.jpeg import decode_jpeg, encode_jpeg

    luma = np.zeros((h, w), np.uint8)
    for by in range(-(-h // 8)):
        for bx in range(-(-w // 8)):
            luma[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = base + dx * bx + dy * by
    if color:
        img = np.zeros((h, w, 3), np.uint8)
        img[..., 0], img[..., 1], img[..., 2] = luma, 77, 201
        out = decode_jpeg(encode_jpeg(img, subsample=subsample))
        assert np.array_equal(out, img), (w, h, subsample)
    else:
        out = decode_jpeg(encode_jpeg(luma))
        assert np.array_equal(out, luma), (w, h)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),
            st.text(
                alphabet=st.characters(
                    blacklist_categories=("Cs",), blacklist_characters="\x00"
                ),
                max_size=200,
            ),
            st.sampled_from([200, 301, 404, 500]),
        ),
        min_size=1,
        max_size=20,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=60, deadline=None)
def test_warc_record_framing_property(rows):
    """WARC framing: arbitrary unicode HTML bodies (multi-byte UTF-8,
    CRLF-bearing, empty) round-trip through record build + parse with
    byte-accurate Content-Length — no record ever bleeds into the next."""
    import gzip

    from dataflowjavasdk_spark.sources.warc import build_warc_record, parse_warc

    blob = b"".join(
        build_warc_record(f"https://p.example/{i}", html, status=status)
        for i, html, status in rows
    )
    for payload in (blob, gzip.compress(blob)):
        recs = parse_warc(payload)
        assert len(recs) == len(rows)
        for rec, (i, html, status) in zip(recs, rows):
            assert rec["url"] == f"https://p.example/{i}"
            assert rec["status"] == status
            assert rec["html"] == html


@given(
    w=st.integers(min_value=1, max_value=12),
    h=st.integers(min_value=1, max_value=12),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@_settings
def test_box_resize_composes_and_conserves_mass(w, h, seed):
    """Box-filter laws on random uint8 images with power-of-two block
    sizes (every division is by 2^k, so float64 arithmetic is EXACT and
    the laws hold bitwise, not approximately):
    - composition: box(2) then box(2) == box(4)
    - mass conservation: sum(resized) * factor^2 == sum(original)
    - nearest-neighbor picks exactly the stride-sampled source pixels.
    """
    import numpy as np

    from dataflowjavasdk_spark.functions.multimodal import (
        resize_box,
        resize_nearest,
    )

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(4 * h, 4 * w, 3), dtype=np.uint8)
    once = resize_box(resize_box(img, 2), 2)
    direct = resize_box(img, 4)
    assert np.array_equal(once, direct)
    assert float(direct.sum()) * 16.0 == float(img.astype(np.float64).sum())
    nn = resize_nearest(img, 4)
    assert np.array_equal(nn, img[::4, ::4])


@given(
    bin_i=st.integers(min_value=0, max_value=7),
    amp=st.integers(min_value=100, max_value=20000),
    phase_deg=st.integers(min_value=0, max_value=359),
)
@_settings
def test_tone_detection_invariant_to_amplitude_and_phase(
    spark, bin_i, amp, phase_deg
):
    """Detection must be a function of frequency only: any amplitude in
    the int16 range and any starting phase still put the argmax on the
    synthesized probe bin."""
    import io
    import wave

    import numpy as np

    from dataflowjavasdk_spark.functions.multimodal import (
        extract_tone_detection,
    )

    f = 400 * (bin_i + 1)
    t = np.arange(800, dtype=np.float64) / 8000.0
    sig = np.round(
        amp * np.sin(2 * np.pi * f * t + np.deg2rad(phase_deg))
    ).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(2)
        wv.setframerate(8000)
        wv.writeframes(sig.tobytes())
    df = spark.createDataFrame(
        [(0, buf.getvalue())], "media_id long, payload binary"
    )
    [row] = extract_tone_detection(df).collect()
    assert (row["dominant_bin"], row["dominant_freq_hz"]) == (bin_i, f)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=(1 << 40) - 1),  # h40
            st.integers(min_value=0, max_value=(1 << 20) - 1),  # pos
        ),
        min_size=1,
        max_size=4,
        unique_by=lambda t: t[1],
    )
)
def test_winnowing_selkey_encoding_is_rightmost_min(window):
    """The arithmetic tie rule h*2^20 + (2^20-1-pos): integer MIN over a
    window must select the minimal hash, ties broken to the RIGHTMOST
    position (the winnowing rule), for any hash/position mix."""
    enc = {(h, p): h * 1048576 + (1048575 - p) for h, p in window}
    sel = min(enc.values())
    sel_h, sel_p = sel // 1048576, 1048575 - (sel % 1048576)
    min_h = min(h for h, _ in window)
    assert sel_h == min_h
    assert sel_p == max(p for h, p in window if h == min_h)


_kv_rows = st.lists(
    st.tuples(st.none() | st.integers(min_value=0, max_value=5), st.integers(0, 100)),
    min_size=0,
    max_size=12,
)


@given(rows_a=_kv_rows, rows_b=_kv_rows, rows_c=_kv_rows)
@_settings
def test_nway_cogroup_matches_pandas_reference(spark, rows_a, rows_b, rows_c):
    """N-way CoGroupByKey law (CoGroupByKeyTest analog): for any three
    keyed inputs, null keys included, the per-key groups handed to the
    user (buffered frames for the first two, chunks for the streamed
    last) have exactly the per-key row counts and value sums a plain
    Python grouping computes — including keys present in only some
    inputs (empty frames / no chunks, never missing entries) and the
    null key as one group."""
    import pandas as pd

    from dataflowjavasdk_spark.operators.join import co_group_by_key

    inputs = {"a": rows_a, "b": rows_b, "c": rows_c}
    dfs = {
        name: spark.createDataFrame(rows, "k int, v int")
        for name, rows in inputs.items()
    }

    def fn(key, groups):
        chunks = list(groups["c"])
        frames = {"a": [groups["a"]], "b": [groups["b"]], "c": chunks}
        return pd.DataFrame(
            [
                {
                    "k": key[0],
                    **{f"n_{n}": sum(len(f) for f in fs) for n, fs in frames.items()},
                    **{
                        f"s_{n}": sum(int(f["v"].sum()) for f in fs)
                        for n, fs in frames.items()
                    },
                }
            ]
        )

    out = co_group_by_key(
        dfs,
        ["k"],
        fn,
        "k int, n_a long, n_b long, n_c long, s_a long, s_b long, s_c long",
    ).collect()
    got = {
        r["k"]: tuple(r[c] for c in ("n_a", "n_b", "n_c", "s_a", "s_b", "s_c"))
        for r in out
    }
    keys = {k for rows in inputs.values() for k, _ in rows}
    assert len(out) == len(got) and set(got) == keys
    for k in keys:
        expect = tuple(
            len([v for kk, v in inputs[n] if kk == k]) for n in ("a", "b", "c")
        ) + tuple(
            sum(v for kk, v in inputs[n] if kk == k) for n in ("a", "b", "c")
        )
        assert got[k] == expect, f"key {k}: {got[k]} != {expect}"
