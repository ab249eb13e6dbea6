"""Join/CoGBK/View/Flatten/SortValues unit tests (mirrors historical
tests/transforms/join/CoGroupByKeyTest, ViewTest, FlattenTest and
contrib/sorter SortValuesTest)."""

from __future__ import annotations

import inspect

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dataflowjavasdk_spark.core import Pipeline
from dataflowjavasdk_spark.operators import flatten, join, sort


@pytest.fixture(scope="module")
def sides(spark):
    p = Pipeline(spark)
    left = p.create([("a", 1), ("b", 2), ("c", 3)], "k string, lv int")
    right = p.create([("a", 10), ("b", 20), ("d", 40)], "k string, rv int")
    return left, right


def rows(df):
    return sorted(tuple(r) for r in (df.collect() if hasattr(df, "collect") else df))


def n_rows(chunks) -> int:
    """Row count of a CoGBK group's last input, which streams as chunks."""
    return sum(len(c) for c in chunks)


def test_join_matrix(sides):
    left, right = sides
    assert join.Join.inner(left.df, right.df, "k").count() == 2
    assert join.Join.left_outer(left.df, right.df, "k").count() == 3
    assert join.Join.right_outer(left.df, right.df, "k").count() == 3
    assert join.Join.full_outer(left.df, right.df, "k").count() == 4
    assert rows(join.Join.semi(left.df, right.df, "k").select("k")) == [("a",), ("b",)]
    assert rows(join.Join.anti(left.df, right.df, "k").select("k")) == [("c",)]


def test_co_group_by_key_two_inputs(sides):
    left, right = sides

    def fn(key, groups):
        return pd.DataFrame(
            [
                {
                    "k": key[0],
                    "n_left": len(groups["l"]),
                    "n_right": n_rows(groups["r"]),
                }
            ]
        )

    out = join.co_group_by_key(
        {"l": left.df, "r": right.df}, ["k"], fn, "k string, n_left long, n_right long"
    )
    assert rows(out) == [("a", 1, 1), ("b", 1, 1), ("c", 1, 0), ("d", 0, 1)]


def test_co_group_by_key_three_inputs_custom_fn(spark, sides):
    """N-way CoGroupByKey with a custom fn (round 7): the CoGbkResult
    contract — per key, one named frame per buffered input, EMPTY (not
    missing) where an input lacks the key, and the last input as chunks;
    original column order, keys included."""
    left, right = sides
    p = Pipeline(spark)
    third = p.create([("a", 1.5), ("e", 5.5)], "k string, tv double")

    def fn(key, groups):
        assert set(groups) == {"l", "r", "t"}
        assert list(groups["l"].columns) == ["k", "lv"]
        sum_t = 0.0
        for chunk in groups["t"]:
            assert list(chunk.columns) == ["k", "tv"]
            sum_t += float(chunk["tv"].sum())
        return pd.DataFrame(
            [
                {
                    "k": key[0],
                    "n_l": len(groups["l"]),
                    "n_r": len(groups["r"]),
                    "sum_t": sum_t,
                }
            ]
        )

    out = join.co_group_by_key(
        {"l": left.df, "r": right.df, "t": third.df},
        ["k"],
        fn,
        "k string, n_l long, n_r long, sum_t double",
    )
    assert rows(out) == [
        ("a", 1, 1, 1.5),
        ("b", 1, 1, 0.0),
        ("c", 1, 0, 0.0),
        ("d", 0, 1, 0.0),
        ("e", 0, 0, 5.5),
    ]


def test_co_group_by_key_key_only_input(spark, sides):
    """An input with no value columns still contributes row presence."""
    left, right = sides
    p = Pipeline(spark)
    marks = p.create([("a",), ("a",), ("c",)], "k string")

    def fn(key, groups):
        return pd.DataFrame(
            [{"k": key[0], "n_marks": n_rows(groups["m"]), "n_l": len(groups["l"]),
              "n_r": len(groups["r"])}]
        )

    out = join.co_group_by_key(
        {"l": left.df, "r": right.df, "m": marks.df},
        ["k"],
        fn,
        "k string, n_marks long, n_l long, n_r long",
    )
    got = {r["k"]: (r["n_marks"], r["n_l"], r["n_r"]) for r in out.collect()}
    assert got == {"a": (2, 1, 1), "b": (0, 1, 1), "c": (1, 1, 0), "d": (0, 0, 1)}


def test_co_group_by_key_nway_agrees_with_arrays(spark, sides):
    """The two N-way CoGBK surfaces must state the same CoGbkResult: for
    every key, the custom-fn path's per-tag frame sizes equal the arrays
    path's per-tag array lengths (same inputs, same keys, including keys
    absent from some inputs)."""
    left, right = sides
    p = Pipeline(spark)
    third = p.create([("a", 1.5), ("a", 2.5), ("e", 5.5)], "k string, tv double")
    dfs = {"l": left.df, "r": right.df, "t": third.df}

    def fn(key, groups):
        return pd.DataFrame(
            [{"k": key[0], "n_l": len(groups["l"]), "n_r": len(groups["r"]),
              "n_t": n_rows(groups["t"])}]
        )

    via_fn = {
        r["k"]: (r["n_l"], r["n_r"], r["n_t"])
        for r in join.co_group_by_key(
            dfs, ["k"], fn, "k string, n_l long, n_r long, n_t long"
        ).collect()
    }
    via_arrays = {
        r["k"]: (len(r["l"]), len(r["r"]), len(r["t"]))
        for r in join.co_group_arrays(dfs, ["k"]).collect()
    }
    assert via_fn == via_arrays


def test_view_as_singleton_and_map(spark, sides):
    left, right = sides
    total = left.df.agg(F.sum("lv").alias("total"))
    with_view = join.View.as_singleton(left.df, total)
    assert rows(with_view.select("k", "total")) == [("a", 6), ("b", 6), ("c", 6)]
    looked_up = join.View.as_map(left.df, right.df, "k")
    assert looked_up.count() == 3  # left join keeps unmatched 'c'


def test_flatten_pcollections_bag_union(spark):
    p = Pipeline(spark)
    a = p.create([(1,), (2,)], "v int")
    b = p.create([(2,), (3,)], "v int")
    out = flatten.pcollections(a.df, b.df)
    assert rows(out) == [(1,), (2,), (2,), (3,)]  # no dedup: bag semantics


def test_flatten_iterables(spark):
    p = Pipeline(spark)
    pc = p.create([([1, 2],), ([3],)], "xs array<int>")
    assert rows(flatten.iterables(pc.df, "xs")) == [(1,), (2,), (3,)]


def test_sort_values_secondary_sort(spark):
    df = Pipeline(spark).create(
        [("a", 3, "x"), ("a", 1, "y"), ("a", 2, "z"), ("b", 9, "w")],
        "k string, sec int, v string",
    ).df
    out = sort.sorted_iterables(df, ["k"], "sec", "v")
    got = {r["k"]: [t["v"] for t in r["values"]] for r in out.collect()}
    assert got == {"a": ["y", "z", "x"], "b": ["w"]}
    # partition-local physical sort variant: within each key-partition the
    # rows are ordered by (k, sec)
    phys = sort.sort_values(df, ["k"], ["sec"])
    parts = phys.rdd.glom().collect()
    for part in parts:
        seen = [(r["k"], r["sec"]) for r in part]
        assert seen == sorted(seen)


def test_co_group_arrays_three_inputs(spark, sides):
    left, right = sides
    p = Pipeline(spark)
    third = p.create([("a", 1.5), ("e", 5.5)], "k string, tv double")
    out = join.co_group_arrays(
        {"l": left.df, "r": right.df, "t": third.df}, ["k"]
    )
    got = {
        r["k"]: (sorted(x.lv for x in r["l"]),
                 sorted(x.rv for x in r["r"]),
                 sorted(x.tv for x in r["t"]))
        for r in out.collect()
    }
    assert got == {
        "a": ([1], [10], [1.5]),
        "b": ([2], [20], []),
        "c": ([3], [], []),
        "d": ([], [40], []),
        "e": ([], [], [5.5]),
    }


def test_co_group_by_key_facade(spark, sides):
    left, right = sides
    out = left.co_group_by_key({"r": right}, ["k"], name="l")
    got = {r["k"]: (len(r["l"]), len(r["r"])) for r in out.collect()}
    assert got == {"a": (1, 1), "b": (1, 1), "c": (1, 0), "d": (0, 1)}


def test_asof_join_semantics(spark):
    p = Pipeline(spark)
    left = p.create(
        [(1, 5, 102), (1, 10, 100), (1, 20, 101), (2, 7, 103)],
        "k int, ts int, lid int",
    )
    right = p.create(
        [(1, 10, 900, 1.5), (1, 15, 901, 2.5), (2, 99, 902, 3.5)],
        "k int, ts int, rid int, rv double",
    )
    out = join.asof_join(left.df, right.df, on=["k"], left_ts="ts", right_ts="ts")
    got = sorted((r.k, r.ts, r.lid, r.rid, r.rv) for r in out.collect())
    # ts=5: no prior right → NULLs; ts=10: equality counts (>=); ts=20:
    # most recent of {10,15} → 15; k=2: right exists but only later → NULL.
    assert got == [
        (1, 5, 102, None, None),
        (1, 10, 100, 900, 1.5),
        (1, 20, 101, 901, 2.5),
        (2, 7, 103, None, None),
    ]


def test_range_join_band_boundaries(spark):
    """Banded range join must not lose pairs that straddle band edges or
    admit pairs just outside the bounds (inclusive [lower, upper])."""
    p = Pipeline(spark)
    left = p.create([(1, 1000, 1)], "k int, ts int, lid int")
    # bounds [-10, +10] → width 20, bands around 1000: rows at 989 (out),
    # 990 (edge in), 1000, 1010 (edge in), 1011 (out), across band breaks.
    right = p.create(
        [(1, 989, 10), (1, 990, 11), (1, 1000, 12), (1, 1010, 13), (1, 1011, 14),
         (2, 1000, 15)],
        "k int, ts int, rid int",
    )
    out = join.range_join(
        left.df, right.df.withColumnRenamed("ts", "rts"),
        on=["k"], left_ts="ts", right_ts="rts", lower=-10, upper=10,
    )
    assert sorted(r.rid for r in out.collect()) == [11, 12, 13]


def test_salted_join_equals_plain_join(spark):
    p = Pipeline(spark)
    # one hot key (k=1 dominates), plus normal keys and a right-miss.
    left = p.create(
        [(1, i) for i in range(50)] + [(2, 100), (3, 101)],
        "k int, lv int",
    )
    right = p.create([(1, 7), (2, 8), (4, 9)], "k int, rv int")
    plain = sorted(
        (r.k, r.lv, r.rv)
        for r in left.df.join(right.df, "k", "inner").collect()
    )
    salted = sorted(
        (r.k, r.lv, r.rv)
        for r in join.salted_join(left.df, right.df, ["k"], fanout=4).collect()
    )
    assert salted == plain and len(plain) == 51


def test_asof_join_right_column_collision(spark):
    """A right value column named like a left column must not silently
    absorb the left row's own value (the trades/quotes-both-have-'price'
    case): without a suffix it raises; with one, the as-of value arrives
    under the suffixed name and the left's own column is untouched."""
    import pytest as _pytest

    from dataflowjavasdk_spark.operators import join

    left = spark.createDataFrame(
        [(1, 10, 999.0), (1, 20, 888.0)], "k int, ts int, price double"
    )
    right = spark.createDataFrame(
        [(1, 5, 1.5), (1, 15, 2.5)], "k int, ts int, price double"
    )
    with _pytest.raises(ValueError, match="collide"):
        join.asof_join(left, right, on=["k"], left_ts="ts", right_ts="ts")
    out = join.asof_join(
        left, right, on=["k"], left_ts="ts", right_ts="ts", suffix="_quote"
    )
    rows = {r["ts"]: (r["price"], r["price_quote"]) for r in out.collect()}
    # left's own price survives; as-of picks the latest right row <= ts
    assert rows == {10: (999.0, 1.5), 20: (888.0, 2.5)}


def test_salted_join_rejects_outer_modes(spark):
    import pytest as _pytest

    from dataflowjavasdk_spark.operators import join

    df = spark.createDataFrame([(1, "a")], "k int, v string")
    for how in ("right", "full", "full_outer", "rightouter"):
        with _pytest.raises(ValueError, match="salted_join"):
            join.salted_join(df, df, on=["k"], how=how)


def test_cogbk_stream_matches_materialized(spark):
    """Buffered small sides + streamed last side: per key, the chunks of
    the last input add up to exactly the rows a materialized group holds,
    and the buffered frames are whole."""
    na = spark.createDataFrame(
        [(1, "A"), (2, "B"), (3, "C")], "k int, name string"
    )
    cu = spark.createDataFrame(
        [(1, 10.0), (1, 5.0), (2, 7.5)], "k int, bal double"
    )
    ev = spark.createDataFrame(
        [(1, i * 1.0) for i in range(50)] + [(3, 2.0)], "k int, v double"
    )

    def fn(key, groups):
        nat, cus = groups["nation"], groups["cust"]
        total = n = 0.0
        for chunk in groups["events"]:
            total += float(chunk["v"].sum())
            n += len(chunk)
        if not len(nat):
            return None
        return pd.DataFrame(
            [
                {
                    "k": int(key[0]),
                    "name": nat["name"].iloc[0],
                    "n_cust": len(cus),
                    "bal": float(cus["bal"].sum()),
                    "n_ev": int(n),
                    "v_sum": total,
                }
            ]
        )

    out = join.co_group_by_key(
        {"nation": na, "cust": cu, "events": ev},
        ["k"],
        fn,
        "k int, name string, n_cust long, bal double, n_ev long, v_sum double",
    )
    rows = {r["k"]: r for r in out.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1]["n_cust"] == 2 and rows[1]["bal"] == 15.0
    assert rows[1]["n_ev"] == 50 and rows[1]["v_sum"] == sum(range(50)) * 1.0
    assert rows[2]["n_cust"] == 1 and rows[2]["n_ev"] == 0
    assert rows[3]["n_cust"] == 0 and rows[3]["n_ev"] == 1 and rows[3]["v_sum"] == 2.0


def test_cogbk_stream_hot_key_is_chunked(spark):
    """The spill-safety claim (VERDICT r7 #3): a hot key's streamed side
    must arrive as MANY bounded chunks (<= the Arrow batch size), never
    one materialized frame — the fn itself reports what it observed."""
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "500")
    try:
        dim = spark.createDataFrame([(7, "hot")], "k int, name string")
        # one skewed key: 20x the batch size
        big = spark.range(10_000).select(
            F.lit(7).alias("k"), F.col("id").cast("double").alias("v")
        )

        def fn(key, groups):
            n_chunks = max_rows = total = 0
            for chunk in groups["big"]:
                n_chunks += 1
                max_rows = max(max_rows, len(chunk))
                total += int(chunk["v"].sum())
            return pd.DataFrame(
                [
                    {
                        "k": int(key[0]),
                        "n_chunks": n_chunks,
                        "max_rows": max_rows,
                        "total": total,
                    }
                ]
            )

        out = join.co_group_by_key(
            {"dim": dim, "big": big},
            ["k"],
            fn,
            "k int, n_chunks long, max_rows long, total long",
        ).collect()
        assert len(out) == 1
        r = out[0]
        assert r["total"] == sum(range(10_000))
        assert r["max_rows"] <= 500, "a chunk exceeded the Arrow batch bound"
        assert r["n_chunks"] >= 20, "hot key was not streamed in chunks"
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_cogbk_stream_drains_unconsumed(spark):
    """A fn that never touches the streamed side must not corrupt the
    next key's groups (the runner drains the unread tail)."""
    dim = spark.createDataFrame([(1, "a"), (2, "b")], "k int, name string")
    big = spark.createDataFrame(
        [(1, 1.0)] * 30 + [(2, 5.0)] * 3, "k int, v double"
    )

    def fn(key, groups):
        return pd.DataFrame(
            [{"k": int(key[0]), "name": groups["dim"]["name"].iloc[0]}]
        )

    out = join.co_group_by_key(
        {"dim": dim, "big": big}, ["k"], fn, "k int, name string"
    ).collect()
    assert sorted((r["k"], r["name"]) for r in out) == [(1, "a"), (2, "b")]


def test_cogbk_guard_is_default_on(spark, monkeypatch):
    """The hot-key guard on buffered inputs is always on: the runner takes
    no knob to turn it off, and its bound is the module constant (4M rows).
    Simulated by shrinking the constant rather than building a 4M-row
    group; with two inputs the buffered hot key fails fast, naming the
    fix."""
    a = spark.createDataFrame([(1, 1)] * 100, "k int, v int")
    b = spark.createDataFrame([(1, 2)], "k int, w int")

    def fn(key, groups):
        return pd.DataFrame([{"k": int(key[0])}])

    assert join.MAX_BUFFERED_ROWS == 4_000_000
    assert list(inspect.signature(join.co_group_by_key).parameters) == [
        "dfs", "keys", "fn", "schema"
    ]
    monkeypatch.setattr(join, "MAX_BUFFERED_ROWS", 10)
    df = join.co_group_by_key({"a": a, "b": b}, ["k"], fn, "k int")
    with pytest.raises(Exception, match="put the hot input last"):
        df.collect()


def test_cogbk_max_group_rows_guard(spark, monkeypatch):
    """Only the last input streams, so a hot key on a buffered input is
    held whole: past the module bound the runner fails fast instead of
    OOMing silently at scale, wherever the buffered hot input sits; the
    same hot key on the streamed last input passes."""
    a = spark.createDataFrame([(1, 1)] * 100, "k int, v int")
    b = spark.createDataFrame([(1, 2)], "k int, w int")
    c = spark.createDataFrame([(1, 3)], "k int, x int")

    def fn(key, groups):
        return pd.DataFrame([{"k": int(key[0])}])

    monkeypatch.setattr(join, "MAX_BUFFERED_ROWS", 10)
    for dfs in ({"a": a, "b": b, "c": c}, {"b": b, "a": a, "c": c}):
        df = join.co_group_by_key(dfs, ["k"], fn, "k int")
        with pytest.raises(Exception, match="put the hot input last"):
            df.collect()
    assert join.co_group_by_key({"b": b, "a": a}, ["k"], fn, "k int").count() == 1
    assert (
        join.co_group_by_key({"b": b, "c": c, "a": a}, ["k"], fn, "k int").count()
        == 1
    )


def test_cogbk_preserves_int64_beyond_2_53(spark):
    """co_group_by_key must hand fn EXACT int64 values even when
    other tags' null padding shares the wire (round-8 regression: a
    pandas-side split saw nulls in the union and degraded bigint
    columns to float64, corrupting 64-bit hash ids above 2^53; the
    Arrow-side split filters per tag BEFORE converting, keeping its own
    columns null-free and int64)."""
    big = 2**53 + 1
    a = spark.createDataFrame([(1, big), (2, 5)], "k int, v long")
    b = spark.createDataFrame([(1, 7)], "k int, w long")
    c = spark.createDataFrame([(1, 8), (2, 6)], "k int, x long")

    def fn(key, groups):
        # key 2 is absent from b: fn gets an EMPTY frame that keeps b's
        # dtypes, not an object-dtype placeholder
        w = groups["b"]["w"]
        assert str(w.dtype) == "int64", f"absent-key frame dtype {w.dtype}"
        if not len(w):
            return None
        s = groups["a"]["v"]
        assert str(s.dtype) == "int64", f"degraded dtype {s.dtype}"
        total = 0
        for chunk in groups["c"]:
            assert str(chunk["x"].dtype) == "int64", chunk["x"].dtype
            total += int(chunk["x"].sum())
        return pd.DataFrame([{"k": int(key[0]), "v": int(s.iloc[0]), "t": total}])

    got = join.co_group_by_key(
        {"a": a, "b": b, "c": c}, ["k"], fn, "k int, v long, t long"
    ).collect()
    assert len(got) == 1 and got[0]["v"] == big and got[0]["t"] == 8


def test_cogbk_stream_distinguishes_adjacent_int64_keys(spark):
    """Round-8 regression (review-caught): run-boundary detection via
    pandas shift() upcast int64 keys to float64, silently MERGING
    adjacent sorted keys that collide as doubles (2^53 and 2^53+1).
    Position-wise comparison of the raw int64 arrays must keep them
    distinct groups."""
    k0, k1 = 2**53, 2**53 + 1
    a = spark.createDataFrame([(k0, 1), (k1, 2)], "k long, v long")
    b = spark.createDataFrame(
        [(k0, 10), (k1, 20)], "k long, w long"
    )

    def fn(key, groups):
        s = 0
        for chunk in groups["b"]:
            s += int(chunk["w"].sum())
        return pd.DataFrame(
            [{"k": int(key[0]), "n_a": len(groups["a"]), "s_b": s}]
        )

    rows = {
        r["k"]: (r["n_a"], r["s_b"])
        for r in join.co_group_by_key(
            {"a": a, "b": b}, ["k"], fn, "k long, n_a long, s_b long"
        ).collect()
    }
    assert rows == {k0: (1, 10), k1: (1, 20)}, rows


_THIRD_INPUT = {
    # tv double differs from rv int: the third input rides its own slot
    "three_mixed_layouts": ([("a", 1.5), ("e", 5.5)], "k string, tv double"),
    # tv int == rv int: r and t share one value slot, nothing padded
    "three_shared_layout": ([("a", 7), ("e", 9)], "k string, tv int"),
}


@pytest.mark.parametrize(
    "case", ["one_input", "two_inputs", "three_mixed_layouts", "three_shared_layout"]
)
def test_cogbk_plans_one_sorted_stream(spark, sides, case):
    """co_group_by_key plans ONE sorted stream for every input count and
    value layout: every input tagged into one union, one hash exchange
    on the key, one sort, one mapInArrow pass — no native cogroup. Same
    CoGbkResult contract: named frames for buffered inputs and chunks
    for the last, original column order, keys included, EMPTY for
    absent keys."""
    left, right = sides
    dfs = {"l": left.df} if case == "one_input" else {"l": left.df, "r": right.df}
    if case in _THIRD_INPUT:
        dfs["t"] = Pipeline(spark).create(*_THIRD_INPUT[case]).df
    value_col = {"l": "lv", "r": "rv", "t": "tv"}
    names = list(dfs)

    def fn(key, groups):
        assert list(groups) == names
        row = {"k": key[0]}
        for name, g in groups.items():
            chunks = list(g) if name == names[-1] else [g]
            for chunk in chunks:
                assert list(chunk.columns) == ["k", value_col[name]]
            row[f"n_{name}"] = sum(len(c) for c in chunks)
            row[f"s_{name}"] = float(sum(c[value_col[name]].sum() for c in chunks))
        return pd.DataFrame([row])

    out = join.co_group_by_key(
        dfs,
        ["k"],
        fn,
        "k string, " + ", ".join(f"n_{n} long, s_{n} double" for n in dfs),
    )
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple"
    )
    assert plan.count("Exchange hashpartitioning(k#") == 1, plan
    assert plan.count("Sort [k#") == 1, plan
    assert plan.count("MapInArrow") == 1, plan
    assert "FlatMapCoGroupsInArrow" not in plan, plan
    inputs = {n: [tuple(r) for r in df.collect()] for n, df in dfs.items()}
    expect = []
    for k in sorted({r[0] for rs in inputs.values() for r in rs}):
        row = [k]
        for rs in inputs.values():
            vals = [v for kk, v in rs if kk == k]
            row += [len(vals), float(sum(vals))]
        expect.append(tuple(row))
    assert rows(out) == expect


def test_cogbk_single_input(spark):
    """One-input CoGroupByKey gives one group per key; the only input is
    the last one, so it streams as chunks."""
    a = spark.createDataFrame([(1, 10), (1, 11), (2, 20)], "k int, v long")

    def fn(key, groups):
        g = pd.concat(list(groups["a"]))
        return pd.DataFrame([{"k": int(key[0]), "n": len(g), "s": int(g["v"].sum())}])

    out = join.co_group_by_key({"a": a}, ["k"], fn, "k int, n long, s long")
    assert {r["k"]: (r["n"], r["s"]) for r in out.collect()} == {
        1: (2, 21),
        2: (1, 20),
    }


def test_cogbk_shared_fact_side_int64_exactness(spark):
    """Inputs sharing a value layout share one slot column; a tag's
    int64 values must stay EXACT even when another tag holds nulls in
    that shared column (the
    whole-frame pandas conversion would upcast to float64 and corrupt
    values above 2^53 — the hazard the Arrow-side per-tag split
    exists for)."""
    big = (1 << 53) + 1  # not representable as float64
    p = Pipeline(spark)
    anchor = p.create([("a", 0)], "k string, av int")
    with_nulls = p.create(
        [("a", None), ("a", 5)], "k string, v long"
    )
    exact_ints = p.create([("a", big)], "k string, v long")

    def fn(key, groups):
        v = pd.concat(list(groups["exact"]))["v"]  # last input: chunks
        return pd.DataFrame(
            [{"k": key[0], "got": int(v.iloc[0]), "dtype_ok": str(v.dtype) == "int64",
              "n_null_side": len(groups["nulls"])}]
        )

    out = join.co_group_by_key(
        {"anchor": anchor.df, "nulls": with_nulls.df, "exact": exact_ints.df},
        ["k"],
        fn,
        "k string, got long, dtype_ok boolean, n_null_side long",
    )
    r = out.collect()[0]
    assert r["got"] == big
    assert r["dtype_ok"] is True
    assert r["n_null_side"] == 2


def test_cogbk_null_key_is_one_group(spark):
    """A null key is ONE group across buffered and streamed inputs, as in
    a groupBy, and the 64-bit key sorted next to it stays exact: run
    boundaries and key values are read in Arrow, never through pandas'
    float64 upcast (which splits NaN runs and rounds 2^53+1)."""
    big = 2**53 + 1
    a = spark.createDataFrame([(None, 1), (None, 2), (big, 3)], "k long, v long")
    b = spark.createDataFrame([(None, 10), (big, 20)], "k long, v long")
    c = spark.createDataFrame(
        [(None, 100), (None, 200), (big, 400)], "k long, v long"
    )

    def fn(key, groups):
        chunks = list(groups["c"])
        return pd.DataFrame(
            [{"k": key[0], "n_a": len(groups["a"]), "n_b": len(groups["b"]),
              "n_c": sum(len(ch) for ch in chunks),
              "s_c": int(sum(ch["v"].sum() for ch in chunks))}]
        )

    got = join.co_group_by_key(
        {"a": a, "b": b, "c": c},
        ["k"],
        fn,
        "k long, n_a long, n_b long, n_c long, s_c long",
    ).collect()
    assert len(got) == 2, got  # a split null run would emit a row per run
    assert {r["k"]: tuple(r)[1:] for r in got} == {
        None: (2, 1, 2, 300),
        big: (1, 1, 1, 400),
    }


def test_cogbk_nan_key_is_one_group(spark):
    """NaN keys group together, as in a groupBy, although NaN != NaN:
    one group across the buffered and the streamed input."""
    nan = float("nan")
    a = spark.createDataFrame([(nan, 1), (1.0, 2)], "k double, v long")
    b = spark.createDataFrame([(nan, 10), (nan, 11), (1.0, 20)], "k double, v long")

    def fn(key, groups):
        return pd.DataFrame(
            [{"is_nan": key[0] != key[0], "n_a": len(groups["a"]),
              "n_b": n_rows(groups["b"])}]
        )

    got = join.co_group_by_key(
        {"a": a, "b": b}, ["k"], fn, "is_nan boolean, n_a long, n_b long"
    ).collect()
    assert sorted(tuple(r) for r in got) == [(False, 1, 1), (True, 1, 2)]


@pytest.mark.parametrize("n_inputs", [2, 3])
def test_co_group_arrays_null_key_is_one_row(spark, n_inputs):
    """co_group_arrays makes a null key ONE row across inputs, as
    co_group_by_key and a groupBy do: the outer joins match keys
    null-safely and coalesce them."""
    sides = {
        "a": spark.createDataFrame([(None, 1), (1, 2)], "k long, v long"),
        "b": spark.createDataFrame([(None, 10), (1, 20)], "k long, v long"),
        "c": spark.createDataFrame([(None, 100), (2, 300)], "k long, v long"),
    }
    dfs = dict(list(sides.items())[:n_inputs])
    got = {
        r["k"]: tuple(sorted(x.v for x in r[name]) for name in dfs)
        for r in join.co_group_arrays(dfs, ["k"]).collect()
    }
    expect = {
        2: {None: ([1], [10]), 1: ([2], [20])},
        3: {None: ([1], [10], [100]), 1: ([2], [20], []), 2: ([], [], [300])},
    }[n_inputs]
    assert got == expect
    assert join.co_group_arrays(dfs, ["k"]).count() == len(expect)


def test_cogbk_emitted_nan_stays_nan(spark):
    """A NaN that fn emits in a float column stays NaN (a groupBy on the
    same rows reports nan), while None in an object-dtype column stays
    null."""
    nan = float("nan")
    a = spark.createDataFrame([(nan, 1), (1.0, 2)], "k double, v long")
    b = spark.createDataFrame([(nan, 10), (1.0, 20)], "k double, v long")

    def fn(key, groups):
        n_b = n_rows(groups["b"])
        return pd.DataFrame(
            {"k": [key[0]], "tag": pd.Series([None], dtype=object), "n_b": [n_b]}
        )

    got = join.co_group_by_key(
        {"a": a, "b": b}, ["k"], fn, "k double, tag string, n_b long"
    ).collect()
    assert len(got) == 2
    assert {("nan" if r["k"] != r["k"] else r["k"]): (r["tag"], r["n_b"])
            for r in got} == {1.0: (None, 1), "nan": (None, 1)}
    counted = a.groupBy("k").count().collect()
    assert sum(1 for r in counted if r["k"] is not None and r["k"] != r["k"]) == 1
