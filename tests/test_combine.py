"""Grouping/combining unit tests (mirrors historical tests/transforms/
GroupByKeyTest, CombineTest, CountTest, TopTest, SampleTest,
ApproximateUniqueTest, RemoveDuplicatesTest)."""

from __future__ import annotations

import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dataflowjavasdk_spark.core import Pipeline
from dataflowjavasdk_spark.operators import combine


@pytest.fixture(scope="module")
def kv(spark):
    return Pipeline(spark).create(
        [(1, 1.0), (1, 2.0), (2, 3.0), (2, 5.0), (2, 10.0)], "id long, v double"
    )


def rows(pc):
    return sorted(tuple(r) for r in pc.collect())


def test_group_by_key_iterables(kv):
    out = kv.group_by_key(["id"], "v")
    got = {r["id"]: sorted(r["values"]) for r in out.collect()}
    assert got == {1: [1.0, 2.0], 2: [3.0, 5.0, 10.0]}


def test_combine_per_key_builtin_aggs(kv):
    out = kv.combine_per_key(["id"], aggs={"s": F.sum("v"), "n": F.count(F.lit(1))})
    assert rows(out) == [(1, 3.0, 2), (2, 18.0, 3)]


class MeanFn(combine.CombineFn):
    """The canonical 4-method CombineFn from the reference docs (sum,count)."""

    def create_accumulator(self):
        return (0.0, 0)

    def add_input(self, acc, value):
        return (acc[0] + value, acc[1] + 1)

    def add_inputs(self, acc, values: pd.Series):
        return (acc[0] + values.sum(), acc[1] + len(values))

    def merge_accumulators(self, accs):
        return (sum(a[0] for a in accs), sum(a[1] for a in accs))

    def extract_output(self, acc):
        return acc[0] / acc[1] if acc[1] else float("nan")


def test_combine_per_key_custom_fn(kv):
    out = kv.combine_per_key(["id"], fn=MeanFn(), col="v", out="mean_v")
    assert rows(out) == [(1, 1.5), (2, 6.0)]


def test_combine_globally_custom_fn(kv):
    out = kv.combine_globally(MeanFn(), "v", "mean_v")
    assert rows(out) == [(4.2,)]


def test_combine_fn_spark_agg_fast_path(kv):
    class SumFn(combine.CombineFn):
        spark_agg = staticmethod(F.sum)

    out = kv.combine_per_key(["id"], fn=SumFn(), col="v", out="s")
    assert rows(out) == [(1, 3.0), (2, 18.0)]


def test_hot_key_fanout_matches_direct(spark):
    df = Pipeline(spark).create(
        [("hot", float(i)) for i in range(100)] + [("cold", 1.0)], "k string, v double"
    ).df
    fanned = combine.Combine.with_hot_key_fanout(
        df, ["k"], F.sum("v"), F.sum, out="s", fanout=8
    )
    direct = df.groupBy("k").agg(F.sum("v").alias("s"))
    assert sorted(map(tuple, fanned.collect())) == sorted(map(tuple, direct.collect()))


def test_count_variants(kv):
    assert rows(kv.count_globally()) == [(5,)]
    assert rows(kv.count_per_key(["id"])) == [(1, 2), (2, 3)]
    assert rows(kv.count_per_element("id")) == [(1, 2), (2, 3)]


def test_top_global_and_per_key(kv):
    assert rows(kv.top("v", 2)) == [(2, 5.0), (2, 10.0)]
    out = kv.top_per_key(["id"], "v", 1)
    assert rows(out) == [(1, 2.0, 1), (2, 10.0, 1)]


def test_sample(kv):
    assert kv.sample_any(3).df.count() == 3
    s = kv.sample_fixed_size(2)
    assert s.df.count() == 2
    # deterministic under a fixed seed
    assert rows(s) == rows(kv.sample_fixed_size(2))


def test_approximate_unique_accuracy(spark):
    df = Pipeline(spark).counting_input(10_000).with_column("u", F.col("value") % 1000)
    got = df.approximate_unique("u", rsd=0.02).collect()[0][0]
    assert abs(got - 1000) / 1000 < 0.1  # HLL++ at 2% rsd


def test_approximate_quantiles(spark):
    pc = Pipeline(spark).counting_input(1001)
    got = pc.approximate_quantiles("value", [0.0, 0.5, 1.0]).collect()[0][0]
    assert got[0] == 0 and abs(got[1] - 500) <= 10 and got[2] == 1000


def test_remove_duplicates(spark):
    pc = Pipeline(spark).create([(1, "a"), (1, "a"), (2, "b")], "id int, s string")
    assert rows(pc.distinct()) == [(1, "a"), (2, "b")]
    by_key = pc.distinct_by(["id"])
    assert by_key.df.count() == 2


def test_group_into_batches_bounded_and_lossless(spark):
    """GroupIntoBatches: every batch ≤ batch_size; union of batches is the
    original multiset per key; hot key 'a' (7 values) splits into 3 batches."""
    data = [("a", i) for i in range(7)] + [("b", 10), ("b", 11)]
    pc = Pipeline(spark).create(data, "key string, v int")
    out = pc.group_into_batches(["key"], "v", batch_size=3).collect()
    by_key = {}
    for r in out:
        assert len(r["batch"]) <= 3
        by_key.setdefault(r["key"], []).extend(r["batch"])
    assert sorted(by_key["a"]) == list(range(7))
    assert sorted(by_key["b"]) == [10, 11]
    assert sum(1 for r in out if r["key"] == "a") == 3


def test_combine_per_key_custom_fn_lifts_before_shuffle(spark):
    """A custom CombineFn runs the lifted plan: map-side partial
    accumulators (MapInPandas) precede the one exchange, and the result
    matches the Python reference on a larger keyed input."""
    data = [(i % 7, float(i)) for i in range(5000)]
    df = Pipeline(spark).create(data, "id long, v double").df.repartition(8)
    out = combine.Combine.per_key(df, ["id"], "v", MeanFn(), "mean_v")
    got = sorted(map(tuple, out.collect()))
    expect = {
        k: sum(v for i, v in data if i == k) / sum(1 for i, _ in data if i == k)
        for k in range(7)
    }
    assert [k for k, _ in got] == list(range(7))
    for k, m in got:
        assert abs(m - expect[k]) < 1e-9

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.index("MapInPandas") > plan.index("Exchange"), plan
    # (executedPlan prints top-down: the exchange CONSUMES MapInPandas
    # output, so MapInPandas appears below/after it in the string.)


def test_combine_per_key_custom_fn_empty_and_single_key(spark):
    df = Pipeline(spark).create([(1, 2.0)], "id long, v double").df
    out = combine.Combine.per_key(df, ["id"], "v", MeanFn(), "m")
    assert sorted(map(tuple, out.collect())) == [(1, 2.0)]
    empty = df.filter(F.col("v") > 100)
    out2 = combine.Combine.per_key(empty, ["id"], "v", MeanFn(), "m")
    assert out2.collect() == []


def test_combine_per_key_custom_fn_keys_stay_exact(spark):
    """Keys the map side's pandas frames cannot hold exactly still group
    as a groupBy does: a long key above 2**53 beside a null one in the
    same batch, and a null double key beside a NaN one (two groups);
    a struct key groups too."""
    big = 2**53 + 1
    longs = Pipeline(spark).create(
        [(big, 1.0), (big - 1, 3.0), (None, 5.0), (big, 2.0)], "k long, v double"
    ).df.coalesce(1)
    got = combine.Combine.per_key(longs, ["k"], "v", MeanFn(), "m").collect()
    assert sorted(map(tuple, got), key=str) == sorted(
        [(big, 1.5), (big - 1, 3.0), (None, 5.0)], key=str
    )

    nan = float("nan")
    doubles = Pipeline(spark).create(
        [(nan, 1.0), (None, 3.0), (nan, 2.0), (1.0, 7.0), (-0.0, 9.0), (0.0, 11.0)],
        "k double, v double",
    ).df.coalesce(1)
    got = combine.Combine.per_key(doubles, ["k"], "v", MeanFn(), "m").collect()
    by_key = {("nan" if k != k else k): m for k, m in map(tuple, got)}
    assert len(got) == 4
    assert by_key == {"nan": 1.5, None: 3.0, 1.0: 7.0, 0.0: 10.0}

    structs = Pipeline(spark).create(
        [(1, "a", 1.0), (1, "a", 3.0), (1, "b", 5.0)], "x long, y string, v double"
    ).df.select(F.struct("x", "y").alias("s"), "v")
    got = combine.Combine.per_key(structs, ["s"], "v", MeanFn(), "m").collect()
    assert sorted((r["s"]["y"], r["m"]) for r in got) == [("a", 2.0), ("b", 5.0)]


def test_windowed_custom_combine_fn(spark):
    """FixedWindows + a custom CombineFn through the facade groups per
    (key, window): the window struct is a group key of the lifted plan."""
    from dataflowjavasdk_spark.operators.windowing import FixedWindows

    data = [("a", s, float(s)) for s in (0, 5, 9, 12, 30)] + [("b", 3, 100.0)]
    pc = (
        Pipeline(spark)
        .create(data, "key string, sec int, v double")
        .with_timestamps(F.timestamp_seconds(F.col("sec")))
        .window_into(FixedWindows("10 seconds"))
        .combine_per_key(["key"], fn=MeanFn(), col="v", out="mean_v")
    )
    got = sorted(
        (
            r["key"],
            int(r["window"]["start"].replace(tzinfo=datetime.timezone.utc).timestamp()),
            r["mean_v"],
        )
        for r in pc.collect()
    )
    expect = {}
    for k, s, v in data:
        expect.setdefault((k, s - s % 10), []).append(v)
    assert got == sorted((k, w, sum(vs) / len(vs)) for (k, w), vs in expect.items())
