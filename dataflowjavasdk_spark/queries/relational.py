"""Relational queries over the TPC-H-ish star schema: the GroupByKey /
Combine / Join / Top surface of the reference (SURVEY.md §2.2-§2.3),
expressed as the acceptance-query corpus.

Scale notes per query are inline. General posture: dimension tables
(region/nation/customer/supplier/part at TPC-H ratios) are broadcast; fact
tables (lineitem/orders) shuffle at most once per query; all filters are
Column expressions so Catalyst pushes them into the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from dataflowjavasdk_spark.queries.helpers import (
    SQL_CHARGE,
    SQL_DISC_PRICE,
    SQL_SUM_CHARGE,
    SQL_SUM_DISC_PRICE,
    charge,
    davg,
    disc_price,
    dsum,
    money,
    sql_dsum,
)
from dataflowjavasdk_spark.queries.registry import query
from dataflowjavasdk_spark.sources.tables import load_table


def _cents(series) -> int:
    """Exact integer-cents sum of a float64 pandas Series holding
    2-DECIMAL currency data (TPC-H acctbal/totalprice): scale to cents,
    round half-away-from-zero, sum as int64. Order-independent, and for
    2-decimal inputs identical to a per-row Decimal(repr(v)).quantize(
    0.01, ROUND_HALF_UP) fold — NOT for 3+-decimal data, where the
    repr-based Decimal path and float scaling can disagree on exact
    .5-cent ties (1.005 * 100 is 100.4999…, a hair below the tie).
    Used by the per-nation CoGBK fold below."""
    import numpy as np

    scaled = series.to_numpy(dtype="float64") * 100.0
    return int(
        (np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)).astype("int64").sum()
    )


@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity', 12, 2)} AS sum_qty,
           {sql_dsum('l_extendedprice', 18, 2)} AS sum_base_price,
           {SQL_SUM_DISC_PRICE} AS sum_disc_price,
           {SQL_SUM_CHARGE} AS sum_charge,
           {sql_dsum('l_quantity', 12, 2)} / count(*) AS avg_qty,
           {sql_dsum('l_extendedprice', 18, 2)} / count(*) AS avg_price,
           {sql_dsum('l_discount', 4, 2)} / count(*) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: filter + 2-key groupBy + 7 aggregates.

    Reference surface: Filter.by + GroupByKey + Combine.perKey (historical
    sdk/transforms/{Filter,GroupByKey,Combine}.java). Combiner lifting ≡
    Spark's partial/final HashAggregate — map-side combine before the single
    shuffle; the shipdate filter and 7-column projection push into the scan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", 12, 2).alias("sum_qty"),
            dsum("l_extendedprice", 18, 2).alias("sum_base_price"),
            money(F.sum(disc_price())).alias("sum_disc_price"),
            money(F.sum(charge())).alias("sum_charge"),
            davg("l_quantity", 12, 2).alias("avg_qty"),
            davg("l_extendedprice", 18, 2).alias("avg_price"),
            davg("l_discount", 4, 2).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q3_join_agg",
    oracle=f"""
    SELECT l_orderkey,
           {SQL_SUM_DISC_PRICE} AS revenue,
           o_orderdate
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: 3-table join + filter + groupBy + top-10 by revenue.

    Reference: the CoGroupByKey join pattern (historical
    contrib/join-library Join.java + cookbook/JoinExamples.java) — but
    Catalyst plans it: customer (small, filtered) broadcasts into orders,
    the orders⋈lineitem equi-join shuffles on orderkey once. Top-10 plans
    as TakeOrderedAndProject (bounded heap per partition — Top.java's exact
    algorithm, historical sdk/transforms/Top.java).
    """
    cu = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    od = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(money(F.sum(disc_price())).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_region_revenue",
    oracle=f"""
    SELECT n_name, {SQL_SUM_DISC_PRICE} AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style: 6-table join, revenue per nation within one region.

    All four dimension tables broadcast (region 5 rows → supplier ~1k/sf);
    the only shuffles are fact⋈fact on orderkey and the final 25-group agg.
    """
    cu = load_table(spark, sf_dir, "customer")
    od = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    re = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(
            su,
            (li.l_suppkey == su.s_suppkey) & (cu.c_nationkey == su.s_nationkey),
        )
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .join(F.broadcast(re), na.n_regionkey == re.r_regionkey)
        .groupBy("n_name")
        .agg(money(F.sum(disc_price())).alias("revenue"))
    )


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT (CAST(FLOOR((SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(4,2)))) * 100) AS BIGINT)
            / CAST(100 AS DOUBLE)) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style: pure filter + global aggregate — Filter.by +
    Combine.globally (historical sdk/transforms/Combine.java
    Combine.globally). All four predicates push into the parquet scan;
    zero shuffle (partial aggs reduce to one row)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            money(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(12,2)")
                    * F.col("l_discount").cast("decimal(4,2)")
                )
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "join_left_outer_customer_orders",
    oracle="""
    SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
           CAST(SUM(CAST(COALESCE(o_totalprice, 0) AS DECIMAL(18,2))) AS DOUBLE)
             AS total_spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    """,
)
def join_left_outer_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join.leftOuterJoin (historical contrib/join-library Join.java):
    customers with zero orders survive with NULL order side (the
    reference's explicit nullValue sentinel → SQL NULL)."""
    cu = load_table(spark, sf_dir, "customer")
    od = load_table(spark, sf_dir, "orders")
    return (
        cu.join(od, cu.c_custkey == od.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.sum(F.coalesce(F.col("o_totalprice"), F.lit(0)).cast("decimal(18,2)"))
            .cast("double")
            .alias("total_spend"),
        )
    )


@query(
    "join_semi_anti_counts",
    oracle="""
    SELECT
      (SELECT count(*) FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders)) AS n_with_orders,
      (SELECT count(*) FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)) AS n_without_orders
    """,
)
def join_semi_anti_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi / left_anti joins — absent in the reference (hand-rolled
    via CoGBK there; SURVEY.md §2.3 flags them as free in Spark)."""
    cu = load_table(spark, sf_dir, "customer")
    od = load_table(spark, sf_dir, "orders")
    semi = cu.join(od, cu.c_custkey == od.o_custkey, "left_semi").count()
    anti = cu.join(od, cu.c_custkey == od.o_custkey, "left_anti").count()
    return spark.createDataFrame(
        [(semi, anti)], "n_with_orders bigint, n_without_orders bigint"
    )


@query(
    "cogroup_customer_orders",
    oracle="""
    WITH o AS (SELECT o_custkey, count(*) AS n_orders,
                      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                        AS total_spend
               FROM orders GROUP BY o_custkey)
    SELECT c_custkey, c_nationkey,
           COALESCE(n_orders, 0) AS n_orders,
           COALESCE(total_spend, 0.0) AS total_spend
    FROM customer LEFT JOIN o ON c_custkey = o_custkey
    """,
)
def cogroup_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CoGroupByKey (historical sdk/transforms/join/CoGroupByKey.java +
    CoGbkResult.java): per key, the tuple of iterables from both sides —
    here reduced per-group. Implemented relationally (aggregate-then-join)
    rather than materializing iterables: at 100 TB, collect_list on the big
    side is the anti-pattern; pre-aggregation keeps the shuffle narrow."""
    cu = load_table(spark, sf_dir, "customer")
    od = load_table(spark, sf_dir, "orders")
    per_cust = od.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias(
            "total_spend"
        ),
    )
    return cu.join(per_cust, cu.c_custkey == per_cust.o_custkey, "left").select(
        "c_custkey",
        "c_nationkey",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("total_spend", F.lit(0.0)).alias("total_spend"),
    )


def _per_nation_cogbk(spark: SparkSession, sf_dir: str, facts: list[str]) -> DataFrame:
    """The per-nation fold both custom-fn CoGBK headliners run: nation,
    then the two fact sides in ``facts`` order, through
    ``co_group_by_key`` — the last fact side streams in Arrow-batch
    chunks, nation and the other fact side arrive buffered. Per nation:
    the nation row's name read FROM the nation iterable (the CoGbkResult
    access pattern), plus the row count and exact-cents acctbal sum of
    each fact side (``n_{side}s``, ``{side}_acctbal``, in ``facts``
    order); an absent side is an empty iterable, not a null. Cents fold
    as integers, so the sums are order-independent and match the
    oracle's DECIMAL(18,2) sum. A key only on a fact side emits nothing:
    the oracle LEFT JOINs from nation."""
    import pandas as pd

    from dataflowjavasdk_spark.operators.join import co_group_by_key

    sides = {
        "nation": load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("nationkey"), "n_name"
        )
    }
    for side in facts:
        p = side[0]
        sides[side] = load_table(spark, sf_dir, side).select(
            F.col(f"{p}_nationkey").alias("nationkey"), f"{p}_acctbal"
        )

    def per_nation(key: tuple, groups: dict) -> pd.DataFrame | None:
        nat = groups["nation"]
        if not len(nat):
            return None
        row = {"n_nationkey": key[0], "n_name": nat["n_name"].iloc[0]}
        for side in facts:
            g = groups[side]
            n = cents = 0
            for chunk in [g] if isinstance(g, pd.DataFrame) else g:
                n += len(chunk)
                cents += _cents(chunk[f"{side[0]}_acctbal"])
            row[f"n_{side}s"] = n
            row[f"{side}_acctbal"] = cents / 100.0
        return pd.DataFrame([row])

    return co_group_by_key(
        sides,
        ["nationkey"],
        per_nation,
        "n_nationkey int, n_name string, "
        + ", ".join(f"n_{s}s bigint, {s}_acctbal double" for s in facts),
    )


@query(
    "cogroup_nation_customer_supplier",
    oracle="""
    WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_customers,
                      CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                        AS customer_acctbal
               FROM customer GROUP BY c_nationkey),
         s AS (SELECT s_nationkey AS nk, count(*) AS n_suppliers,
                      CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                        AS supplier_acctbal
               FROM supplier GROUP BY s_nationkey)
    SELECT n_nationkey, n_name,
           COALESCE(c.n_customers, 0) AS n_customers,
           COALESCE(c.customer_acctbal, 0.0) AS customer_acctbal,
           COALESCE(s.n_suppliers, 0) AS n_suppliers,
           COALESCE(s.supplier_acctbal, 0.0) AS supplier_acctbal
    FROM nation
    LEFT JOIN c ON n_nationkey = c.nk
    LEFT JOIN s ON n_nationkey = s.nk
    """,
)
def cogroup_nation_customer_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE-input CoGroupByKey with a custom per-key fn (round 7 — closes
    the last §2.3 partial): KeyedPCollectionTuple.of(n).and(c).and(s)
    .apply(CoGroupByKey) + a DoFn over the CoGbkResult's three tagged
    iterables (historical sdk/transforms/join/CoGroupByKey.java,
    KeyedPCollectionTuple.java), through ``_per_nation_cogbk``: nation
    and customer arrive buffered, SUPPLIER streams last. Plan: the three
    inputs tagged into one union (customer and supplier share one value
    slot, as their layouts match) → ONE shuffle per input on the key →
    sortWithinPartitions(key, tag) → one mapInArrow pass.

    Cost note (measured, sf0.1 warm): Arrow-transfer-bound — the
    per-key iterables ARE shipped to Python, which is the operator's
    contract (the reference's DoFn receives them the same way). When the
    per-key fn is a reduction like this one, the scalable plan is
    pre-aggregation (cogroup_customer_orders, ~20 ms): this query
    deliberately exercises the custom-fn boundary itself.
    """
    return _per_nation_cogbk(spark, sf_dir, ["customer", "supplier"])


@query(
    "cogbk_sorted_stream",
    oracle="""
    WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_customers,
                      CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                        AS customer_acctbal
               FROM customer GROUP BY c_nationkey),
         s AS (SELECT s_nationkey AS nk, count(*) AS n_suppliers,
                      CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                        AS supplier_acctbal
               FROM supplier GROUP BY s_nationkey)
    SELECT n_nationkey, n_name,
           COALESCE(s.n_suppliers, 0) AS n_suppliers,
           COALESCE(s.supplier_acctbal, 0.0) AS supplier_acctbal,
           COALESCE(c.n_customers, 0) AS n_customers,
           COALESCE(c.customer_acctbal, 0.0) AS customer_acctbal
    FROM nation
    LEFT JOIN c ON n_nationkey = c.nk
    LEFT JOIN s ON n_nationkey = s.nk
    """,
)
def cogbk_sorted_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same three-input per-nation fold as
    cogroup_nation_customer_supplier (``_per_nation_cogbk``) with the
    UNBOUNDED side last: nation + supplier arrive buffered, CUSTOMER
    streams through as Arrow-batch chunks, mirroring the reference
    CoGbkResult's buffer-all-but-one / stream-the-last design
    (historical sdk/transforms/join/CoGbkResult.java). A hot nationkey
    at 100× costs one Arrow batch of executor memory instead of the
    whole group (tests/test_join_flatten_sort.py pins the chunk bound;
    SCALE.md §custom-fn-CoGBK). Same plan: one shuffle per input, the
    partition sort (UnsafeExternalSorter: spills), one mapInArrow
    pass."""
    return _per_nation_cogbk(spark, sf_dir, ["supplier", "customer"])


@query(
    "topk_per_group",
    oracle="""
    WITH sums AS (
      SELECT event_type, user_id,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY event_type, user_id
    ),
    ranked AS (
      SELECT event_type, user_id, sum_value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY sum_value DESC, user_id) AS rk
      FROM sums
    )
    SELECT event_type, user_id, sum_value, rk FROM ranked WHERE rk <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top.perKey(3) (historical sdk/transforms/Top.java): bounded-heap
    per-key top-k → window row_number ≤ k. Two shuffles (agg, then window
    partition) — at scale the row_number input is already one row per
    (type,user), orders of magnitude smaller than the events fact."""
    ev = load_table(spark, sf_dir, "events")
    sums = ev.groupBy("event_type", "user_id").agg(dsum("value").alias("sum_value"))
    w = W.partitionBy("event_type").orderBy(F.col("sum_value").desc(), F.col("user_id"))
    return sums.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 3)


@query(
    "top_global_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def top_global_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top.largest(20) (historical sdk/transforms/Top.java): global top-k.
    Plans as TakeOrderedAndProject — per-partition bounded heaps merged on
    the driver; never a full sort at scale."""
    od = load_table(spark, sf_dir, "orders")
    return (
        od.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


@query(
    "count_per_key_events",
    oracle="""
    SELECT event_type, count(*) AS n,
           count(DISTINCT user_id) AS n_users,
           CAST(min(value) AS DOUBLE) AS min_value,
           CAST(max(value) AS DOUBLE) AS max_value
    FROM events GROUP BY event_type
    """,
)
def count_per_key_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count.perKey + Min/Max.perKey (historical sdk/transforms/
    {Count,Min,Max}.java). min/max of doubles are order-independent —
    no decimal cast needed."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


@query(
    "count_per_element_priority",
    oracle="""
    SELECT o_orderpriority AS element, count(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def count_per_element_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count.perElement (historical sdk/transforms/Count.java) — the value
    histogram: groupBy(value).count()."""
    od = load_table(spark, sf_dir, "orders")
    return od.groupBy(F.col("o_orderpriority").alias("element")).agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "distinct_event_users",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def distinct_event_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RemoveDuplicates (historical sdk/transforms/RemoveDuplicates.java):
    distinct() — hash-aggregate on all columns, map-side partial dedup
    before the shuffle."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select("user_id", "event_type").distinct()


@query(
    "approx_distinct_users",
    oracle="""
    SELECT count(DISTINCT user_id) AS exact_users, TRUE AS within_3rsd
    FROM events
    """,
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ApproximateUnique.globally (historical sdk/transforms/
    ApproximateUnique.java, sample-space heap sketch) → HyperLogLog++
    (approx_count_distinct, rsd=0.02). Sketch estimates are
    engine-specific, so the raw estimate can't be oracled; instead the
    query emits the exact distinct count plus the bound verdict
    |approx − exact| ≤ 3·rsd·exact computed INSIDE the query — the HLL
    sketch still runs in this plan, and the oracle asserts the verdict is
    TRUE, making accuracy driver-checkable rather than rows-only."""
    ev = load_table(spark, sf_dir, "events")
    rsd = 0.02
    return ev.agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd).alias("__approx"),
    ).select(
        "exact_users",
        (
            F.abs(F.col("__approx") - F.col("exact_users"))
            <= 3 * rsd * F.col("exact_users")
        ).alias("within_3rsd"),
    )


@query(
    "grouped_stats_nation",
    oracle="""
    SELECT c_nationkey,
           count(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_acctbal,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*)
             AS mean_acctbal,
           CAST(min(c_acctbal) AS DOUBLE) AS min_acctbal,
           CAST(max(c_acctbal) AS DOUBLE) AS max_acctbal
    FROM customer GROUP BY c_nationkey
    """,
)
def grouped_stats_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sum/Mean/Min/Max.perKey in one pass (historical sdk/transforms/
    {Sum,Mean,Min,Max}.java) — Combine.perKey fusion: all four accumulators
    share one shuffle, as the Dataflow service's combiner lifting would."""
    cu = load_table(spark, sf_dir, "customer")
    return cu.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        dsum("c_acctbal", 12, 2).alias("sum_acctbal"),
        davg("c_acctbal", 12, 2).alias("mean_acctbal"),
        F.min("c_acctbal").alias("min_acctbal"),
        F.max("c_acctbal").alias("max_acctbal"),
    )
