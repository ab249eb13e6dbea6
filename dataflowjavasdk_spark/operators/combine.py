"""Grouping & aggregation (SURVEY.md §2.2).

The model's one grouping primitive (GroupByKey) + one combiner abstraction
(CombineFn) and the aggregate library built on them (historical
sdk/transforms/{GroupByKey,Combine,Count,Sum,Min,Max,Mean,Top,Sample,
ApproximateQuantiles,ApproximateUnique,RemoveDuplicates}.java).

Execution notes:
- Every per-key combine with a Column fast-path compiles to partial/final
  HashAggregate — Spark's built-in combiner lifting: map-side partial
  aggregation before the single shuffle.
- Custom CombineFns are lifted the same way in Python: map-side partial
  accumulators per Arrow batch (mapInPandas), then one shuffle of
  (key, pickled accumulator) rows and a per-key merge (applyInPandas).
  Supply `spark_agg` when the aggregation has a Column form.
- Hot keys: with_hot_key_fanout salts the key for a two-level aggregate —
  the reference's Combine.withHotKeyFanout (SURVEY.md §2.2).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, FloatType, LongType, StructType
from pyspark.sql.window import Window as W


def group_by_key(
    df: DataFrame, keys: Sequence[str], values_col: str, out: str = "values"
) -> DataFrame:
    """GroupByKey: PC<KV<K,V>> → PC<KV<K, Iterable<V>>> (historical
    sdk/transforms/GroupByKey.java).

    Materializes the iterable with collect_list. At 100 TB, prefer
    combine_per_key (never materialize iterables you then reduce) — kept
    for the cases where downstream genuinely consumes the bag.
    """
    return df.groupBy(*keys).agg(F.collect_list(values_col).alias(out))


def _hashable(v: Any) -> Any:
    """A pandas group key for a struct (dict) or array value."""
    if isinstance(v, dict):
        return tuple(_hashable(x) for x in v.values())
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_hashable(x) for x in v)
    return v


class CombineFn:
    """The 4-method combiner contract (historical sdk/transforms/Combine.java
    CombineFn: createAccumulator/addInput/mergeAccumulators/extractOutput).

    Subclasses may set `spark_agg: Callable[[str], Column]` to provide the
    Column fast-path; the Python methods then serve as the semantic spec
    and the lifted Python plan (`add_inputs` is the vectorized addInput
    over a pandas Series).
    """

    spark_agg: Callable[[str], Column] | None = None

    def create_accumulator(self) -> Any:
        raise NotImplementedError

    def add_input(self, acc: Any, value: Any) -> Any:
        raise NotImplementedError

    def add_inputs(self, acc: Any, values: pd.Series) -> Any:
        for v in values:
            acc = self.add_input(acc, v)
        return acc

    def merge_accumulators(self, accs: Sequence[Any]) -> Any:
        raise NotImplementedError

    def extract_output(self, acc: Any) -> Any:
        raise NotImplementedError


class Combine:
    @staticmethod
    def per_key(
        df: DataFrame,
        keys: Sequence[str],
        col: str,
        fn: CombineFn,
        out: str,
        out_type: str = "double",
    ) -> DataFrame:
        """Combine.perKey(fn). The Column fast-path when the fn has one;
        otherwise COMBINER LIFTING, the reference runner's plan for every
        CombineFn (historical sdk/runners/worker
        PartialGroupByKeyOperation): addInput runs map-side per Arrow
        batch, so the shuffle carries one pickled accumulator per
        (key, batch) instead of every raw value; mergeAccumulators +
        extractOutput run reduce-side per key. It needs only what the
        CombineFn contract already promises (merge-associativity).

        Keys pandas cannot hold exactly cross both Python stages as text
        and are cast back at the end: a long column holding a null
        arrives as float64 (inexact past 2**53), and a float column's
        null and NaN both arrive as NaN. Struct and array keys arrive as
        dicts and arrays; the map side groups them by a hashable copy."""
        if fn.spark_agg is not None:
            return df.groupBy(*keys).agg(fn.spark_agg(col).alias(out))
        import pickle

        key_list = list(keys)
        types = {f.name: f.dataType for f in df.schema.fields}
        text = {
            k for k in key_list if isinstance(types[k], (LongType, FloatType, DoubleType))
        }
        nested = {k for k in key_list if isinstance(types[k], (StructType, ArrayType))}

        def key_col(k):
            c = F.col(k)
            if isinstance(types[k], (FloatType, DoubleType)):
                # -0.0 and 0.0 are one group key, as in a groupBy
                c = F.when(c == 0, F.lit(0).cast(types[k])).otherwise(c)
            return (c.cast("string") if k in text else c).alias(k)

        key_fields = ", ".join(
            f"{k} {'string' if k in text else types[k].simpleString()}" for k in key_list
        )
        partial_schema = f"{key_fields}, __acc__ binary"
        final_schema = f"{key_fields}, {out} {out_type}"

        def partials(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                by = [pdf[k].map(_hashable) if k in nested else pdf[k] for k in key_list]
                rows = [
                    (
                        *(grp[k].iloc[0] for k in key_list),
                        pickle.dumps(fn.add_inputs(fn.create_accumulator(), grp[col])),
                    )
                    for _, grp in pdf.groupby(by, sort=False, dropna=False)
                ]
                yield pd.DataFrame(rows, columns=[*key_list, "__acc__"])

        def finalize(pdf: pd.DataFrame) -> pd.DataFrame:
            accs = [pickle.loads(b) for b in pdf["__acc__"]]
            row = {k: pdf[k].iloc[0] for k in key_list}
            row[out] = fn.extract_output(fn.merge_accumulators(accs))
            return pd.DataFrame([row])

        partial = df.select(*[key_col(k) for k in key_list], col).mapInPandas(
            partials, partial_schema
        )
        combined = partial.groupBy(*key_list).applyInPandas(finalize, final_schema)
        return combined.select(
            *[F.col(k).cast(types[k]) if k in text else F.col(k) for k in key_list], out
        )

    @staticmethod
    def globally(
        df: DataFrame, col: str, fn: CombineFn, out: str, out_type: str = "double"
    ) -> DataFrame:
        """Combine.globally(fn) → 1-row DataFrame. `without_defaults`
        semantics: empty input yields zero rows (Spark agg on empty input
        yields one row of nulls; the reference emits the default — callers
        wanting that use as_singleton_view)."""
        if fn.spark_agg is not None:
            return df.agg(fn.spark_agg(col).alias(out))
        with_key = df.withColumn("__g__", F.lit(1))
        result = Combine.per_key(with_key, ["__g__"], col, fn, out, out_type)
        return result.drop("__g__")

    @staticmethod
    def as_singleton_view(main: DataFrame, singleton: DataFrame) -> DataFrame:
        """Combine.globally(...).asSingletonView + ParDo.withSideInputs:
        broadcast the 1-row aggregate alongside every main-input row
        (historical sdk/transforms/View.java View.asSingleton)."""
        return main.crossJoin(F.broadcast(singleton))

    @staticmethod
    def with_hot_key_fanout(
        df: DataFrame,
        keys: Sequence[str],
        agg: Column,
        reagg: Callable[[str], Column],
        out: str,
        fanout: int = 16,
    ) -> DataFrame:
        """Combine.perKey(fn).withHotKeyFanout(n): two-level aggregation
        through a salt column. Level 1 aggregates (key, salt) — spreading a
        hot key over `fanout` reducers — level 2 re-aggregates per key.
        `agg` must be algebraic and `reagg` its re-combiner
        (e.g. sum → sum, count → sum).

        The salt is a deterministic hash of the row's columns (matching
        salted_join), NOT monotonically_increasing_id(): the latter depends
        on partition layout, so task retries after an upstream shuffle could
        recompute different salts for the same rows (the SPARK-23207 class
        of partial-retry corruption)."""
        salted = df.withColumn(
            "__salt__", F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(fanout))
        )
        level1 = salted.groupBy(*keys, "__salt__").agg(agg.alias("__partial__"))
        return level1.groupBy(*keys).agg(reagg("__partial__").alias(out))


class Count:
    """Count.globally/perKey/perElement (historical sdk/transforms/Count.java)."""

    @staticmethod
    def globally(df: DataFrame, out: str = "n") -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias(out))

    @staticmethod
    def per_key(df: DataFrame, keys: Sequence[str], out: str = "n") -> DataFrame:
        return df.groupBy(*keys).agg(F.count(F.lit(1)).alias(out))

    @staticmethod
    def per_element(df: DataFrame, col: str, out: str = "n") -> DataFrame:
        return df.groupBy(col).agg(F.count(F.lit(1)).alias(out))


def _make_agg(agg_fn: Callable[[str], Column]):
    class _Agg:
        @staticmethod
        def globally(df: DataFrame, col: str, out: str) -> DataFrame:
            return df.agg(agg_fn(col).alias(out))

        @staticmethod
        def per_key(df: DataFrame, keys: Sequence[str], col: str, out: str) -> DataFrame:
            return df.groupBy(*keys).agg(agg_fn(col).alias(out))

    return _Agg


Sum = _make_agg(F.sum)   # Sum.{integers,longs,doubles}Globally/PerKey
Min = _make_agg(F.min)   # Min.java
Max = _make_agg(F.max)   # Max.java
Mean = _make_agg(F.avg)  # Mean.java


class Top:
    """Top.of/largest/smallest/perKey (historical sdk/transforms/Top.java).

    Global top-k plans as TakeOrderedAndProject: per-partition bounded
    heaps, merged at the driver — the same algorithm as the reference's
    bounded-heap CombineFn, picked automatically by Spark."""

    @staticmethod
    def largest(df: DataFrame, col: str, n: int, tiebreak: Sequence[str] = ()) -> DataFrame:
        return df.orderBy(F.col(col).desc(), *[F.col(c) for c in tiebreak]).limit(n)

    @staticmethod
    def smallest(df: DataFrame, col: str, n: int, tiebreak: Sequence[str] = ()) -> DataFrame:
        return df.orderBy(F.col(col).asc(), *[F.col(c) for c in tiebreak]).limit(n)

    @staticmethod
    def per_key(
        df: DataFrame,
        keys: Sequence[str],
        col: str,
        n: int,
        largest: bool = True,
        tiebreak: Sequence[str] = (),
        rank_col: str = "rk",
    ) -> DataFrame:
        order = [F.col(col).desc() if largest else F.col(col).asc()]
        order += [F.col(c) for c in tiebreak]
        w = W.partitionBy(*keys).orderBy(*order)
        return df.withColumn(rank_col, F.row_number().over(w)).filter(
            F.col(rank_col) <= n
        )


class Sample:
    """Sample.any/fixedSizeGlobally/fixedSizePerKey (historical
    sdk/transforms/Sample.java)."""

    @staticmethod
    def any(df: DataFrame, n: int) -> DataFrame:
        return df.limit(n)

    @staticmethod
    def fixed_size_globally(df: DataFrame, n: int, seed: int = 42) -> DataFrame:
        """Uniform n-sample. orderBy(rand).limit(n) plans as
        TakeOrderedAndProject — O(n) memory per partition, no full sort."""
        return df.orderBy(F.rand(seed)).limit(n)

    @staticmethod
    def fixed_size_per_key(
        df: DataFrame, keys: Sequence[str], n: int, seed: int = 42
    ) -> DataFrame:
        w = W.partitionBy(*keys).orderBy(F.rand(seed))
        return df.withColumn("__rk__", F.row_number().over(w)).filter(
            F.col("__rk__") <= n
        ).drop("__rk__")


class ApproximateQuantiles:
    """ApproximateQuantiles.globally/perKey (historical
    sdk/transforms/ApproximateQuantiles.java, Munro-Paterson) →
    percentile_approx (Greenwald-Khanna)."""

    @staticmethod
    def globally(df: DataFrame, col: str, quantiles: Sequence[float], out: str = "quantiles") -> DataFrame:
        return df.agg(
            F.percentile_approx(col, list(quantiles)).alias(out)
        )

    @staticmethod
    def per_key(
        df: DataFrame, keys: Sequence[str], col: str, quantiles: Sequence[float], out: str = "quantiles"
    ) -> DataFrame:
        return df.groupBy(*keys).agg(
            F.percentile_approx(col, list(quantiles)).alias(out)
        )


class ApproximateUnique:
    """ApproximateUnique.globally/perKey (historical
    sdk/transforms/ApproximateUnique.java, sample-space heap) →
    HyperLogLog++ (approx_count_distinct); maxEstimationError ≡ rsd."""

    @staticmethod
    def globally(df: DataFrame, col: str, rsd: float = 0.02, out: str = "approx_distinct") -> DataFrame:
        return df.agg(F.approx_count_distinct(col, rsd).alias(out))

    @staticmethod
    def per_key(
        df: DataFrame, keys: Sequence[str], col: str, rsd: float = 0.02, out: str = "approx_distinct"
    ) -> DataFrame:
        return df.groupBy(*keys).agg(F.approx_count_distinct(col, rsd).alias(out))


class GroupIntoBatches:
    """Bounded-size batches per key (extension; Beam later standardized this
    as GroupIntoBatches — the 1.x reference reached for it via manual
    stateful DoFns). Use when a downstream call is amortized per batch
    (bulk RPC, model inference): values for one key are split into batches
    of ≤ `batch_size`.

    Plan: one shuffle on the keys (for the window), row_number per key,
    integer-divide into batch ids, then a per-(key,batch) collect_list.
    The second groupBy reuses the first shuffle's partitioning (keys is a
    prefix of the grouping), so batching costs ONE exchange. Per-batch
    memory is bounded by batch_size — this is exactly why the operator
    exists at scale (an unbatched collect_list of a hot key OOMs)."""

    @staticmethod
    def per_key(
        df: DataFrame,
        keys: Sequence[str],
        values_col: str,
        batch_size: int,
        batch_id: str = "batch_id",
        out: str = "batch",
    ) -> DataFrame:
        w = W.partitionBy(*keys).orderBy(F.col(values_col))
        # Integer division only (`DIV`): float `/` + cast truncates
        # correctly for small row numbers but loses exactness past
        # double's 53-bit mantissa — the same discipline as the repo's
        # nanos conversion.
        indexed = (
            df.withColumn("__rn__", F.row_number().over(w) - F.lit(1))
            .withColumn(batch_id, F.expr(f"__rn__ DIV {int(batch_size)}"))
            .drop("__rn__")
        )
        return indexed.groupBy(*keys, batch_id).agg(
            F.collect_list(values_col).alias(out)
        )


class RemoveDuplicates:
    """RemoveDuplicates / withRepresentativeValues (historical
    sdk/transforms/RemoveDuplicates.java)."""

    @staticmethod
    def create(df: DataFrame) -> DataFrame:
        return df.distinct()

    @staticmethod
    def with_representative_values(df: DataFrame, keys: Sequence[str]) -> DataFrame:
        """Distinct-by-key: keeps an arbitrary representative per key —
        exactly the reference's contract (no determinism promise)."""
        return df.dropDuplicates(list(keys))
