"""The Pipeline/PCollection façade — a Beam-shaped, PySpark-idiomatic API
(SURVEY.md §7.0).

Reference shape: Pipeline.create(options) → p.apply(...) chains → p.run()
(historical sdk/Pipeline.java, sdk/values/PCollection.java). Here a
PCollection wraps a DataFrame plus the two pieces of Beam element metadata
that matter (SURVEY.md §1.1): the event-time column name and the windowing
strategy. Every method compiles to DataFrame ops — there is no run():
Spark's lazy plan IS the pipeline, and actions trigger execution.

The wrapper is deliberately transparent: `.df` exposes the DataFrame, and
any PCollection method returning data returns a PCollection over a plain
DataFrame plan — users can drop to raw Spark at any point (no lock-in, no
custom IR; SURVEY.md §3.1).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Sequence
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dataflowjavasdk_spark.operators import combine as _combine
from dataflowjavasdk_spark.operators import flatten as _flatten
from dataflowjavasdk_spark.operators import join as _join
from dataflowjavasdk_spark.operators import pardo as _pardo
from dataflowjavasdk_spark.operators import sort as _sort
from dataflowjavasdk_spark.operators.windowing import (
    GlobalWindows,
    OutputTimeFn,
    WindowFn,
    end_of_window_ts,
    group_by_window,
    output_time_agg,
    window_into,
)


class Pipeline:
    """Pipeline.create ≡ holding a SparkSession. apply() is the fluent
    PCollection chain; run() is implicit (Spark actions)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def create(self, values: list, schema) -> "PCollection":
        """Create.of — in-memory bounded source."""
        return PCollection(_pardo.create(self.spark, values, schema))

    def read_parquet(
        self, path: str, bounded: bool = True, schema: str | None = None
    ) -> "PCollection":
        """The unified-model switch (SURVEY §7.0): the same pipeline code
        runs batch (`bounded=True`) or streaming (`bounded=False` →
        readStream over the directory; `schema` required — streaming
        sources cannot infer). Downstream PCollection ops are identical;
        only the sink side differs (writeStream/foreachBatch)."""
        if bounded:
            return PCollection(self.spark.read.parquet(path))
        if schema is None:
            raise ValueError("unbounded read_parquet requires an explicit schema")
        return PCollection(
            self.spark.readStream.schema(schema).parquet(path)
        )

    def read_text(self, path: str) -> "PCollection":
        """TextIO.Read — one row per line, column `value` (historical
        sdk/io/TextIO.java; compression inferred from extension, as the
        reference's CompressedSource did)."""
        return PCollection(self.spark.read.text(path))

    def read_avro(self, path: str) -> "PCollection":
        """AvroIO.Read (historical sdk/io/AvroIO.java, AvroSource.java):
        Avro object container files decoded by the engine's pure-Python
        spec implementation (sources/avro.py — this container ships no
        spark-avro jar). One task per file; schema from the first file's
        header."""
        from dataflowjavasdk_spark.sources.avro import read_avro

        return PCollection(read_avro(self.spark, path))

    def write_avro(self, pc: "PCollection", path: str, codec: str = "null") -> int:
        """AvroIO.Write with FileBasedSink temp/rename commit; returns the
        shard count (historical sdk/io/AvroIO.java + FileBasedSink.java)."""
        from dataflowjavasdk_spark.sources.avro import write_avro

        return write_avro(pc.df, path, codec=codec)

    def read_csv(
        self, path: str, schema: str | None = None, header: bool = True, **options
    ) -> "PCollection":
        """Delimited text (the reference pattern TextIO.Read + a parsing
        ParDo, e.g. examples/cookbook — here the parse happens inside the
        scan, so malformed-row policy and type coercion are scan options
        and pushdown still applies to the parsed columns). An explicit
        `schema` avoids the inference pass — mandatory at 100 TB."""
        reader = self.spark.read.option("header", str(header).lower())
        if schema is not None:
            reader = reader.schema(schema)
        else:
            reader = reader.option("inferSchema", "true")
        for k, v in options.items():
            reader = reader.option(k, v)
        return PCollection(reader.csv(path))

    def read_json(self, path: str, schema: str | None = None, **options) -> "PCollection":
        """Newline-delimited JSON (TextIO + JSON-coder ParDo analog).
        Schema-on-read: give `schema` to skip inference and to prune the
        parse itself (Spark parses only the requested fields)."""
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        for k, v in options.items():
            reader = reader.option(k, v)
        return PCollection(reader.json(path))

    def read_xml(self, path: str, row_tag: str, schema: str | None = None) -> "PCollection":
        """XML records (historical sdk/io/XmlSource.java — JAXB-based; here
        Spark 4's native xml datasource, rowTag ≡ the JAXB record type).

        Known upstream quirk (verified on Spark 4.1.2): the xml parser
        fails on exactly Int.MinValue (-2147483648) in an `int` field —
        the whole record comes back NULL (PERMISSIVE). Other boundary
        values round-trip fine; use `long` fields if INT_MIN is live."""
        reader = self.spark.read.format("xml").option("rowTag", row_tag)
        if schema is not None:
            reader = reader.schema(schema)
        return PCollection(reader.load(path))

    def counting_input(self, n: int) -> "PCollection":
        """CountingInput.upTo(n) (historical sdk/io/CountingInput.java)."""
        return PCollection(self.spark.range(n).withColumnRenamed("id", "value"))


class PCollection:
    """Immutable unordered bag of rows + (ts column, WindowFn) metadata."""

    def __init__(
        self,
        df: DataFrame,
        ts_col: str | None = None,
        window_fn: WindowFn | None = None,
    ):
        self.df = df
        self.ts_col = ts_col
        self.window_fn = window_fn or GlobalWindows()

    def _with(self, df: DataFrame) -> "PCollection":
        return PCollection(df, self.ts_col, self.window_fn)

    # -- ParDo family (§2.1) -------------------------------------------
    def map(self, **named_exprs: Column) -> "PCollection":
        """MapElements: 1→1 projection. map(word=F.lower('w'))."""
        return self._with(_pardo.map_elements(self.df, **named_exprs))

    def with_column(self, name: str, expr: Column) -> "PCollection":
        return self._with(self.df.withColumn(name, expr))

    def flat_map(self, array_expr: Column, out: str, keep: list[str] | None = None) -> "PCollection":
        """FlatMapElements: 1→N via explode."""
        return self._with(_pardo.flat_map_elements(self.df, array_expr, out, keep))

    def filter(self, predicate: Column) -> "PCollection":
        return self._with(self.df.filter(predicate))

    def par_do(self, dofn: _pardo.DoFn, output_schema) -> "PCollection":
        """ParDo.of(DoFn) — vectorized Python with bundle lifecycle."""
        return self._with(_pardo.ParDo.of(dofn, output_schema)(self.df))

    def par_do_with_outputs(self, tag_col: Column, tags: Iterable[str]) -> dict[str, "PCollection"]:
        """ParDo.withOutputTags — multi-output."""
        return {
            tag: self._with(df)
            for tag, df in _pardo.ParDo.with_output_tags(self.df, tag_col, tags).items()
        }

    def keys(self, key: str = "key") -> "PCollection":
        return self._with(_pardo.keys(self.df, key))

    def values(self, value: str = "value") -> "PCollection":
        return self._with(_pardo.values(self.df, value))

    def kv_swap(self, key: str = "key", value: str = "value") -> "PCollection":
        return self._with(_pardo.kv_swap(self.df, key, value))

    def with_keys(self, key_expr: Column, key: str = "key") -> "PCollection":
        return self._with(_pardo.with_keys(self.df, key_expr, key))

    def with_timestamps(self, ts_expr: Column, ts: str = "ts") -> "PCollection":
        """WithTimestamps: assigns event time; recorded as the collection's
        event-time column for windowing/watermarks downstream."""
        return PCollection(
            _pardo.with_timestamps(self.df, ts_expr, ts), ts, self.window_fn
        )

    def partition(self, n: int, fn: Column) -> list["PCollection"]:
        return [self._with(df) for df in _pardo.partition(self.df, n, fn)]

    def reshuffle(self, num_partitions: int | None = None) -> "PCollection":
        """Reshuffle (fusion break / load rebalance; operators/pardo.py)."""
        return self._with(_pardo.reshuffle(self.df, num_partitions))

    # -- Windowing (§2.7) ----------------------------------------------
    def window_into(self, fn: WindowFn, ts_col: str | None = None) -> "PCollection":
        """Window.into(fn): records the strategy; assignment materializes
        lazily at the next grouping (merging fns) or immediately as a
        window column (non-merging fns used explicitly)."""
        ts = ts_col or self.ts_col
        if ts is None:
            raise ValueError("window_into needs an event-time column (with_timestamps)")
        return PCollection(self.df, ts, fn)

    def assign_windows(self, out: str = "window") -> "PCollection":
        """Materialize the window column (non-merging WindowFns)."""
        return self._with(window_into(self.df, self.window_fn, self.ts_col, out))

    # -- Grouping & combining (§2.2) -----------------------------------
    def group_by_key(self, keys: Sequence[str], values_col: str, out: str = "values") -> "PCollection":
        """GroupByKey producing iterables. Under a non-global window this
        groups per (window, key) — the model's invariant."""
        if isinstance(self.window_fn, GlobalWindows):
            return self._with(_combine.group_by_key(self.df, keys, values_col, out))
        grouped = group_by_window(self.df, self.window_fn, list(keys), self.ts_col)
        return self._with(grouped.agg(F.collect_list(values_col).alias(out)))

    def combine_per_key(self, keys: Sequence[str], aggs: dict[str, Column] | None = None,
                        fn: _combine.CombineFn | None = None, col: str | None = None,
                        out: str | None = None, out_type: str = "double",
                        output_time: str | None = None) -> "PCollection":
        """Combine.perKey — Column aggs (fast path, many at once) or a
        custom CombineFn (lifted: map-side partial accumulators, see
        operators/combine.py). Windowed inputs group per (window, key).

        `output_time` (OutputTimeFn.{END_OF_WINDOW,EARLIEST,LATEST})
        attaches the emitted-pane timestamp as an `emit_ts` column:
        EARLIEST/LATEST ride along as min(ts)/max(ts) accumulators;
        END_OF_WINDOW derives from the window struct (NULL under the
        global window, whose end is unbounded)."""
        if aggs is not None:
            grouped = group_by_window(self.df, self.window_fn, list(keys), self.ts_col)
            agg_cols = [c.alias(n) for n, c in aggs.items()]
            if output_time is None:
                return self._with(grouped.agg(*agg_cols))
            ota = output_time_agg(output_time, self.ts_col)
            if ota is not None:
                return self._with(grouped.agg(*agg_cols, ota.alias("emit_ts")))
            res = grouped.agg(*agg_cols)
            if isinstance(self.window_fn, GlobalWindows):
                res = res.withColumn("emit_ts", F.lit(None).cast("timestamp"))
            else:
                res = res.withColumn("emit_ts", end_of_window_ts("window"))
            return self._with(res)
        if output_time is not None:
            raise ValueError("output_time is supported on the Column-aggs path")
        assert fn is not None and col is not None and out is not None
        if not isinstance(self.window_fn, GlobalWindows):
            pc = self.assign_windows()
            return self._with(
                _combine.Combine.per_key(pc.df, [*keys, "window"], col, fn, out, out_type)
            )
        return self._with(_combine.Combine.per_key(self.df, keys, col, fn, out, out_type))

    def combine_globally(self, fn: _combine.CombineFn, col: str, out: str, out_type: str = "double") -> "PCollection":
        return self._with(_combine.Combine.globally(self.df, col, fn, out, out_type))

    def count_globally(self, out: str = "n") -> "PCollection":
        return self._with(_combine.Count.globally(self.df, out))

    def count_per_key(self, keys: Sequence[str], out: str = "n") -> "PCollection":
        grouped = group_by_window(self.df, self.window_fn, list(keys), self.ts_col)
        return self._with(grouped.agg(F.count(F.lit(1)).alias(out)))

    def count_per_element(self, col: str, out: str = "n") -> "PCollection":
        return self._with(_combine.Count.per_element(self.df, col, out))

    def group_into_batches(
        self, keys: Sequence[str], values_col: str, batch_size: int
    ) -> "PCollection":
        """Bounded-size batches per key (operators/combine.py)."""
        return self._with(
            _combine.GroupIntoBatches.per_key(self.df, keys, values_col, batch_size)
        )

    def distinct(self) -> "PCollection":
        return self._with(_combine.RemoveDuplicates.create(self.df))

    def distinct_by(self, keys: Sequence[str]) -> "PCollection":
        return self._with(_combine.RemoveDuplicates.with_representative_values(self.df, keys))

    def top(self, col: str, n: int, largest: bool = True, tiebreak: Sequence[str] = ()) -> "PCollection":
        op = _combine.Top.largest if largest else _combine.Top.smallest
        return self._with(op(self.df, col, n, tiebreak))

    def top_per_key(self, keys: Sequence[str], col: str, n: int, **kw) -> "PCollection":
        return self._with(_combine.Top.per_key(self.df, keys, col, n, **kw))

    def sample_any(self, n: int) -> "PCollection":
        return self._with(_combine.Sample.any(self.df, n))

    def sample_fixed_size(self, n: int, seed: int = 42) -> "PCollection":
        return self._with(_combine.Sample.fixed_size_globally(self.df, n, seed))

    def approximate_unique(self, col: str, rsd: float = 0.02, out: str = "approx_distinct") -> "PCollection":
        return self._with(_combine.ApproximateUnique.globally(self.df, col, rsd, out))

    def approximate_quantiles(self, col: str, quantiles: Sequence[float], out: str = "quantiles") -> "PCollection":
        return self._with(_combine.ApproximateQuantiles.globally(self.df, col, quantiles, out))

    # -- Joins & side inputs (§2.3) --------------------------------------
    def join(self, other: "PCollection", on, how: str = "inner") -> "PCollection":
        return self._with(self.df.join(other.df, on, how))

    def join_broadcast(self, side: "PCollection", on, how: str = "left") -> "PCollection":
        """Side-input join (View.asMap + ParDo lookup)."""
        return self._with(_join.View.as_map(self.df, side.df, on, how))

    def with_singleton_view(self, side: "PCollection") -> "PCollection":
        return self._with(_join.View.as_singleton(self.df, side.df))

    def co_group_by_key(
        self, others: dict[str, "PCollection"], keys: Sequence[str], name: str = "self"
    ) -> "PCollection":
        """CoGroupByKey over this + N tagged collections → CoGbkResult shape
        (one array-of-structs column per tag, empty array when absent)."""
        dfs = {name: self.df, **{tag: pc.df for tag, pc in others.items()}}
        return self._with(_join.co_group_arrays(dfs, keys))

    def asof_join(
        self, right: "PCollection", on: Sequence[str], left_ts: str,
        right_ts: str, right_cols: Sequence[str] | None = None,
        suffix: str | None = None,
    ) -> "PCollection":
        """Point-in-time join (operators/join.py asof_join)."""
        return self._with(
            _join.asof_join(
                self.df, right.df, on, left_ts, right_ts, right_cols, suffix
            )
        )

    def range_join(
        self, right: "PCollection", on: Sequence[str], left_ts: str,
        right_ts: str, lower: int, upper: int,
    ) -> "PCollection":
        """Interval join via banded buckets (operators/join.py range_join)."""
        return self._with(
            _join.range_join(self.df, right.df, on, left_ts, right_ts, lower, upper)
        )

    def salted_join(
        self, other: "PCollection", on: Sequence[str], fanout: int = 8,
        how: str = "inner",
    ) -> "PCollection":
        """Hot-key-resilient equi-join (operators/join.py salted_join)."""
        return self._with(_join.salted_join(self.df, other.df, on, fanout, how))

    # -- Set ops (§2.4) ---------------------------------------------------
    def flatten_with(self, *others: "PCollection") -> "PCollection":
        return self._with(_flatten.pcollections(self.df, *[o.df for o in others]))

    def flatten_iterables(self, col: str, out: str = "element") -> "PCollection":
        return self._with(_flatten.iterables(self.df, col, out))

    # -- Sorting (§2.5) ---------------------------------------------------
    def sort_values(self, keys: Sequence[str], secondary: Sequence[str]) -> "PCollection":
        return self._with(_sort.sort_values(self.df, keys, secondary))

    # -- Metrics (Aggregator analog, §2.2) --------------------------------
    def observe(self, name: str, *aggs: Column) -> "PCollection":
        """Aggregator/metrics (historical sdk/transforms/Aggregator.java)
        → df.observe: job-level metrics collected with the action."""
        return self._with(self.df.observe(name, *aggs))

    # -- Escape hatch ------------------------------------------------------
    def apply(self, transform: Callable[[DataFrame], DataFrame]) -> "PCollection":
        """p.apply(PTransform) — any DataFrame→DataFrame callable."""
        return self._with(transform(self.df))

    def collect(self) -> list:
        return self.df.collect()
