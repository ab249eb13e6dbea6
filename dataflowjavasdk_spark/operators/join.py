"""Joins, CoGroupByKey, and side-input Views (SURVEY.md §2.3).

Reference: all joins are equi-joins built on CoGBK (historical
contrib/join-library Join.java, sdk/transforms/join/CoGroupByKey.java +
CoGbkResult.java); side inputs are broadcast-style views (sdk/transforms/
View.java). Spark's optimizer picks broadcast/shuffle-hash/sort-merge per
side statistics — strictly stronger than the reference's always-shuffle
CoGBK; we add explicit broadcast for dimension-sized sides.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class Join:
    """contrib/join-library Join.{inner,leftOuter,rightOuter,fullOuter}Join.

    The reference takes an explicit nullValue sentinel for outer joins
    (Java can't null primitives); SQL NULL replaces it.
    """

    @staticmethod
    def inner(left: DataFrame, right: DataFrame, on) -> DataFrame:
        return left.join(right, on, "inner")

    @staticmethod
    def left_outer(left: DataFrame, right: DataFrame, on) -> DataFrame:
        return left.join(right, on, "left")

    @staticmethod
    def right_outer(left: DataFrame, right: DataFrame, on) -> DataFrame:
        return left.join(right, on, "right")

    @staticmethod
    def full_outer(left: DataFrame, right: DataFrame, on) -> DataFrame:
        return left.join(right, on, "full")

    @staticmethod
    def semi(left: DataFrame, right: DataFrame, on) -> DataFrame:
        """Absent in the reference (hand-rolled via CoGBK there); free here."""
        return left.join(right, on, "left_semi")

    @staticmethod
    def anti(left: DataFrame, right: DataFrame, on) -> DataFrame:
        return left.join(right, on, "left_anti")


MAX_BUFFERED_ROWS = 4_000_000
"""Per key, the most rows one buffered (non-last) input may hold before
``co_group_by_key`` fails fast: only the last input streams, so a hot
key on any other input is held whole in executor memory."""

_TAG = "__cogbk_tag"
_NAN = float("nan")


def co_group_by_key(
    dfs: dict[str, DataFrame],
    keys: Sequence[str],
    fn: Callable[[tuple, dict], pd.DataFrame | None],
    schema,
) -> DataFrame:
    """CoGroupByKey (historical sdk/transforms/join/CoGroupByKey.java):
    N keyed collections → per key, a tuple of iterables (CoGbkResult).

    ``fn(key_tuple, groups)`` → pandas rows to emit (or None). Like the
    reference's CoGbkResult, which buffers every tag except one and
    streams the last straight off the shuffle (CoGbkResult.java: the
    "unread tail" of the final iterable is never held), ``groups[name]``
    is a pandas frame for every input but the last, and an iterator of
    pandas frames, one Arrow batch of that key's rows each, for the
    last. Put the unbounded side last: a skewed key then costs one batch
    of memory. The iterator is single-pass and must be consumed within
    the call (itertools.groupby discipline); unread chunks are skipped.
    Each frame carries its input's columns (keys included) in their
    original order; an input absent for a key gives an EMPTY frame with
    the input's dtypes (no chunks, for the last input). A buffered input
    holding more than ``MAX_BUFFERED_ROWS`` rows for one key fails fast.

    Plan: every input tagged into one union (UnionCoder.java's tagged
    union, ``_tag_union``) → repartition(keys) → sortWithinPartitions(
    keys, tag) → ONE mapInArrow pass walking the sorted stream. Each
    input shuffles exactly once; the partition sort is Spark's
    UnsafeExternalSorter, which spills, so nothing key-sized is resident
    but the buffered tags. Null keys form one group, as do NaN keys, as
    in a groupBy.
    """
    import pyarrow as pa

    names = list(dfs)
    key_list = list(keys)
    last = len(names) - 1
    max_rows = MAX_BUFFERED_ROWS  # fixed when the plan is built
    unioned, layouts = _tag_union(list(dfs.values()), key_list)
    shuffled = unioned.repartition(*[F.col(k) for k in key_list]).sortWithinPartitions(
        *key_list, _TAG
    )
    out_arrow_schema = _arrow_schema_of(unioned.sparkSession, schema)

    def _runs(batches):
        """Split sorted Arrow batches into (key_tuple, tag, rb-slice)
        runs. Boundaries come from adjacent key/tag values compared in
        Arrow (null-aware: two adjacent nulls are one run, a null next to
        a value is a boundary; two adjacent NaNs are one run, as in a
        groupBy) and keys are read as Python values — never through
        pandas, whose float64 upcast of nullable int64 would merge
        adjacent 64-bit keys above 2^53 and split a null key. A NaN key
        is the one ``_NAN`` object, so key tuples holding it compare
        equal (tuple equality checks identity first)."""
        import numpy as np
        import pyarrow.compute as pc

        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            marks = np.zeros(n, dtype=bool)
            marks[0] = True
            for col in key_list + [_TAG]:
                a = rb.column(col)
                prev, cur = a.slice(0, n - 1), a.slice(1)
                differs = pc.coalesce(
                    pc.not_equal(prev, cur),
                    pc.not_equal(pc.is_null(prev), pc.is_null(cur)),
                )
                if pa.types.is_floating(a.type):
                    both_nan = pc.and_(pc.is_nan(prev), pc.is_nan(cur))
                    differs = pc.and_(differs, pc.invert(pc.fill_null(both_nan, False)))
                marks[1:] |= differs.to_numpy(zero_copy_only=False)
            starts = np.flatnonzero(marks)
            firsts = rb.take(pa.array(starts))
            key_rows = (
                tuple(_NAN if v != v else v for v in row)
                for row in zip(*(firsts.column(k).to_pylist() for k in key_list))
            )
            tags = firsts.column(_TAG).to_pylist()
            bounds = starts.tolist() + [n]
            for s, e, key, tag in zip(bounds, bounds[1:], key_rows, tags):
                yield key, tag, rb.slice(s, e - s)

    def part(batches):
        runs = _runs(batches)
        run = next(runs, None)
        while run is not None:
            key, rb_schema = run[0], run[2].schema
            buffered: list[list] = [[] for _ in range(last)]
            held = [0] * last
            while run is not None and run[0] == key and run[1] < last:
                tag, rb = run[1], run[2]
                held[tag] += rb.num_rows
                if held[tag] > max_rows:
                    raise ValueError(
                        f"co_group_by_key: key {key!r} has more than "
                        f"{max_rows} rows in input {names[tag]!r}; only the "
                        "last input streams, every other one is held per "
                        "key — put the hot input last"
                    )
                buffered[tag].append(rb)
                run = next(runs, None)
            cursor = [run]

            def last_chunks(key=key, cursor=cursor):
                while (
                    cursor[0] is not None
                    and cursor[0][0] == key
                    and cursor[0][1] == last
                ):
                    rb = cursor[0][2]
                    cursor[0] = next(runs, None)
                    yield _tag_frame(pa.Table.from_batches([rb]), layouts[last])

            groups: dict = {
                names[i]: _tag_frame(
                    pa.Table.from_batches(buffered[i], schema=rb_schema),
                    layouts[i],
                )
                for i in range(last)
            }
            groups[names[last]] = last_chunks()
            out = fn(key, groups)
            # skip what fn left unread: advance the cursor, build no frames
            run = cursor[0]
            while run is not None and run[0] == key and run[1] == last:
                run = next(runs, None)
            if out is not None and len(out):
                yield _record_batch(out, out_arrow_schema)

    return shuffled.mapInArrow(part, schema=schema)


def _tag_union(inputs: list[DataFrame], key_list: list[str]):
    """Union ``inputs`` tagged with their position (UnionCoder's tagged
    union) → (union DataFrame, per-input layouts).

    Value columns ride flat SLOT columns named by (position, Spark type):
    the j-th value column of type T travels as ``__v{j}_{T}``, so inputs
    that share a value layout share columns (the nation/customer/supplier
    shape ships one value set, nothing padded) and only differing layouts
    get null padding — Arrow validity bitmaps make that near-free on the
    wire. Flat columns, NOT per-row structs: splitting a group back into
    per-tag frames is then a vectorized column selection (the struct form
    cost a per-row dict materialization — measured 2x+ of the whole
    query at sf0.1, round 8).

    A layout is (original column order, source column per original
    column: the key itself or the value's slot) — what ``_tag_frame``
    needs to rebuild an input's frame from its rows of the union.
    """
    layouts, union = [], None
    for i, df in enumerate(inputs):
        src = {
            f.name: f"__v{j}_{f.dataType.simpleString()}"
            for j, f in enumerate(
                f for f in df.schema.fields if f.name not in key_list
            )
        }
        layouts.append((list(df.columns), [src.get(c, c) for c in df.columns]))
        part = df.select(
            *key_list,
            F.lit(i).alias(_TAG),
            *[F.col(c).alias(s) for c, s in src.items()],
        )
        union = part if union is None else union.unionByName(
            part, allowMissingColumns=True
        )
    return union, layouts


def _tag_frame(rows, layout) -> pd.DataFrame:
    """One tag's Arrow rows → its pandas frame in the input's original
    column order, keys included. The rows must hold only that tag: other
    tags' null padding is gone before conversion, so int64 columns stay
    exact int64 (a whole-group conversion would upcast them to float64,
    silently corrupting values above 2^53 — the 64-bit hash ids this
    engine lives on). An absent tag converts its zero rows, so empty
    frames keep the input's dtypes."""
    cols, src = layout
    return rows.select(src).rename_columns(cols).to_pandas()


def _record_batch(out: pd.DataFrame, schema):
    """``fn``'s pandas rows → one Arrow batch of ``schema``. Float
    columns convert without pandas' null inference, so a NaN stays NaN
    (``RecordBatch.from_pandas`` would make it null); None in an
    object-dtype column is null either way. Every other column keeps
    pandas semantics (NaN/NaT → null)."""
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [
            pa.array(out[f.name], type=f.type, from_pandas=not pa.types.is_floating(f.type))
            for f in schema
        ],
        schema=schema,
    )


def _arrow_schema_of(spark, schema):
    """Arrow schema for a Spark DDL string / StructType (driver-side —
    needs the active session's parser)."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    st = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    return to_arrow_schema(st)


def co_group_arrays(dfs: dict[str, DataFrame], keys: Sequence[str]) -> DataFrame:
    """N-way CoGroupByKey producing the CoGbkResult shape relationally:
    one row per distinct key, one array-of-structs column per input (named
    after its TupleTag), empty array where an input lacks the key — exactly
    CoGbkResult.getAll(tag) (historical sdk/transforms/join/CoGbkResult.java,
    UnionCoder.java: the reference unions all inputs tagged, then groups;
    we aggregate each input first so only grouped arrays shuffle).

    Scale note: per-input collect_list bounds state to one key's values per
    input — same footprint as the reference's per-key iterable buffers; the
    outer joins that follow are key-only equi-joins of already-reduced sides.
    """
    names = list(dfs)
    key_list = list(keys)
    agged = []
    for name in names:
        df = dfs[name]
        value_cols = [c for c in df.columns if c not in key_list]
        agged.append(
            df.groupBy(*key_list).agg(
                F.collect_list(F.struct(*value_cols)).alias(name)
            )
        )
    out = agged[0]
    for name, nxt in zip(names[1:], agged[1:]):
        # null-safe (<=>): a null key is one group, as in a groupBy
        right = nxt.select(*[F.col(k).alias(f"__r_{k}") for k in key_list], name)
        joined = out.join(
            right,
            [F.col(k).eqNullSafe(F.col(f"__r_{k}")) for k in key_list],
            "full",
        )
        out = joined.select(
            *[F.coalesce(k, f"__r_{k}").alias(k) for k in key_list],
            *[c for c in out.columns if c not in key_list],
            name,
        )
    # Missing tag for a key → empty iterable, not NULL (CoGbkResult contract).
    for name in names:
        out = out.withColumn(
            name, F.coalesce(F.col(name), F.array().cast(out.schema[name].dataType))
        )
    return out


class View:
    """Side-input views (historical sdk/transforms/View.java): broadcast a
    small collection so every main-input element can read it — the
    reference's PCollectionView singleton/list/map/multimap."""

    @staticmethod
    def as_singleton(main: DataFrame, side: DataFrame) -> DataFrame:
        """View.asSingleton: side must be 1 row; every main row sees its
        columns (broadcast nested-loop join of a 1-row side)."""
        return main.crossJoin(F.broadcast(side))

    @staticmethod
    def as_map(
        main: DataFrame, side: DataFrame, on, how: str = "left"
    ) -> DataFrame:
        """View.asMap + per-element lookup ≡ broadcast hash join. The
        classic map-side join: no shuffle of the main input at all."""
        return main.join(F.broadcast(side), on, how)

    @staticmethod
    def as_multimap(main: DataFrame, side: DataFrame, on, how: str = "left") -> DataFrame:
        """View.asMultimap: same join; duplicate side keys fan out — the
        multimap's multiple-values-per-key contract."""
        return main.join(F.broadcast(side), on, how)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str] | None = None,
    suffix: str | None = None,
) -> DataFrame:
    """As-of (point-in-time) left join: for each left row, attach the value
    columns of the most recent right row with right_ts <= left_ts on the
    same key — NULLs when no prior right row exists.

    Absent in the reference (and in Spark's join set); a training-data /
    feature-store staple, so built Spark-first rather than via a pairwise
    range join: tag both sides, union, and run one last(ignorenulls) window
    over (key, time, tag) — a SINGLE shuffle on the key, linear scan within
    partitions, no row-count blowup. A range-condition join would be
    O(left × right) per key before filtering; this is O(left + right).

    Right rows must be unique per (on, right_ts) for determinism (dedupe
    upstream with an argmax if not — events fixture satisfies it).

    Right value columns sharing a name with a left column (the classic
    trades/quotes-both-have-'price' case) are carried through internally
    renamed — they never merge with the left's own column in the union —
    and emitted as ``{name}{suffix}``; if such a collision exists and no
    ``suffix`` was given, raises ValueError rather than silently emitting
    ambiguous duplicate names.
    """
    from pyspark.sql.window import Window as W

    keys = list(on)
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in {*keys, right_ts}]
    collisions = [c for c in right_cols if c in left.columns]
    if collisions and suffix is None:
        raise ValueError(
            f"asof_join: right columns {collisions} collide with left "
            "columns; pass suffix= (e.g. '_right') or rename/drop them"
        )
    r = right.select(
        *keys,
        F.col(right_ts).alias("__asof_ts"),
        F.lit(0).alias("__asof_tag"),
        *[F.col(c).alias(f"__asof_in_{c}") for c in right_cols],
    )
    l = left.withColumn("__asof_ts", F.col(left_ts)).withColumn(
        "__asof_tag", F.lit(1)
    )
    unioned = l.unionByName(r, allowMissingColumns=True)
    # tag order puts the right row first at ts equality → `>=` semantics,
    # matching ANSI/DuckDB ASOF JOIN.
    w = (
        W.partitionBy(*keys)
        .orderBy("__asof_ts", "__asof_tag")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    filled = unioned.select(
        "*",
        *[
            F.last(f"__asof_in_{c}", ignorenulls=True).over(w).alias(f"__asof_{c}")
            for c in right_cols
        ],
    )
    out_cols = [c for c in left.columns] + [
        F.col(f"__asof_{c}").alias(c + suffix if c in collisions else c)
        for c in right_cols
    ]
    return filled.filter(F.col("__asof_tag") == 1).select(*out_cols)


def range_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    lower: int,
    upper: int,
) -> DataFrame:
    """Range (interval) join: pairs where right_ts ∈ [left_ts + lower,
    left_ts + upper] on the same key (bounds in seconds, inclusive).

    Absent in the reference; Spark would plan the naive form as a per-key
    cartesian product filtered afterwards — O(n·m) per key. This is the
    banded strategy instead: bucket time into (upper − lower)-wide bands,
    explode each LEFT row to the 2-3 bands its window overlaps, equi-join
    on (key, band) — so the join IS hash-partitioned and the candidate set
    per left row is only the right rows in adjacent bands — then apply the
    exact bounds. O(n + m + output) shuffle volume, skew handled by AQE
    like any equi-join.
    """
    from pyspark.sql.window import Window as _  # noqa: F401  (parity import)

    keys = list(on)
    width = max(upper - lower, 1)
    r = right.withColumn(
        "__band", F.floor(F.col(right_ts).cast("long") / F.lit(width))
    )
    lo = (F.col(left_ts).cast("long") + F.lit(lower)).alias("__lo")
    hi = (F.col(left_ts).cast("long") + F.lit(upper)).alias("__hi")
    l = left.select("*", lo, hi).withColumn(
        "__band",
        F.explode(
            F.sequence(
                F.floor(F.col("__lo") / F.lit(width)),
                F.floor(F.col("__hi") / F.lit(width)),
            )
        ),
    )
    joined = l.join(r, [*keys, "__band"])
    exact = (F.col(right_ts).cast("long") >= F.col("__lo")) & (
        F.col(right_ts).cast("long") <= F.col("__hi")
    )
    return joined.filter(exact).drop("__band", "__lo", "__hi")


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: Sequence[str],
    fanout: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join resilient to hot keys on the `skewed` side: salt the
    skewed side into `fanout` sub-keys, replicate `other` once per salt,
    join on (key, salt). Each hot key's rows spread over `fanout` reducers
    instead of one — the join-side twin of Combine.withHotKeyFanout
    (aggregation salting). AQE's skew-join split does this adaptively at
    stage boundaries; the explicit form is for engines/plans where AQE
    can't see the skew (e.g. skew introduced mid-stage) and as the
    documented 100 TB escape hatch.

    The salt derives from a hash of all skewed-side columns (not rand()),
    so the operator stays deterministic. Row multiplicity is preserved:
    every skewed row gets exactly one salt; `other` rows are replicated
    but each joins only its salt's partition.

    `how` is restricted to joins where multiplicity survives salting:
    for right/full outer, an `other` row whose salt partition finds no
    match would emit one null-extended row PER REPLICA (up to `fanout`
    duplicates), so those modes are rejected.
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi",
               "leftsemi", "left_anti", "leftanti", "semi", "anti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join: how={how!r} unsupported — other-side replication "
            "would duplicate unmatched right/full outer rows; use "
            "inner/left/left_semi/left_anti (or AQE skew join for outer)"
        )
    keys = list(on)
    salt = F.pmod(F.hash(*[F.col(c) for c in skewed.columns]), F.lit(fanout))
    l = skewed.withColumn("__salt", salt)
    r = other.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(fanout - 1)))
    )
    return l.join(r, [*keys, "__salt"], how).drop("__salt")
