"""Similarity & dedup primitives: shingles, MinHash, SimHash, cosine.

Scale design (the whole point of these at 100 TB):
- MinHash/LSH: signature computation is a per-row expression (no shuffle);
  banding turns O(n²) near-dup into an equi-join on band keys — Spark
  shuffles once on band hash, AQE splits skewed buckets.
- Cosine: per-row left-fold expressions (bit-identical to DuckDB's
  list_reduce, verified); brute-force top-k is a broadcast cross join of
  the (small) query set against the corpus — no shuffle of the corpus.
- Vector-search kit (end of module): IVF cell assignment (`ivf_cells`),
  the broadcast top-k scorer (`top_k`), the LSH tables (`lsh_tables`,
  `lsh_topk`) and the PQ/ADC chain (`pq_topk`, `ivfpq_topk`), each
  written once; every ANN query and the recall ladder compose them.
- SimHash: vectorized Pandas UDF (numpy bit ops over Arrow batches) —
  the documented Python-unavoidable path.
"""

from __future__ import annotations

import hashlib
import operator
from functools import lru_cache, reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from dataflowjavasdk_spark.functions.text import md5_long, tokens


def let_(value: Column, body) -> Column:
    """Expression-level let-binding: evaluate `value` ONCE per row and bind
    it to a lambda variable for `body` (transform over a 1-element array).

    Why this exists (round-10 measured 100x-class constant): Catalyst's
    projection collapse inlines a projected expression's whole tree into
    every use site, and common-subexpression elimination does not reach
    into higher-order-function lambda bodies. An expression like
    `transform(seq, i -> slice(tokens(text), ...))` therefore re-runs the
    regexp tokenize per ARRAY ELEMENT — measured 26 s for shingling 50k
    docs at sf1 where the let-bound form takes ~2 s. A lambda-variable
    reference is a plain variable read, so binding through `transform`
    restores evaluate-once semantics without forcing a materialization
    barrier (localCheckpoint) or leaving whole-stage codegen."""
    return F.element_at(F.transform(F.array(value), body), 1)


def shingles(col: str | Column, n: int = 3) -> Column:
    """Token n-gram shingles (distinct). Expression-only: transform over a
    token-index sequence, join with spaces. Tokenization is let-bound so
    the regexp split runs once per row, not once per gram position."""
    c = F.col(col) if isinstance(col, str) else col

    def build(toks: Column) -> Column:
        k = F.size(toks) - (n - 1)
        grams = F.when(
            k > 0,
            F.transform(
                F.sequence(F.lit(0), k - 1),
                lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.array_distinct(grams)

    return let_(tokens(c), build)


def kgrams_with_dups(toks: Column, n: int = 4) -> Column:
    """Positional token n-grams over an already-tokenized column,
    duplicates KEPT (winnowing consumes every occurrence with its
    position; `shingles` dedups because set similarity wants sets).
    Expression-only, row-local; the token array is let-bound in case the
    caller passes a computed expression rather than a materialized
    column."""

    def build(tk: Column) -> Column:
        k = F.size(tk) - (n - 1)
        return F.when(
            k > 0,
            F.transform(
                F.sequence(F.lit(0), k - 1),
                lambda i: F.array_join(F.slice(tk, i + 1, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return let_(toks, build)


# --- MinHash hash family -------------------------------------------------
#
# One md5 per gram (base hash, 60 bits), then each of the `num_hashes`
# slots applies an independent 2-universal affine map
# h_j(s) = (a_j * base(s) + b_j) mod (2^61 - 1) — the classic
# Carter-Wegman family. Round 10 replaced the md5-per-(seed, gram)
# construction (16x the md5 calls; measured as THE dominant one-shot cost
# of the LSH pipeline at sf1/sf10) with this derivation. The mulmod is
# decomposed into shift/mask int64 ops that cannot overflow, so Spark
# (ANSI mode) and DuckDB (overflow-checking BIGINT) compute it
# identically — parity property-tested in tests/test_dedup_similarity.py.

MINHASH_PRIME = (1 << 61) - 1  # Mersenne prime 2^61-1
MINHASH_SENTINEL = 1 << 60  # empty shingle set -> sentinel max


def minhash_constants(num_hashes: int = 16) -> list[tuple[int, int]]:
    """Deterministic per-slot (a_j, b_j): a_j in [1, 2^30) keeps every
    intermediate of the split mulmod under 2^63; b_j in [0, 2^61-1).
    Derived from md5 of the slot index so both engines — which embed the
    values as literals — agree by construction."""
    out = []
    for j in range(num_hashes):
        a = (
            int.from_bytes(
                hashlib.md5(f"minhash-a:{j}".encode()).digest()[:8], "big"
            )
            % ((1 << 30) - 1)
            + 1
        )
        b = (
            int.from_bytes(
                hashlib.md5(f"minhash-b:{j}".encode()).digest()[:8], "big"
            )
            % MINHASH_PRIME
        )
        out.append((a, b))
    return out


def affine_hash(h: Column, a: int, b: int) -> Column:
    """(a*h + b) mod (2^61-1) in pure int64, no overflow: h < 2^61 splits
    as h1*2^31 + h0; a*h1*2^31 reduces via 2^61 ≡ 1 (mod p). Every
    intermediate stays below 2^63 (a < 2^30), so ANSI Spark never traps
    and DuckDB reproduces the value bit for bit."""
    x = F.lit(a) * F.shiftright(h, 31)
    return (
        F.shiftright(x, 30)
        + F.shiftleft(x.bitwiseAND(F.lit((1 << 30) - 1)), 31)
        + F.lit(a) * h.bitwiseAND(F.lit((1 << 31) - 1))
        + F.lit(b)
    ) % F.lit(MINHASH_PRIME)


def _affine_sql(h: str, a: int, b: int) -> str:
    """DuckDB twin of affine_hash — same shift/mask decomposition."""
    x = f"({a} * ({h} >> 31))"
    return (
        f"((({x} >> 30) + (({x} & 1073741823) << 31) + "
        f"{a} * ({h} & 2147483647) + {b}) % {MINHASH_PRIME})"
    )


def minhash_base_sql(grams: str) -> str:
    """DuckDB twin of the per-gram base hash array (md5_long per gram)."""
    return f"list_transform({grams}, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)"


def minhash_sig_sql(grams: str, num_hashes: int = 16) -> str:
    """DuckDB twin of minhash_signature: the full signature array as one
    SQL expression over a grams list expression. The base-hash list is
    let-bound through a 1-element list_transform (same trick as let_), so
    md5 runs once per gram, not once per (slot, gram)."""
    mins = ",\n               ".join(
        f"coalesce(list_min(list_transform(hs, h -> {_affine_sql('h', a, b)})), "
        f"{MINHASH_SENTINEL})"
        for a, b in minhash_constants(num_hashes)
    )
    return (
        f"(list_transform([{minhash_base_sql(grams)}], hs -> "
        f"[{mins}]))[1]"
    )


def minhash_signature(shingles_col: Column, num_hashes: int = 16) -> Column:
    """MinHash signature: sig[j] = min over shingles of
    (a_j * md5_long(s) + b_j) mod (2^61-1). Pure expressions, one md5 per
    gram; cross-engine exact (minhash_sig_sql is the DuckDB twin). Empty
    shingle sets get sentinel max."""
    sentinel = F.lit(MINHASH_SENTINEL).cast("long")

    def _xf(a: int, b: int):
        # real closure — a default-arg lambda would become a 2-param
        # lambda and PySpark would bind the array INDEX to it
        return lambda h: affine_hash(h, a, b)

    def build(base: Column) -> Column:
        return F.array(
            *[
                F.coalesce(F.array_min(F.transform(base, _xf(a, b))), sentinel)
                for a, b in minhash_constants(num_hashes)
            ]
        )

    return let_(F.transform(shingles_col, lambda s: md5_long(s)), build)


def band_keys(signature_col: Column, bands: int, rows_per_band: int) -> Column:
    """LSH banding: hash each signature slice to a band bucket key. Docs
    sharing any band key are near-dup candidates. Returns
    array<struct<band:int, bucket:bigint>> for explode + equi-join."""
    band_idx = F.sequence(F.lit(0), F.lit(bands - 1))
    return F.transform(
        band_idx,
        lambda b: F.struct(
            b.cast("int").alias("band"),
            md5_long(
                F.concat(
                    b.cast("string"),
                    F.lit("|"),
                    F.array_join(
                        F.transform(
                            F.slice(signature_col, b * rows_per_band + 1, rows_per_band),
                            lambda v: v.cast("string"),
                        ),
                        ",",
                    ),
                )
            ).alias("bucket"),
        ),
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two (distinct-element) arrays: |∩| / |∪| as a
    single IEEE division of exact ints."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return inter / F.greatest(union, F.lit(1.0))


def dot(a: Column, b: Column) -> Column:
    """Left-fold dot product in double — bit-identical to DuckDB's
    sequential list_reduce (verified this session)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm2(a: Column) -> Column:
    return F.aggregate(
        a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / F.sqrt(norm2(a) * norm2(b))


def l2sq(a: Column, b: Column) -> Column:
    """Left-fold squared L2 distance in double — the same sequential fold
    shape as `dot`, so DuckDB's list_reduce reproduces it bit for bit."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


# Per-worker-process token -> 64-bit-hash memo for simhash64_udf (guide
# §4.5 heavyweight-init-once; the JPEG DHT-cache precedent): corpus
# tokens repeat heavily across documents and batches, so md5 runs once
# per distinct token per worker instead of once per occurrence. Bounded:
# cleared when it exceeds ~1M entries (vocabulary-scale, not row-scale).
_SIMHASH_TOKEN_MEMO: dict = {}
_SIMHASH_MEMO_CAP = 1 << 20

# Column c of np.unpackbits over a little-endian uint64 byte view holds
# hash bit 8*(c//8) + (7 - c%8); weigh each column by 2^bit to fold the
# majority bits back into the integer without a per-bit Python loop.
_SIMHASH_COL_WEIGHTS = np.array(
    [1 << (8 * (c // 8) + (7 - c % 8)) for c in range(64)], dtype=np.uint64
)


def simhash64_udf():
    """Vectorized 64-bit SimHash over pre-tokenized arrays.

    For each doc: per-token 64-bit hash — the first 16 hex chars of
    md5(token), the same cross-engine-reproducible construction as
    md5_long/minhash (DuckDB twin: ('0x' || substr(md5(t),1,16))::UBIGINT)
    — then bit b of the result = majority vote of token-hash bits.
    Returns a pandas_udf for array<string> → long. The md5 hash family
    (rather than blake2b) makes the fingerprint SQL-oracleable: the
    simhash queries recompute it exactly in DuckDB.

    Round 11 (guide §4.2): the original per-token loop paid one md5 plus
    three 64-element numpy ops per token OCCURRENCE (~15 µs/token).
    Tokens now hash through a per-process memo (md5 once per distinct
    token) and each doc's bit-majority is one unpackbits + column sum
    over the (n_tokens, 64) bit matrix. Bit-identical: ones > n/2 ⟺ the
    old +1/−1 vote sum > 0, and the weighted uint64 fold reproduces the
    signed wrap exactly (pinned by tests against the per-token reference
    formulation)."""
    from pyspark.sql.functions import pandas_udf as _pandas_udf

    @_pandas_udf("long")
    def simhash64(token_arrays: pd.Series) -> pd.Series:
        import hashlib

        md5 = hashlib.md5
        memo = _SIMHASH_TOKEN_MEMO
        weights = _SIMHASH_COL_WEIGHTS
        out = np.zeros(len(token_arrays), dtype=np.int64)
        for i, toks in enumerate(token_arrays):
            if toks is None or len(toks) == 0:
                continue
            if len(memo) > _SIMHASH_MEMO_CAP:
                memo.clear()
            vals = []
            ap = vals.append
            for t in toks:
                h = memo.get(t)
                if h is None:
                    h = int(md5(t.encode("utf-8")).hexdigest()[:16], 16)
                    memo[t] = h
                ap(h)
            # little-endian bytes on any host (a no-copy view on x86/ARM)
            hs = np.array(vals, dtype=np.uint64).astype("<u8", copy=False)
            bits = np.unpackbits(hs.view(np.uint8)).reshape(-1, 64)
            ones = bits.sum(axis=0, dtype=np.int64)
            majority = (2 * ones) > len(vals)
            out[i] = (
                (majority.astype(np.uint64) * weights)
                .sum(dtype=np.uint64)
                .astype(np.int64)
            )
        return pd.Series(out)

    return simhash64


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two signed-64-bit simhashes."""
    return F.bit_count(a.bitwiseXOR(b))


@lru_cache(maxsize=None)
def _plane_matrix(planes: int, dim: int) -> tuple[tuple[float, ...], ...]:
    """The sign-random-projection weight matrix, computed ONCE at
    plan-build time. Component (p, d) is the same deterministic value in
    [-1, 1) the expression form derived per row — md5("plane:p:d")'s
    first 60 bits, pmod 2001, affine to [-1, 1) — reproduced here with
    the identical IEEE-double operations (the integer fits a double
    exactly; subtraction and division are the same two IEEE ops), so the
    literal is bit-identical to what the md5 expressions produced.
    Round 11: the matrix is CONSTANT per (planes, dim), but expressed as
    per-row expressions Catalyst cannot constant-fold through the
    higher-order lambdas, so every row of every evaluation recomputed
    planes*dim md5+concat+pmod calls (~7.5 s for 2000 rows at 8x64)."""
    rows = []
    for p in range(planes):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"plane:{p}:{d}".encode()).hexdigest()[:15], 16)
            row.append((float(h % 2001) - 1000.0) / 1000.0)
        rows.append(tuple(row))
    return tuple(rows)


def random_hyperplane_bucket(vec: Column, planes: int = 8, dim: int = 64) -> Column:
    """Sign-random-projection LSH bucket id ∈ [0, 2^planes). Plane p's
    component d is a deterministic pseudo-random value in [-1, 1)
    derived from md5(p, d) — no stored model, reproducible everywhere
    (the DuckDB oracle twins recompute the identical construction from
    md5 in SQL). Cosine-similar vectors land in the same bucket with
    high probability.

    The matrix (_plane_matrix) is one parsed array<array<double>> literal
    (`repr(x) + "D"` round-trips every double; ~180 py4j commands, where
    a Column per component sent 3-7k) folded as acc * 2 + bit, each bit
    the `dot` of the md5-expression form — bit-identity pinned by
    tests/test_dedup_similarity.py on the full fixture corpus."""
    rows = ", ".join(
        "array(" + ", ".join(repr(x) + "D" for x in row) + ")" for row in _plane_matrix(planes, dim)
    )
    return F.aggregate(
        F.expr(f"array({rows})"),
        F.lit(0),
        lambda acc, w: acc * 2 + F.when(dot(vec, w) >= 0, 1).otherwise(0),
    )


# --- Vector-search kit -----------------------------------------------------
#
# The ANN queries over `embeddings` (vec_id, embedding) are compositions
# of four blocks, each written once here: IVF cell assignment
# (`ivf_cells`), the broadcast top-k scorer (`top_k`), the LSH tables
# (`lsh_tables` + `lsh_topk`) and the PQ/ADC chain (`pq_topk`, with
# `ivfpq_topk` composing it over IVF residuals). Every distance is a
# left fold above, so each block's DuckDB oracle twin reproduces it bit
# for bit; every rank carries a deterministic id tiebreak.

IVF_CELLS = 8  # coarse codebook: the first 8 vectors seed the cells
LSH_TABLES = ((8, None), (16, 256))  # (planes, bucket modulus) per table
PQ_M, PQ_SUB = 4, 16  # PQ: 4 subspaces of 16 dims


def not_self() -> Column:
    """The scorer's default candidate predicate: a query is never its own
    neighbour."""
    return F.col("vec_id") != F.col("query_id")


def query_set(vecs: DataFrame, pred: Column, *extra) -> DataFrame:
    """The broadcast side of a search: rows of `vecs` matching `pred` as
    (query_id, qv, *extra)."""
    return vecs.filter(pred).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"), *extra
    )


def _top_rows(scored: DataFrame, k: int, by: Column, neighbor: str) -> DataFrame:
    """The per-query row_number cut: rank by `by`, ties to the lower
    neighbour id, keep rk <= k."""
    w = W.partitionBy("query_id").orderBy(by, F.col(neighbor))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def top_k(
    corpus: DataFrame,
    queries: DataFrame,
    score: Column,
    k: int,
    on: Column | None = None,
    name: str = "cosine",
    neighbor: str = "neighbor_id",
    carry: tuple = (),
) -> DataFrame:
    """Top-k by `score` DESC per query: the corpus joins the broadcast
    query set on `on` (default `not_self()`), each candidate pair is
    scored as column `name`, and the (score DESC, neighbour) row_number
    cut keeps rk <= k. Output (query_id, neighbor, *carry, name, rk).
    The corpus streams through the scorer map-side; only the query set
    is broadcast."""
    scored = corpus.join(F.broadcast(queries), not_self() if on is None else on).select(
        "query_id", F.col("vec_id").alias(neighbor), *carry, score.alias(name)
    )
    return _top_rows(scored, k, F.col(name).desc(), neighbor)


def ivf_cells(vecs: DataFrame, *extra) -> DataFrame:
    """IVF cell assignment: every vector scored against the IVF_CELLS
    centroids (vec_id < IVF_CELLS seed the codebook, which broadcasts) as
    (vec_id, embedding, cell, ccos, *extra, crk), crk the rank by
    (ccos DESC, cell). `extra` may name the centroid `cv`. Unfiltered:
    callers pin it, take crk = 1 (the assignment) or probe
    crk <= nprobe."""
    cent = vecs.filter(F.col("vec_id") < IVF_CELLS).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("cv")
    )
    cw = W.partitionBy("vec_id").orderBy(F.col("ccos").desc(), F.col("cell"))
    return (
        vecs.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "embedding",
            "cell",
            cosine(F.col("embedding"), F.col("cv")).alias("ccos"),
            *extra,
        )
        .withColumn("crk", F.row_number().over(cw))
    )


def lsh_tables(vecs: DataFrame, tables: int = len(LSH_TABLES)) -> DataFrame:
    """`vecs` plus one sign-random-projection bucket column per LSH table
    (b0, b1, ...; see LSH_TABLES), each one matrix literal and one fold
    (<400 py4j commands for both). Probe it with `lsh_topk`."""
    for t, (planes, mod) in enumerate(LSH_TABLES[:tables]):
        b = random_hyperplane_bucket(F.col("embedding"), planes=planes, dim=64)
        vecs = vecs.withColumn(f"b{t}", b if mod is None else b % mod)
    return vecs


def lsh_topk(tabled: DataFrame, is_query: Column, k: int, tables: int) -> DataFrame:
    """LSH top-k by cosine: a corpus vector is a candidate when it shares
    a bucket with the query in any of the first `tables` tables of
    `tabled` (OR-amplification). Each table is one equi-join against the
    broadcast query set (never a non-equi OR join); overlapping tables
    are unioned and deduplicated. Output (query_id, neighbor_id, cosine,
    rk)."""
    qb = query_set(tabled, is_query, *[F.col(f"b{t}").alias(f"qb{t}") for t in range(tables)])
    cands = reduce(
        DataFrame.unionByName,
        [
            tabled.join(F.broadcast(qb), (F.col(f"b{t}") == F.col(f"qb{t}")) & not_self())
            .select("query_id", F.col("vec_id").alias("neighbor_id"), "qv", "embedding")
            for t in range(tables)
        ],
    )
    if tables > 1:
        cands = cands.distinct()
    scored = cands.select(
        "query_id", "neighbor_id", cosine(F.col("qv"), F.col("embedding")).alias("cosine")
    )
    return _top_rows(scored, k, F.col("cosine").desc(), "neighbor_id")


def residual(vec: Column | str, centroid: Column | str) -> Column:
    """`vec` minus `centroid`, component by component, in double."""
    return F.zip_with(vec, centroid, lambda x, y: x.cast("double") - y.cast("double"))


def pq_slice(vec: Column | str, m: int | Column) -> Column:
    """The m-th PQ_SUB-dim subspace of `vec`."""
    return F.slice(vec, m * PQ_SUB + 1, PQ_SUB)


def _subspaces(df: DataFrame, vec: str, out: str, *ids) -> DataFrame:
    """One row per (ids, m): the m-th PQ_SUB-dim slice of `vec` as `out`."""
    s = F.explode(
        F.array(
            *[
                F.struct(F.lit(m).cast("long").alias("m"), pq_slice(vec, m).alias(out))
                for m in range(PQ_M)
            ]
        )
    )
    return df.select(*ids, s.alias("s")).select("*", "s.*").drop("s")


def pq_topk(
    vecs: DataFrame,
    base: DataFrame,
    codebook: DataFrame,
    code: Column | str,
    is_query: Column,
    k: int,
    vec: str = "embedding",
    keys: tuple = (),
    pin_table: bool = False,
) -> DataFrame:
    """Product-quantization top-k with asymmetric distance computation
    and exact re-rank. `base` (vec_id, *keys, vec) is split into PQ_M
    subspaces; each sub-vector gets the nearest codebook sub-vector
    (rows of `codebook`, numbered by `code`; ties to the lower code) and
    the codes pivot to one wide (vec_id, *keys, c0..c3) row. Queries
    (`is_query` rows of `base`) get a (PQ_M x codes) squared-L2 distance
    table; a candidate's ADC distance is its four table lookups summed
    left to right, joined on equal `keys` (IVFPQ searches the query's
    own cell). The ADC top k (adc_dist ASC, neighbor_id) is re-ranked
    against the exact full-vector distance from `vecs`. Output
    (query_id, neighbor_id, adc_dist, exact_dist, rk).

    `pin_table` pins the distance table: the four ADC joins each read it,
    so an unpinned `base` would re-derive its scan per join."""
    cb = _subspaces(codebook, vec, "cv", code)
    sub = _subspaces(base, vec, "sv", "vec_id", *keys)
    kw = W.partitionBy("vec_id", "m").orderBy(F.col("d").asc(), F.col("code"))
    codes = (
        sub.join(F.broadcast(cb), "m")
        .select("vec_id", *keys, "m", "code", l2sq(F.col("sv"), F.col("cv")).alias("d"))
        .withColumn("krk", F.row_number().over(kw))
        .filter(F.col("krk") == 1)
    )
    wide = codes.groupBy("vec_id", *keys).agg(
        *[F.max(F.when(F.col("m") == m, F.col("code"))).alias(f"c{m}") for m in range(PQ_M)]
    )
    dtab = (
        sub.filter(is_query)
        .withColumnRenamed("vec_id", "query_id")
        .join(F.broadcast(cb), "m")
        .select("query_id", *keys, "m", "code", l2sq(F.col("sv"), F.col("cv")).alias("d"))
    )
    if pin_table:
        dtab = dtab.localCheckpoint(eager=False)
    adc = wide
    for m in range(PQ_M):
        first = m == 0
        dm = dtab.filter(F.col("m") == m).select(
            "query_id",
            *(keys if first else ()),
            F.col("code").alias(f"c{m}"),
            F.col("d").alias(f"d{m}"),
        )
        adc = adc.join(F.broadcast(dm), [f"c{m}", *keys] if first else ["query_id", f"c{m}"])
    adc = adc.filter(not_self()).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        reduce(operator.add, [F.col(f"d{m}") for m in range(PQ_M)]).alias("adc_dist"),
    )
    top = _top_rows(adc, k, F.col("adc_dist").asc(), "neighbor_id")
    qv = vecs.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    nv = vecs.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("nv"))
    return (
        top.join(F.broadcast(qv), "query_id")
        .join(nv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            "adc_dist",
            l2sq(F.col("qv"), F.col("nv")).alias("exact_dist"),
            "rk",
        )
    )


def ivfpq_topk(vecs: DataFrame, is_query: Column, k: int) -> DataFrame:
    """IVFPQ: each vector's residual against its IVF cell centroid
    (`ivf_cells`, crk = 1; pinned, every PQ stage reads it) is product-
    quantized with a residual codebook seeded from vectors 20-23 (seeds
    0-3 are cell centroids, whose residuals are zero), and queries search
    only their own cell (nprobe = 1). Output as `pq_topk`."""
    assigned = (
        ivf_cells(vecs, "cv")
        .filter(F.col("crk") == 1)
        .select(
            "vec_id",
            "cell",
            residual("embedding", "cv").alias("res"),
        )
        .localCheckpoint(eager=False)
    )
    codebook = assigned.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 24)).select(
        (F.col("vec_id") - 20).alias("code"), "res"
    )
    return pq_topk(vecs, assigned, codebook, "code", is_query, k, vec="res", keys=("cell",))
