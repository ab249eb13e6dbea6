"""Similarity & dedup primitives: shingles, MinHash, SimHash, cosine.

Scale design (the whole point of these at 100 TB):
- MinHash/LSH: signature computation is a per-row expression (no shuffle);
  banding turns O(n²) near-dup into an equi-join on band keys — Spark
  shuffles once on band hash, AQE splits skewed buckets.
- Cosine: per-row left-fold expressions (bit-identical to DuckDB's
  list_reduce, verified); brute-force top-k is a broadcast cross join of
  the (small) query set against the corpus — no shuffle of the corpus.
- SimHash: vectorized Pandas UDF (numpy bit ops over Arrow batches) —
  the documented Python-unavoidable path.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

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

    The weight matrix is embedded as array<double> literals
    (_plane_matrix): same values, same zip_with/fold evaluation order as
    the original expression form — bit-identity pinned by
    tests/test_dedup_similarity.py against the md5-expression reference
    on the full fixture corpus."""
    mat = _plane_matrix(planes, dim)
    bucket: Column = F.lit(0)
    for p in range(planes):
        w = F.array(*[F.lit(x) for x in mat[p]])
        plane_dot = F.aggregate(
            F.zip_with(vec, w, lambda x, wv: x.cast("double") * wv),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        # binary fold: bucket = Σ bit_p · 2^p expressed as acc*2 + bit,
        # unrolled in the same plane order as the old aggregate-over-bits
        bucket = bucket * 2 + F.when(plane_dot >= 0, F.lit(1)).otherwise(F.lit(0))
    return bucket
