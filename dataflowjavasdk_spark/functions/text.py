"""Text-analysis functions for large-scale training-data pipelines.

The reference ships no scalar function library (users write Java DoFns —
SURVEY.md §2.10); these are the engine's first-class text operators:
tokenization, token counting, language ID, quality scoring, and document
fingerprinting. All are pure Column expressions — whole-stage codegen,
no Python in the hot path — so they run at scan speed on 100 TB.

Every function has a deterministic cross-engine definition so DuckDB
oracles can replicate it exactly (see queries/text.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A small English stopword core: enough signal for the n-gram/stopword
# language heuristic; deterministic and easily mirrored in oracle SQL.
EN_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "by", "at", "from", "this", "that", "be",
)


# GPT-style pre-tokenizer classes: letter runs, single digits, other marks.
# Kept to constructs RE2 (DuckDB) and Java regex interpret identically —
# the cross-engine contract every regex-tokenized oracle depends on.
BPE_PRETOKEN_PAT = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"


def tokens(col: str | Column, pattern: str = r"\s+") -> Column:
    """Whitespace tokenization; empty tokens removed (the reference's
    WordCount ExtractWordsFn regex-split, historical
    examples/WordCount.java).

    Oracle-parity note: the DuckDB twins split on a literal single space
    (``string_split(text, ' ')``). The two agree on the fixture corpus,
    which is single-space-delimited by construction (TESTDATA.md); a
    general corpus with tabs/newlines would be whitespace-normalized
    first (exactly what fingerprint() does before hashing)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, pattern), lambda t: t != F.lit(""))


def token_count(col: str | Column) -> Column:
    """Token count (whitespace tokens)."""
    return F.size(tokens(col))


def stopword_ratio(col: str | Column, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    """Fraction of tokens that are stopwords ∈ [0,1]; single IEEE division
    of two exact ints → deterministic across engines."""
    toks = tokens(col)
    sw = F.array(*[F.lit(s) for s in stopwords])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return n_stop.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def language_id(col: str | Column, threshold: float = 0.04) -> Column:
    """Language ID via the stopword-density heuristic: the n-gram profile
    approach collapsed to its strongest single feature. Documents whose
    English-stopword density ≥ threshold classify 'en', else 'und'
    (ISO 639-3 undetermined)."""
    return F.when(stopword_ratio(col) >= threshold, F.lit("en")).otherwise(F.lit("und"))


def quality_score(col: str | Column) -> Column:
    """Quality score ∈ [0,1] from cheap lexical features:
    0.4·length_band + 0.3·mean-token-length band + 0.3·(1 - repetition),
    where repetition = 1 - distinct_tokens/tokens. Deterministic integer
    feature extraction; fixed weights."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)
    n = F.greatest(F.size(toks), F.lit(1)).cast("double")
    n_chars = F.length(c).cast("double")
    mean_tok_len = n_chars / n
    length_band = F.least(n / F.lit(200.0), F.lit(1.0))
    tok_len_band = (
        F.when((mean_tok_len >= 3.0) & (mean_tok_len <= 10.0), F.lit(1.0))
        .otherwise(F.lit(0.5))
    )
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n
    return (
        F.lit(0.4) * length_band + F.lit(0.3) * tok_len_band + F.lit(0.3) * distinct_ratio
    )


def char_entropy_stats(col: str | Column) -> Column:
    """struct(ent_nats, nd): Shannon entropy (NATS — divide by ln 2 for
    bits) of the document's character distribution, plus the distinct
    character count — in ONE O(L log L) pass per row. The naive shape
    (for each distinct char, filter the char array) re-evaluates the
    char-array lambda per distinct char — O(D·L) substr chains, measured
    80 s for 5,200 docs at sf0.1 — so this instead SORTS the chars once
    and folds run-lengths: each transition in the sorted array closes a
    run of length r and contributes (r/L)·ln(L/r); the finish lambda
    flushes the last run. 80 s → 2.2 s measured at sf0.1 (together with
    the split-based char array below), and linear in bytes at 100 TB
    (the difference between a scan-speed gate and one that dominates
    the pipeline).

    Cross-engine exactness: contributions are added in ascending-char
    order — exactly the fold order of the DuckDB twin's
    list_sort(list_distinct(cs)) formulation — so the float result is
    BIT-IDENTICAL to the per-distinct-char shape (same terms, same
    associativity; verified by the oracle gate). ln is the one libm call
    whose last ulp may differ per engine, so query emitters round to
    9 dp (the tfidf discipline)."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.greatest(F.length(c), F.lit(1))
    ln_ = n.cast("double")
    # split on the empty pattern yields the char array directly (O(L),
    # no per-position substr chain — which is O(L²) per row)
    chars = F.array_sort(F.split(c, ""))

    def contrib(run: Column) -> Column:
        r = run.cast("double")
        return (r / ln_) * F.log(ln_ / r)

    # accumulator: (prev char, current run length, entropy in nats,
    # distinct count). run == 0 marks the pre-first-element state, so the
    # first element ALWAYS opens a run — no sentinel char value is
    # assumed (a real leading \\x00 would have collided with one).
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0.0).alias("ent"),
        F.lit(0).cast("long").alias("nd"),
    )

    def step(acc: Column, ch: Column) -> Column:
        extend = F.struct(
            acc["prev"].alias("prev"),
            (acc["run"] + 1).alias("run"),
            acc["ent"].alias("ent"),
            acc["nd"].alias("nd"),
        )
        open_run = F.struct(
            ch.alias("prev"),
            F.lit(1).cast("long").alias("run"),
            F.when(acc["run"] > 0, acc["ent"] + contrib(acc["run"]))
            .otherwise(acc["ent"])
            .alias("ent"),
            (acc["nd"] + 1).alias("nd"),
        )
        return F.when(
            (acc["run"] > 0) & (ch == acc["prev"]), extend
        ).otherwise(open_run)

    def finish(acc: Column) -> Column:
        return F.struct(
            F.when(acc["run"] > 0, acc["ent"] + contrib(acc["run"]))
            .otherwise(acc["ent"])
            .alias("ent_nats"),
            acc["nd"].alias("nd"),
        )

    return F.aggregate(chars, init, step, finish)


def char_entropy(col: str | Column) -> Column:
    """Shannon entropy (bits per character) of the character distribution
    — the classic gibberish/low-diversity gate (`aaaa…` repetition reads
    near 0, natural English sits around 4.0–4.5). One sorted run-length
    pass per row (char_entropy_stats), ZERO shuffle."""
    return char_entropy_stats(col)["ent_nats"] / F.log(F.lit(2.0))


def normalize_for_dedup(col: str | Column) -> Column:
    """C4/CCNet-style dedup normalization: lowercase, strip every
    non-[a-z0-9 ] character, collapse space runs, trim. Two documents that
    differ only in casing, punctuation, or spacing normalize to the same
    string — the operating point production exact-dedup actually hashes
    (raw-text hashing misses trivially re-punctuated mirrors). DuckDB twin
    is the identical regexp_replace chain with the 'g' flag."""
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(F.lower(c), "[^a-z0-9 ]", "")
    return F.trim(F.regexp_replace(stripped, " +", " "))


def md5_long(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative bigint. Cross-engine exact:
    DuckDB twin is ('0x' || substr(md5(x),1,15))::BIGINT (verified
    identical this session)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def fingerprint(col: str | Column) -> Column:
    """Document fingerprint: md5-derived 60-bit content hash of the
    normalized text (lower + collapsed whitespace). The rolling-hash
    use-case (shingle fingerprints) lives in similarity.shingles."""
    c = F.col(col) if isinstance(col, str) else col
    normalized = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return md5_long(normalized)
