"""Deduplication queries — exact and near-dup (MinHash / shingle-Jaccard /
SimHash), the training-data-pipeline operators (SURVEY.md §7.1 P7).

The fixture corpus has no duplicates, so each query first builds a
deterministic test corpus by unioning `documents` with perturbed copies:
- exact dups: doc_id % 20 == 0 → identical text, doc_id += 1_000_000
- near dups: doc_id % 10 == 0 → last 5 tokens dropped, doc_id += 2_000_000
Both engines construct the same corpus in SQL/DataFrame terms, so results
stay oracle-comparable end-to-end.

Scale design: every pipeline is hash/shingle-join shaped — signatures and
fingerprints are per-row expressions (no shuffle); candidate generation is
an equi-join on fingerprint/shingle/band keys (one shuffle each side,
AQE-skew-safe); nothing is ever pairwise-compared without a blocking key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from dataflowjavasdk_spark.functions import similarity as S
from dataflowjavasdk_spark.functions import text as T
from dataflowjavasdk_spark.queries.registry import query
from dataflowjavasdk_spark.sources.tables import load_table

# Shared corpus-with-duplicates construction -------------------------------

_CORPUS_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text
      FROM documents WHERE doc_id % 20 = 0
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id,
             array_to_string(
               array_slice(list_filter(string_split(text, ' '), t -> t <> ''), 1,
                           greatest(len(list_filter(string_split(text, ' '),
                                                    t -> t <> '')) - 5, 1)),
               ' ') AS text
      FROM documents WHERE doc_id % 10 = 0
"""


# Candidate generation for exact-Jaccard near-dup detection ----------------
#
# Blocking grams are capped by document frequency: a gram appearing in more
# than SHINGLE_DF_CAP docs generates O(df^2) candidate pairs (a stopword-like
# shingle in 10^6 docs would emit 10^12 pairs on one key at 100 TB), and a
# pair of near-dup docs sharing such a gram almost surely also shares a rare
# gram, so dropping hot grams from *blocking only* loses no realistic pairs.
# Jaccard is then computed exactly from the full (uncapped) gram sets of each
# candidate pair, so emitted values are exact — the cap bounds candidate
# count per gram at CAP^2 without approximating the similarity itself. The
# DuckDB oracles apply the identical cap.
SHINGLE_DF_CAP = 1000


def _capped_blocking(sh: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The df-capped gram blocking stage every exact near-dup verifier
    shares. Returns (pinned sh, ex, gram_df, pairs):

    - ``sh`` (doc_id, grams, ...), materialized once (lazy
      localCheckpoint): it feeds the gram document frequency, both sides
      of the self-join and the verify stage's per-doc lookups — five
      references that Spark would otherwise recompute from the raw corpus
      each (verified on the executed plan: the source scan repeated 18x
      in near_dup_pairs_jaccard before this pin). The checkpointed
      relation is the shingled corpus — the same order of size as the
      input, the standard materialize-after-tokenize point in a real
      pipeline (MEMORY_AND_DISK, spills cleanly).
    - ``ex`` (doc_id, gram): the map-side explode of the pinned sh, left
      unpinned on purpose — checkpointing it would write a corpus-sized
      relation.
    - ``gram_df`` (gram, df) for every gram with df >= 2, pinned (round
      10): one df pass feeds the kept-gram filter on BOTH self-join
      sides (the broadcast side of a self-join cannot share the other
      side's exchange) and any over-cap lookup; the pinned rows are the
      shared-gram vocabulary, far smaller than one corpus gram pass.
    - ``pairs`` (id_a, id_b, inter_kept): every doc pair (id_a < id_b)
      sharing a kept gram (df in [2, cap]), with the number of kept grams
      they share (grams must be distinct per doc; S.shingles guarantees
      it)."""
    sh = sh.localCheckpoint(eager=False)
    ex = sh.select("doc_id", F.explode("grams").alias("gram"))
    gram_df = (
        ex.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 2)
        .localCheckpoint(eager=False)
    )
    kept = ex.join(gram_df.filter(F.col("df") <= SHINGLE_DF_CAP).select("gram"), "gram")
    a, b = kept.alias("a"), kept.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("inter_kept"))
    )
    return sh, ex, gram_df, pairs


def _capped_pair_profile(sh: DataFrame, doc_cols=None) -> DataFrame:
    """Candidate pairs from the df-capped gram blocking (_capped_blocking)
    with the EXACT full-set intersection count — (id_a, id_b, n_a, n_b,
    inter) plus any ``doc_cols`` ({name: Column over sh}) carried to both
    sides as ``<name>_a`` / ``<name>_b``.

    Round 10: the verify stage used to re-join every candidate pair to
    BOTH docs' full gram arrays and run array_intersect per pair —
    shipping corpus-scale arrays across two joins (measured 85% of the
    Jaccard query's warm cost at sf0.1: 1.47M candidates x ~40-string
    arrays per side). The intersection is instead read off the blocking
    join itself: every gram two docs share has df >= 2 by definition, so
    |A∩B| = (shared grams with df in [2, cap]: the blocking stage's
    inter_kept) + (shared grams with df > cap: counted from per-doc
    over-cap-gram arrays, a stopword-vocabulary-bounded relation that is
    EMPTY unless a gram tops the cap). The per-pair join carries only
    (n, hot, doc_cols) per side instead of the gram arrays, and the
    per-pair array_intersect runs over the near-empty hot arrays.
    Emitted pairs and inter counts are bit-identical to the
    full-array verify (same integers)."""
    doc_cols = doc_cols or {}
    sh, ex, gram_df, pairs = _capped_blocking(sh)
    doc_hot = (
        ex.join(gram_df.filter(F.col("df") > SHINGLE_DF_CAP).select("gram"), "gram")
        .groupBy("doc_id")
        .agg(F.collect_list("gram").alias("hot"))
    )
    meta = sh.select(
        "doc_id", "n", *[v.alias(k) for k, v in doc_cols.items()]
    ).join(doc_hot, "doc_id", "left")
    ma = meta.select(
        F.col("doc_id").alias("id_a"),
        F.col("n").alias("n_a"),
        F.col("hot").alias("hot_a"),
        *[F.col(k).alias(f"{k}_a") for k in doc_cols],
    )
    mb = meta.select(
        F.col("doc_id").alias("id_b"),
        F.col("n").alias("n_b"),
        F.col("hot").alias("hot_b"),
        *[F.col(k).alias(f"{k}_b") for k in doc_cols],
    )
    no_hot = F.array().cast("array<string>")
    inter = F.col("inter_kept") + F.size(
        F.array_intersect(
            F.coalesce("hot_a", no_hot), F.coalesce("hot_b", no_hot)
        )
    )
    return (
        pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .withColumn("inter", inter)
        .drop("inter_kept", "hot_a", "hot_b")
    )


def _jaccard_pairs_capped(sh: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact-Jaccard near-dup pairs from (doc_id, grams, n) over the
    df-capped blocking, verified by the count-from-blocking-join profile
    (see _capped_pair_profile — pairs and jacc values are bit-identical
    to the old per-pair full-array array_intersect)."""
    prof = _capped_pair_profile(sh)
    inter = F.col("inter")
    jacc = inter.cast("double") / F.greatest(
        F.col("n_a") + F.col("n_b") - inter, F.lit(1)
    ).cast("double")
    return (
        prof.select("id_a", "id_b", jacc.alias("jacc"))
        .filter(F.col("jacc") >= threshold)
    )


def _candidate_pairs_sql(source_cte: str, n: int = 3) -> str:
    """DuckDB twin of the df-capped blocking stage (token ``n``-gram
    shingle → gram-df cap → equi-join) over a CTE named ``source_cte``
    holding (doc_id, text). Emits CTEs ``sh`` (doc_id, grams) through
    ``cand`` (id_a < id_b) — the candidate pairs every near-dup verifier
    (Jaccard, Levenshtein) then checks exactly. Longer shingles = rarer
    blocking keys = fewer candidates; pick n by verifier cost."""
    return f"""
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(list_filter(string_split(text,' '), t -> t <> '')) - {n - 2}, 1)),
               i -> array_to_string(
                      array_slice(list_filter(string_split(text,' '), t -> t <> ''),
                                  i, i + {n - 1}), ' ')
             )) AS grams
      FROM {source_cte}
    ),
    exploded AS (SELECT doc_id, unnest(grams) AS gram FROM sh),
    gram_df AS (
      SELECT gram FROM exploded GROUP BY gram
      HAVING count(*) >= 2 AND count(*) <= {SHINGLE_DF_CAP}
    ),
    kept_grams AS (
      SELECT e.doc_id, e.gram FROM exploded e JOIN gram_df USING (gram)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM kept_grams a JOIN kept_grams b
        ON a.gram = b.gram AND a.doc_id < b.doc_id
    )"""


def _jaccard_pairs_sql(source_cte: str, threshold: float = 0.5) -> str:
    """DuckDB twin of _jaccard_pairs_capped over a CTE named ``source_cte``
    holding (doc_id, text). Emits CTEs ending in ``jacc_pairs``."""
    return f"""{_candidate_pairs_sql(source_cte)},
    jacc_pairs AS (
      SELECT id_a, id_b,
             len(list_filter(sa.grams, g -> list_contains(sb.grams, g)))::DOUBLE
               / greatest(len(sa.grams) + len(sb.grams)
                          - len(list_filter(sa.grams, g -> list_contains(sb.grams, g))),
                          1)::DOUBLE AS jacc
      FROM cand
      JOIN sh sa ON sa.doc_id = id_a
      JOIN sh sb ON sb.doc_id = id_b
      WHERE len(list_filter(sa.grams, g -> list_contains(sb.grams, g)))::DOUBLE
              / greatest(len(sa.grams) + len(sb.grams)
                         - len(list_filter(sa.grams, g -> list_contains(sb.grams, g))),
                         1)::DOUBLE >= {threshold}
    )"""


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    exact = (
        docs.filter(F.col("doc_id") % 20 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )
    toks = T.tokens("text")
    near = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"),
            F.array_join(
                F.slice(toks, 1, F.greatest(F.size(toks) - 5, F.lit(1))), " "
            ).alias("text"),
        )
    )
    return docs.unionByName(exact).unionByName(near)


@query(
    "dedup_exact",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    keyed AS (
      SELECT doc_id,
             ('0x' || substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')),
                             1, 15))::BIGINT AS fp
      FROM corpus
    )
    SELECT fp, min(doc_id) AS canonical_id, count(*) AS group_size
    FROM keyed GROUP BY fp HAVING count(*) > 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup at scale: fingerprint each doc (per-row md5 expression),
    group on the 60-bit fingerprint — never on the full text, so shuffle
    keys are 8 bytes regardless of document size. Emits duplicate groups
    with canonical (min) id — the RemoveDuplicates.withRepresentativeValues
    pattern (historical sdk/transforms/RemoveDuplicates.java) made
    deterministic."""
    corpus = _corpus(spark, sf_dir)
    return (
        corpus.select("doc_id", T.fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") > 1)
    )


@query(
    "minhash_signatures",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    sh AS (
      SELECT doc_id,
             list_transform(
               range(1, greatest(len(list_filter(string_split(text,' '), t -> t <> '')) - 1, 1)),
               i -> array_to_string(
                      array_slice(list_filter(string_split(text,' '), t -> t <> ''),
                                  i, i + 2), ' ')
             ) AS grams
      FROM corpus
    ),
    sig AS (SELECT doc_id, {S.minhash_sig_sql('grams')} AS sig FROM sh)
    SELECT doc_id,
           CAST(unnest(range(0, 16)) AS INT) AS hash_idx,
           unnest(sig) AS minhash
    FROM sig
    """,
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (16 hashes over token 3-gram shingles) as pure
    expressions — md5-derived hash family, cross-engine exact. Emitted in
    exploded long form ``(doc_id, hash_idx, minhash)`` — one row per hash
    slot — so every output column is a driver-hashable scalar (the round-2
    array&lt;bigint&gt; shape crashed the driver's pandas canonicalizer). The
    signature is the input to LSH banding; computing it is a projection
    (zero shuffle, scan-bound) and posexplode is row-local (still no
    shuffle)."""
    corpus = _corpus(spark, sf_dir)
    return corpus.select(
        "doc_id",
        F.posexplode(
            S.minhash_signature(S.shingles("text", 3), num_hashes=16)
        ).alias("hash_idx", "minhash"),
    )


@query(
    "near_dup_pairs_jaccard",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),{_jaccard_pairs_sql("corpus")}
    SELECT id_a, id_b, jacc FROM jacc_pairs
    """,
)
def near_dup_pairs_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs with df-capped shingle blocking:
    explode distinct shingles, drop grams seen in > SHINGLE_DF_CAP docs
    (bounds candidates at CAP^2 per gram — the uncapped equi-join is
    O(df^2) and melts down on stopword-like shingles at 100 TB), equi-join
    the surviving grams for candidates, then verify each candidate pair
    EXACTLY from its full gram sets (array_intersect), filter Jaccard ≥
    0.5. Values are exact; only blocking is capped. This is the
    exact-verification stage of a MinHash pipeline run standalone; at
    100 TB the same plan runs after LSH banding narrows candidates
    further."""
    corpus = _corpus(spark, sf_dir)
    sh = corpus.select(
        "doc_id", S.shingles("text", 3).alias("grams")
    ).withColumn("n", F.size("grams"))
    return _jaccard_pairs_capped(sh)


# Shared CTE chain: corpus → positional 8-token window grams → df-capped
# equi-join → diagonal runs → maximal spans (one row per run). Used by
# the exact_dup_spans oracle AND the dup_span_removal oracle.
_DUP_SPANS_SQL = f"""corpus AS ({_CORPUS_SQL}),
    toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
      FROM corpus
    ),
    kg AS (
      SELECT doc_id, i - 1 AS pos,
             array_to_string(array_slice(tk, i, i + 7), ' ') AS gram
      FROM (SELECT doc_id, tk,
                   unnest(range(1, greatest(len(tk) - 7, 0) + 1)) AS i
            FROM toks)
    ),
    hot AS (
      SELECT gram FROM kg GROUP BY gram
      HAVING count(DISTINCT doc_id) >= 2
         AND count(DISTINCT doc_id) <= {SHINGLE_DF_CAP}
    ),
    kept AS MATERIALIZED (
      SELECT kg.doc_id, kg.pos, kg.gram FROM kg JOIN hot USING (gram)
    ),
    hits AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.pos AS pos_a, a.pos - b.pos AS diag
      FROM kept a JOIN kept b
        ON a.gram = b.gram AND a.doc_id < b.doc_id
    ),
    runs AS (
      SELECT id_a, id_b, diag, pos_a,
             pos_a - row_number() OVER (PARTITION BY id_a, id_b, diag
                                        ORDER BY pos_a) AS grp
      FROM hits
    ),
    spans AS MATERIALIZED (
      SELECT id_a, id_b,
             CAST(min(pos_a) AS BIGINT) AS start_a,
             CAST(min(pos_a) - diag AS BIGINT) AS start_b,
             CAST(max(pos_a) - min(pos_a) + 8 AS BIGINT) AS n_tokens,
             count(*) AS n_windows
      FROM runs GROUP BY id_a, id_b, diag, grp
    )"""


@query(
    "exact_dup_spans",
    oracle=f"""
    WITH {_DUP_SPANS_SQL}
    SELECT id_a, id_b, start_a, start_b, n_tokens, n_windows FROM spans
    """,
)
def exact_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT maximal duplicate-span detection (round 7) — the relational
    ExactSubstr analog (Lee et al., "Deduplicating Training Data Makes
    Language Models Better", ACL'22 — public method; their suffix array
    finds >=50-token verbatim dups, here the window width w=8 IS the
    minimum match length): every maximal verbatim token span shared by a
    document pair, with coordinates. Positional 8-token windows equi-join
    on the gram STRING (exact by construction, no hash-collision verify
    step), matched positions fall on a diagonal (pos_a − pos_b constant),
    and consecutive diagonal hits merge into maximal spans via
    gaps-and-islands (pos − row_number) — all integers, cross-engine
    exact. Complements winnowing_dup_spans: winnowing SAMPLES fingerprints
    for a per-doc coverage signal; this emits the exact (start_a, start_b,
    n_tokens) spans a substring-level dedup would actually cut.

    At 100 TB: the window relation is corpus-sized but carries (doc_id,
    pos, 8-gram) — payload text never shuffles whole; the doc-frequency
    cap bounds the self-join fan-out per gram exactly like the shingle
    families (a gram in >CAP docs is boilerplate, handled by the chunk
    family instead); islands ride ONE exchange keyed by (pair, diagonal).
    The suffix-array construction the paper uses is sequential — this
    windowed equi-join form is its distributed equivalent at w
    granularity."""
    return _exact_dup_spans(spark, sf_dir, min_span_tokens=8)


def _exact_dup_spans(
    spark: SparkSession, sf_dir: str, min_span_tokens: int
) -> DataFrame:
    """Span detection with an explicit minimum-span operating point:
    windows of width 8 detect at 8-token granularity; the post-merge
    filter keeps only maximal spans of >= min_span_tokens tokens. The
    filter sits AFTER the gaps-and-islands merge, so it selects by the
    true maximal length, not window count."""
    corpus = _corpus(spark, sf_dir)
    tk = T.tokens("text")
    kg = corpus.select(
        "doc_id", F.posexplode(S.kgrams_with_dups(tk, 8)).alias("pos", "gram")
    )
    spans = _dup_spans(kg, window=8)
    if min_span_tokens > 8:
        spans = spans.filter(F.col("n_tokens") >= min_span_tokens)
    return spans


@query(
    "exact_dup_spans_50",
    oracle=f"""
    WITH {_DUP_SPANS_SQL}
    SELECT id_a, id_b, start_a, start_b, n_tokens, n_windows FROM spans
    WHERE n_tokens >= 50
    """,
)
def exact_dup_spans_50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact_dup_spans at the Lee-et-al PRODUCTION operating point
    (round 8 — VERDICT r7 #8): the ACL'22 ExactSubstr dedup removes
    verbatim duplicate substrings of >= 50 tokens; this variant keeps
    only maximal spans meeting that bar (detection windows stay at
    w=8 — the filter applies to the MERGED maximal span length, so a
    49-token overlap is correctly excluded while a 50-token one built
    from 43 overlapping windows is kept). Same plan as exact_dup_spans
    plus one post-aggregation filter — the cost profile is identical;
    at 100 TB the narrower output is what feeds span removal."""
    return _exact_dup_spans(spark, sf_dir, min_span_tokens=50)


def _dup_spans(kg: DataFrame, window: int) -> DataFrame:
    """Maximal-span merge over a positional window-gram relation
    (doc_id, pos, gram): df-capped gram equi-join → diagonal runs →
    gaps-and-islands. Factored out of exact_dup_spans so the cap's
    fan-out bound is directly testable on crafted corpora (the
    _capped_blocking twin for the positional family)."""
    hot = (
        kg.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter((F.col("nd") >= 2) & (F.col("nd") <= SHINGLE_DF_CAP))
        .select("gram")
    )
    kept = kg.join(hot, "gram").localCheckpoint(eager=False)
    a = kept.select(
        F.col("doc_id").alias("id_a"), F.col("pos").alias("pos_a"), "gram"
    )
    b = kept.select(
        F.col("doc_id").alias("id_b"), F.col("pos").alias("pos_b"), "gram"
    )
    hits = (
        a.join(b, ["gram"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", "pos_a", (F.col("pos_a") - F.col("pos_b")).alias("diag")
        )
    )
    rw = W.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    runs = hits.withColumn(
        "grp", F.col("pos_a") - F.row_number().over(rw)
    )
    return runs.groupBy("id_a", "id_b", "diag", "grp").agg(
        F.min("pos_a").cast("bigint").alias("start_a"),
        (F.min("pos_a") - F.col("diag")).cast("bigint").alias("start_b"),
        (F.max("pos_a") - F.min("pos_a") + window).cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_windows"),
    ).select("id_a", "id_b", "start_a", "start_b", "n_tokens", "n_windows")


@query(
    "dup_span_removal",
    oracle=f"""
    WITH {_DUP_SPANS_SQL},
    covered AS (
      SELECT DISTINCT id_b AS doc_id, start_b + u AS pos
      FROM spans, unnest(range(0, n_tokens)) AS t(u)
    ),
    ptoks AS (
      SELECT doc_id, i - 1 AS pos, tk[i] AS tok
      FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i FROM toks)
    ),
    docs_with AS (SELECT DISTINCT doc_id FROM covered),
    before AS (
      SELECT p.doc_id, count(*) AS n_before
      FROM ptoks p JOIN docs_with USING (doc_id) GROUP BY p.doc_id
    ),
    kept_toks AS (
      SELECT p.doc_id, p.pos, p.tok
      FROM ptoks p
      JOIN docs_with USING (doc_id)
      LEFT JOIN covered c ON c.doc_id = p.doc_id AND c.pos = p.pos
      WHERE c.pos IS NULL
    ),
    cleaned AS (
      SELECT doc_id, count(*) AS n_after,
             ('0x' || substr(md5(string_agg(tok, ' ' ORDER BY pos)), 1, 15))
               ::BIGINT AS cleaned_hash
      FROM kept_toks GROUP BY doc_id
    )
    SELECT w.doc_id,
           b.n_before,
           b.n_before - coalesce(a.n_after, 0) AS n_removed,
           coalesce(a.n_after, 0) AS n_after,
           coalesce(a.cleaned_hash,
                    ('0x' || substr(md5(''), 1, 15))::BIGINT) AS cleaned_hash
    FROM docs_with w
    JOIN before b USING (doc_id)
    LEFT JOIN cleaned a USING (doc_id)
    """,
)
def dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the substring dedup (round 7) — the transformation
    exact_dup_spans only detects (Lee et al. ACL'22: cut verbatim dup
    spans, keep one occurrence): for every maximal shared span, the
    occurrence in the HIGHER doc_id is removed (deterministic
    keep-lowest-id policy, the near-dup family's convention); a doc's
    covered token positions are the UNION over all its spans (overlaps
    collapse via distinct), the survivors re-assemble in position order,
    and the report carries before/removed/after token counts plus the
    60-bit hash of the cleaned text — so the oracle proves the actual
    edited strings match, not just the counts. Fully-covered docs
    (exact whole-doc copies) come out with n_after = 0 and the hash of
    the empty string.

    At 100 TB: covered positions are bounded by duplicate volume (not
    corpus size); the anti-join against them and the ordered re-assembly
    ride doc_id-keyed exchanges of docs that HAVE removals only
    (left-semi pre-filter) — pristine documents never shuffle."""
    corpus = _corpus(spark, sf_dir)
    spans = exact_dup_spans(spark, sf_dir)
    covered = spans.select(
        F.col("id_b").alias("doc_id"),
        F.explode(
            F.sequence(
                F.col("start_b"), F.col("start_b") + F.col("n_tokens") - 1
            )
        ).alias("pos"),
    ).distinct().localCheckpoint(eager=False)  # feeds semi, anti, docs_with
    docs_with = covered.select("doc_id").distinct()
    ptoks = corpus.select(
        "doc_id", F.posexplode(T.tokens("text")).alias("pos", "tok")
    ).withColumn("pos", F.col("pos").cast("long"))
    ptoks_w = ptoks.join(docs_with, "doc_id", "left_semi").localCheckpoint(
        eager=False  # feeds the before-count AND the anti-join
    )
    before = ptoks_w.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_before"))
    kept = ptoks_w.join(covered, ["doc_id", "pos"], "left_anti")
    cleaned = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_after"),
        T.md5_long(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s.tok,
                ),
                " ",
            )
        ).alias("cleaned_hash"),
    )
    import hashlib

    empty_hash = int(hashlib.md5(b"").hexdigest()[:15], 16)
    return (
        docs_with.join(before, "doc_id")
        .join(cleaned, "doc_id", "left")
        .select(
            "doc_id",
            "n_before",
            (F.col("n_before") - F.coalesce("n_after", F.lit(0))).alias(
                "n_removed"
            ),
            F.coalesce("n_after", F.lit(0)).alias("n_after"),
            F.coalesce("cleaned_hash", F.lit(empty_hash)).alias("cleaned_hash"),
        )
    )


@query(
    "containment_near_dup_pairs",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),{_candidate_pairs_sql("corpus", 4)},
    pairs AS (
      SELECT id_a, id_b,
             len(list_filter(sa.grams, g -> list_contains(sb.grams, g)))
               AS n_inter,
             len(sa.grams) AS n_a, len(sb.grams) AS n_b
      FROM cand
      JOIN sh sa ON sa.doc_id = id_a
      JOIN sh sb ON sb.doc_id = id_b
      WHERE least(len(sa.grams), len(sb.grams)) >= 10
    )
    SELECT CASE WHEN n_a <= n_b THEN id_a ELSE id_b END AS id_contained,
           CASE WHEN n_a <= n_b THEN id_b ELSE id_a END AS id_container,
           CAST(least(n_a, n_b) AS BIGINT) AS n_contained,
           CAST(n_inter AS BIGINT) AS n_inter,
           round(n_inter::DOUBLE / greatest(least(n_a, n_b), 1), 9)
             AS containment
    FROM pairs
    WHERE n_inter::DOUBLE / greatest(least(n_a, n_b), 1) >= 0.8
    """,
)
def containment_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-based near-SUPERSET dedup (round 7): directed
    containment C(A→B) = |A∩B| / |A| (Broder, "On the resemblance and
    containment of documents", SEQUENCES '97 — public method) over the
    df-capped shingle blocking the Jaccard family uses. Containment
    catches the dup class symmetric Jaccard MISSES: a short document
    wholly embedded in a much longer one (quote expansion, boilerplate
    wrapping, the _corpus truncation variant) has |A∩B| ≈ |A| but
    Jaccard ≈ |A|/|B| → 0 as the container grows. Emits the smaller
    side as id_contained with exact intersection counts; only blocking
    is capped, values are exact (integer counts + one deterministic
    division, rounded for display).

    At 100 TB: identical blocking cost to near_dup_pairs_jaccard (same
    capped gram equi-join, same pinned shingle relation); verification
    counts the intersection on the blocking join itself
    (_capped_pair_profile) — no gram set is shipped per pair. The
    directed output feeds a keep-the-container policy: dropping
    id_contained rows never loses text the container does not carry."""
    corpus = _corpus(spark, sf_dir)
    # 4-gram shingles + a 10-gram floor on the contained side: on the
    # fixture's tiny-vocabulary word soup, 3-gram containment is loose
    # enough that chance containments blow the candidate set up ~28x
    # (1.47M vs 51k pairs at sf0.1, measured) — the same rarity dial
    # prefix_filter_jaccard_pairs documents. Containment of a <10-gram
    # set is statistically meaningless anyway.
    sh = corpus.select(
        "doc_id", S.shingles("text", 4).alias("grams")
    ).withColumn("n", F.size("grams"))
    prof = _capped_pair_profile(sh)
    inter = F.col("inter")
    n_small = F.least("n_a", "n_b")
    cont = inter.cast("double") / F.greatest(n_small, F.lit(1)).cast("double")
    small_is_a = F.col("n_a") <= F.col("n_b")
    return (
        prof.filter(n_small >= 10)
        .select(
            F.when(small_is_a, F.col("id_a")).otherwise(F.col("id_b"))
            .alias("id_contained"),
            F.when(small_is_a, F.col("id_b")).otherwise(F.col("id_a"))
            .alias("id_container"),
            n_small.cast("bigint").alias("n_contained"),
            inter.cast("bigint").alias("n_inter"),
            F.round(cont, 9).alias("containment"),
            cont.alias("__cont_raw"),
        )
        .filter(F.col("__cont_raw") >= 0.8)
        .drop("__cont_raw")
    )


@query(
    "containment_sketch_calibration",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),{_candidate_pairs_sql("corpus", 4)},
    sigs AS MATERIALIZED (
      SELECT doc_id, len(grams) AS n, grams,
             {S.minhash_sig_sql('grams')} AS sig
      FROM sh
    ),
    pairs AS (
      SELECT len(list_filter(range(1, 17), i -> sa.sig[i] = sb.sig[i]))
               AS n_agree,
             len(list_filter(sa.grams, g -> list_contains(sb.grams, g)))
               AS n_inter,
             sa.n AS n_a, sb.n AS n_b
      FROM cand
      JOIN sigs sa ON sa.doc_id = id_a
      JOIN sigs sb ON sb.doc_id = id_b
      WHERE least(sa.n, sb.n) >= 10
    ),
    scored AS (
      SELECT n_agree,
             n_inter::DOUBLE / least(n_a, n_b) AS exact_c,
             ((n_agree / 16.0) * (n_a + n_b))
               / ((1 + n_agree / 16.0) * least(n_a, n_b)) AS est_c
      FROM pairs
    )
    SELECT CAST(n_agree AS BIGINT) AS n_agree,
           count(*) AS n_pairs,
           CAST(SUM(CAST(round(exact_c, 9) AS DECIMAL(28,9))) AS DOUBLE)
             AS sum_exact_containment,
           CAST(SUM(CAST(round(est_c, 9) AS DECIMAL(28,9))) AS DOUBLE)
             AS sum_est_containment
    FROM scored GROUP BY n_agree
    """,
)
def containment_sketch_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy CALIBRATION for the containment family (round 7) —
    the dedup-side twin of ann_recall_report's measured-recall stance:
    containment is estimable from a MinHash signature alone via
    C_est = J_est·(|A|+|B|) / ((1+J_est)·min(|A|,|B|)) (solve Broder's
    J = I/(a+b−I) for I, divide by min — the sketch-union trick public
    since Broder '97), so at 100 TB the 0.8-containment gate can run on
    16-slot signatures WITHOUT materializing gram sets per pair. This
    query measures how well: every df-capped candidate pair is bucketed
    by its signature agreement count (0..16) and the per-bucket sums of
    exact vs estimated containment land side by side — the calibration
    curve an operator consults before trusting the sketch gate. Sums
    accumulate as DECIMAL(28,9) over 9-dp-rounded terms, so the
    aggregate is order-independent and value-hash exact; the estimator
    and the exact verify share one candidate generation and one pinned
    shingle relation.

    At 100 TB: signatures are 16 longs per doc (the minhash_signatures
    projection); agreement counting touches no gram sets, and since
    round 10 neither does the exact column — the intersection is
    counted on the blocking join (_capped_pair_profile), so the pair
    verify ships only (n, sig, hot) per side."""
    corpus = _corpus(spark, sf_dir)
    sh = corpus.select(
        "doc_id", S.shingles("text", 4).alias("grams")
    ).withColumn("n", F.size("grams"))
    joined = _capped_pair_profile(
        sh,
        {"sig": S.minhash_signature(F.col("grams"), num_hashes=16)},
    ).filter(F.least("n_a", "n_b") >= 10)
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda z: z
        )
    )
    inter = F.col("inter")
    mn = F.least("n_a", "n_b")
    exact_c = inter.cast("double") / mn
    est_j = agree / F.lit(16.0)
    est_c = (est_j * (F.col("n_a") + F.col("n_b"))) / ((F.lit(1) + est_j) * mn)
    scored = joined.select(
        agree.cast("bigint").alias("n_agree"),
        exact_c.alias("exact_c"),
        est_c.alias("est_c"),
    )
    return scored.groupBy("n_agree").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.round("exact_c", 9).cast("decimal(28,9)"))
        .cast("double")
        .alias("sum_exact_containment"),
        F.sum(F.round("est_c", 9).cast("decimal(28,9)"))
        .cast("double")
        .alias("sum_est_containment"),
    )


@query(
    "minhash_jaccard_calibration",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),{_candidate_pairs_sql("corpus", 4)},
    sigs AS MATERIALIZED (
      SELECT doc_id, len(grams) AS n, grams,
             {S.minhash_sig_sql('grams')} AS sig
      FROM sh
    ),
    pairs AS (
      SELECT len(list_filter(range(1, 17), i -> sa.sig[i] = sb.sig[i]))
               AS n_agree,
             len(list_filter(sa.grams, g -> list_contains(sb.grams, g)))
               AS n_inter,
             sa.n AS n_a, sb.n AS n_b
      FROM cand
      JOIN sigs sa ON sa.doc_id = id_a
      JOIN sigs sb ON sb.doc_id = id_b
      WHERE least(sa.n, sb.n) >= 10
    ),
    scored AS (
      SELECT n_agree,
             n_inter::DOUBLE / (n_a + n_b - n_inter) AS exact_j
      FROM pairs
    )
    SELECT CAST(n_agree AS BIGINT) AS n_agree,
           count(*) AS n_pairs,
           CAST(SUM(CAST(round(exact_j, 9) AS DECIMAL(28,9))) AS DOUBLE)
             AS sum_exact_jaccard,
           CAST(count(*) * (n_agree / 16.0) AS DOUBLE) AS sum_est_jaccard
    FROM scored GROUP BY n_agree
    """,
)
def minhash_jaccard_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash→JACCARD calibration (round 8) — the symmetric twin of
    containment_sketch_calibration, measuring the estimator everything
    in the LSH family is built on: per df-capped candidate pair, bucket
    by signature agreement (0..16, J_est = k/16 — exactly-representable
    dyadic, so sum_est = n_pairs·k/16 is bit-exact in both engines)
    against the exact n-gram Jaccard. The per-bucket curve is what sets
    the banding threshold: an operator picks the agreement count whose
    measured exact-Jaccard mass clears the dedup bar, instead of
    trusting the E[agree]/16 theory on their corpus's shingle
    distribution. Shares one candidate generation and one pinned
    shingle relation with the containment twin; exact sums use the
    round(·,9)→DECIMAL(28,9) discipline.

    At 100 TB: signature agreement touches 16 longs per doc, and since
    round 10 the exact column reads no gram sets either — the
    intersection is counted on the blocking join (_capped_pair_profile)
    — the production shape is this query on a sample, then the
    sketch-only gate corpus-wide."""
    corpus = _corpus(spark, sf_dir)
    sh = corpus.select(
        "doc_id", S.shingles("text", 4).alias("grams")
    ).withColumn("n", F.size("grams"))
    joined = _capped_pair_profile(
        sh,
        {"sig": S.minhash_signature(F.col("grams"), num_hashes=16)},
    ).filter(F.least("n_a", "n_b") >= 10)
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda z: z
        )
    )
    inter = F.col("inter")
    exact_j = inter.cast("double") / (
        F.col("n_a") + F.col("n_b") - inter
    ).cast("double")
    scored = joined.select(
        agree.cast("bigint").alias("n_agree"), exact_j.alias("exact_j")
    )
    return scored.groupBy("n_agree").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.round("exact_j", 9).cast("decimal(28,9)"))
        .cast("double")
        .alias("sum_exact_jaccard"),
        (F.count(F.lit(1)) * (F.col("n_agree") / F.lit(16.0)))
        .cast("double")
        .alias("sum_est_jaccard"),
    )


@query(
    "source_contamination_matrix",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),{_jaccard_pairs_sql("corpus")},
    src AS (
      SELECT doc_id, source FROM documents
      UNION ALL SELECT doc_id + 1000000, source FROM documents
                WHERE doc_id % 20 = 0
      UNION ALL SELECT doc_id + 2000000, source FROM documents
                WHERE doc_id % 10 = 0
    ),
    labeled AS (
      SELECT least(sa.source, sb.source) AS source_a,
             greatest(sa.source, sb.source) AS source_b
      FROM jacc_pairs p
      JOIN src sa ON sa.doc_id = p.id_a
      JOIN src sb ON sb.doc_id = p.id_b
    )
    SELECT source_a, source_b, count(*) AS n_pairs
    FROM labeled GROUP BY source_a, source_b
    """,
)
def source_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination MATRIX (round 7) — the governance
    question behind every near-dup pass: which sources duplicate WHICH
    (mirror sites, syndication, scraper overlap decide crawl priorities
    and licensing exposure)? Every exact-Jaccard near-dup pair (the
    registered near_dup_pairs_jaccard blocking + verify, composed
    unchanged) is labeled with both docs' sources, orientation
    normalized (least/greatest) so the matrix is upper-triangular, and
    counted per source pair. The injected corpus variants inherit their
    base doc's source, so the diagonal (within-source duplication)
    dominates on the fixture — exactly the mirror-site signature the
    report exists to expose.

    At 100 TB: the (doc_id, source) relation is a narrow second scan
    joined onto the pair relation (pairs are bounded by the df-capped
    blocking); the matrix itself is |sources|² rows at most. One extra
    equi-join per pair side over the already-audited near-dup plan."""
    corpus_src = _corpus_sources(spark, sf_dir)
    corpus = _corpus(spark, sf_dir)
    sh = corpus.select(
        "doc_id", S.shingles("text", 3).alias("grams")
    ).withColumn("n", F.size("grams"))
    pairs = _jaccard_pairs_capped(sh).select("id_a", "id_b")
    sa = corpus_src.select(
        F.col("doc_id").alias("id_a"), F.col("source").alias("src_a")
    )
    sb = corpus_src.select(
        F.col("doc_id").alias("id_b"), F.col("source").alias("src_b")
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def _corpus_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source) for the dup-injected corpus: variants inherit
    their base document's source (same id-offset rules as _corpus)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    exact = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "source"
    )
    near = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "source"
    )
    # pinned: both pair sides consume it — unpinned, the 3 pruned scans
    # re-derive per side (6 scans; scan-discipline rule)
    return docs.unionByName(exact).unionByName(near).localCheckpoint(
        eager=False
    )


def _pagerank_stage_sql(i: int) -> str:
    """One unrolled scaled-integer PageRank round over `edges`/`deg`:
    contribution = floor(rank/outdeg) summed exactly, damping in integer
    arithmetic (all BIGINT — order-independent, so cross-engine exact)."""
    return f"""
    r{i} AS (
      SELECT d.node,
             (SELECT base FROM params)
               + (85 * COALESCE(SUM(r.rank // d2.outdeg), 0)) // 100 AS rank
      FROM deg d
      LEFT JOIN edges e ON e.dst = d.node
      LEFT JOIN r{i - 1} r ON r.node = e.src
      LEFT JOIN deg d2 ON d2.node = e.src
      GROUP BY d.node
    )"""


@query(
    "pagerank_near_dup",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),{_jaccard_pairs_sql("corpus")},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM jacc_pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM jacc_pairs
    ),
    deg AS (SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY src),
    params AS (
      SELECT count(*) AS n,
             1000000000000000 // count(*) AS r_init,
             (15 * 1000000000000000) // (100 * count(*)) AS base
      FROM deg
    ),
    r0 AS (SELECT node, (SELECT r_init FROM params) AS rank FROM deg),
    {_pagerank_stage_sql(1)},{_pagerank_stage_sql(2)},{_pagerank_stage_sql(3)}
    SELECT node AS doc_id, CAST(rank AS BIGINT) AS rank_scaled,
           CAST(row_number() OVER (ORDER BY rank DESC, node) AS BIGINT) AS rk
    FROM r3
    QUALIFY rk <= 10
    """,
)
def pagerank_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-dup similarity graph, three damped rounds in
    SCALED-INTEGER arithmetic (round 5) — the canonical-representative
    centrality signal: in a near-dup cluster, the highest-PageRank member
    is the one most connected to the rest, a principled pick for the
    canonical copy (vs dedup_exact's min-id convention). Iterative float
    PageRank cannot be value-hash-oracled (per-node sums are
    order-dependent); this one stores rank as a BIGINT numerator at
    scale 10^15, computes contributions as floor(rank/outdeg), sums them
    exactly (integer addition commutes), and applies 0.85 damping as
    (85*sum)//100 — every round bit-identical across engines, same trick
    family as the exact-decimal aggregates. Undirected edges from the
    df-capped Jaccard pair stage (every node has outdeg >= 1, so no
    dangling-mass redistribution is needed).

    Scale shape: rank state is (node, int64) — 16 bytes/node; each round
    is one equi-join of edges against ranks plus a sum aggregate (the
    classic distributed PageRank shape); edge/degree relations and
    per-round ranks are pinned (consumed by the next round's two
    branches). 3 rounds unrolled; production would loop with a
    convergence check on the exact integer deltas."""
    edges, deg, params = _near_dup_graph(spark, sf_dir)
    ranks = deg.crossJoin(F.broadcast(params)).select(
        "node", F.col("r_init").alias("rank")
    )
    for _ in range(3):
        ranks = _pagerank_step(edges, deg, params, ranks)
    return _pagerank_top10(ranks)


def _near_dup_graph(spark: SparkSession, sf_dir: str):
    """Shared state for the PageRank family: undirected edges from the
    df-capped Jaccard pair stage, out-degrees, and the scaled-integer
    params relation — all pinned (each is consumed by every round)."""
    corpus = _corpus(spark, sf_dir)
    sh = corpus.select(
        "doc_id", S.shingles("text", 3).alias("grams")
    ).withColumn("n", F.size("grams"))
    pairs = _jaccard_pairs_capped(sh).select("id_a", "id_b")
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("outdeg"))
        .localCheckpoint(eager=False)
    )
    scale = 10**15
    params = deg.agg(
        F.count(F.lit(1)).alias("n"),
        (F.lit(scale) / F.count(F.lit(1))).cast("long").alias("r_init"),
        (F.lit(15 * scale) / (F.lit(100) * F.count(F.lit(1))))
        .cast("long")
        .alias("base"),
    )
    return edges, deg, params.localCheckpoint(eager=False)


def _pagerank_step(edges, deg, params, ranks):
    """One damped scaled-integer PageRank round: contribution =
    floor(rank/outdeg) summed exactly; integer division via DIV (Spark's
    `/` on longs is double division)."""
    contribs = (
        edges.join(ranks, edges["src"] == ranks["node"])
        .join(
            deg.select(F.col("node").alias("dn"), "outdeg"),
            F.col("src") == F.col("dn"),
        )
        .select("dst", F.expr("rank DIV outdeg").alias("contrib"))
    )
    summed = contribs.groupBy("dst").agg(F.sum("contrib").alias("insum"))
    return (
        deg.select("node")
        .join(summed, F.col("node") == F.col("dst"), "left")
        .crossJoin(F.broadcast(params))
        .select(
            "node",
            (
                F.col("base") + F.expr("85 * coalesce(insum, 0L) DIV 100")
            ).alias("rank"),
        )
        .localCheckpoint(eager=False)
    )


def _pagerank_top10(ranks, extra_cols: list | None = None):
    """Top-10 via orderBy+limit (TakeOrderedAndProject's bounded per-task
    heap + driver merge), NOT an unpartitioned row_number window — the
    window form plans a single-partition sort over the whole O(nodes)
    rank relation, which grows with the corpus. The rank index is
    derived AFTER the limit: a window over 10 rows is free."""
    top = ranks.orderBy(F.col("rank").desc(), F.col("node")).limit(10)
    w = W.orderBy(F.col("rank").desc(), F.col("node"))
    return top.select(
        F.col("node").alias("doc_id"),
        F.col("rank").cast("long").alias("rank_scaled"),
        F.row_number().over(w).cast("long").alias("rk"),
        *(extra_cols or []),
    )


_PAGERANK_MAX_ROUNDS = 60


@query(
    "pagerank_converged",
    oracle=f"""
    WITH RECURSIVE corpus AS ({_CORPUS_SQL}),{_jaccard_pairs_sql("corpus")},
    edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM jacc_pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM jacc_pairs
    ),
    deg AS MATERIALIZED (
      SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY src
    ),
    params AS (
      SELECT count(*) AS n,
             1000000000000000 // count(*) AS r_init,
             (15 * 1000000000000000) // (100 * count(*)) AS base
      FROM deg
    ),
    pr AS (
      SELECT 0 AS iter, node, (SELECT r_init FROM params) AS rank FROM deg
      UNION ALL
      SELECT iter, node, rank FROM (
        SELECT (SELECT max(p.iter) FROM pr p) + 1 AS iter,
               d.node AS node,
               (SELECT base FROM params)
                 + (85 * COALESCE(SUM(r.rank // d2.outdeg), 0)) // 100 AS rank,
               MIN(pp.rank) AS prev_rank
        FROM deg d
        JOIN pr pp ON pp.node = d.node
        LEFT JOIN edges e ON e.dst = d.node
        LEFT JOIN pr r ON r.node = e.src
        LEFT JOIN deg d2 ON d2.node = e.src
        GROUP BY d.node
      ) g
      WHERE iter <= 60
      QUALIFY SUM(ABS(g.rank - g.prev_rank)) OVER () >= (SELECT n FROM params)
    )
    SELECT node AS doc_id, CAST(rank AS BIGINT) AS rank_scaled,
           CAST(row_number() OVER (ORDER BY rank DESC, node) AS BIGINT) AS rk,
           CAST((SELECT max(iter) FROM pr) AS BIGINT) AS n_rounds
    FROM pr WHERE iter = (SELECT max(iter) FROM pr)
    QUALIFY rk <= 10
    """,
)
def pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-dup graph iterated TO CONVERGENCE (round
    6) — the production loop shape the fixed-round twin's docstring
    promises: each round applies the same bit-exact scaled-integer step
    as `pagerank_near_dup`, then an IN-PLAN 1-row aggregate computes the
    exact integer L1 delta vs the previous round; the loop adopts the
    new ranks while delta >= n_nodes (average per-node drift >= 1 unit
    at scale 10^15) and stops at the first round below it, bounded by
    {_PAGERANK_MAX_ROUNDS} rounds (RuntimeError past the bound — silent
    non-convergence is not an answer). Exact zero is NOT the stop rule
    on purpose: truncated integer dynamics can enter +-1 limit cycles
    (observed at sf0.1: a persistent delta of 4 across 1659 nodes), so
    the threshold is the smallest principled bound that terminates.

    The oracle runs the SAME rule in one recursive CTE — generation g+1
    is emitted only while its L1 delta vs generation g stays >= n — so
    both engines stop at the identical round and the value hash covers
    the converged ranks AND the round count (n_rounds column).

    Scale shape: identical per-round plan to the fixed twin ((node,
    int64) state, one edge equi-join + sum per round, every round's
    ranks pinned via lazy localCheckpoint so lineage stays flat); the
    only driver traffic is the 1-row delta scalar per round — loop
    CONTROL, not data movement (the same discipline as the CC
    operator's convergence loop, functions/graph.py)."""
    edges, deg, params = _near_dup_graph(spark, sf_dir)
    p = params.collect()[0]  # 1-row control values: n / r_init / base
    thr = p["n"]
    ranks = (
        deg.crossJoin(F.broadcast(params))
        .select("node", F.col("r_init").alias("rank"))
        .localCheckpoint(eager=False)
    )
    n_rounds = 0
    for _ in range(_PAGERANK_MAX_ROUNDS):
        new = _pagerank_step(edges, deg, params, ranks)
        delta = (
            ranks.select("node", F.col("rank").alias("prev_rank"))
            .join(new, "node")
            .agg(F.sum(F.abs(F.col("rank") - F.col("prev_rank"))).alias("d"))
            .collect()[0]["d"]
        )
        if delta < thr:
            break
        ranks = new
        n_rounds += 1
    else:
        raise RuntimeError(
            f"PageRank failed to converge in {_PAGERANK_MAX_ROUNDS} rounds"
        )
    return _pagerank_top10(
        ranks, [F.lit(n_rounds).cast("long").alias("n_rounds")]
    )


@query(
    "minhash_lsh_near_dups",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    tok AS (
      SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
      FROM corpus
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - 1, 1)),
               i -> array_to_string(array_slice(toks, i, i + 2), ' ')
             )) AS grams
      FROM tok
    ),
    sig AS (
      SELECT doc_id,
             {S.minhash_sig_sql('grams')} AS sigs
      FROM sh
    ),
    banded AS (
      SELECT doc_id,
             unnest(range(0, 4)) AS band,
             unnest(list_transform(range(0, 4), b ->
               ('0x' || substr(md5(b::VARCHAR || '|' ||
                  array_to_string(list_transform(
                    array_slice(sigs, b * 4 + 1, b * 4 + 4),
                    v -> v::VARCHAR), ',')), 1, 15))::BIGINT
             )) AS bucket
      FROM sig
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           len(list_filter(sa.grams, g -> list_contains(sb.grams, g)))::DOUBLE
             / greatest(len(list_distinct(sa.grams || sb.grams)), 1)::DOUBLE AS jacc
    FROM pairs
    JOIN sh sa ON sa.doc_id = id_a
    JOIN sh sb ON sb.doc_id = id_b
    WHERE len(list_filter(sa.grams, g -> list_contains(sb.grams, g)))::DOUBLE
            / greatest(len(list_distinct(sa.grams || sb.grams)), 1)::DOUBLE >= 0.5
    """,
)
def minhash_lsh_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end MinHash+LSH near-dedup: signature (16 hashes) → banding
    (4 bands × 4 rows) → candidate pairs via an id-only band-bucket
    equi-join → exact Jaccard verification ≥ 0.5 against the pinned gram
    relation. Full SQL value-hash oracle (left); recall vs the exact
    pipeline is additionally unit-tested at sf0.001
    (tests/test_dedup_similarity.py).

    Scale shape (the 100 TB contract): the band explode and the
    band-bucket self-join carry ONLY (doc_id, band, bucket) — ~24-byte
    rows — so the shuffle volume of the candidate stage is independent
    of document size. Gram arrays are materialized once (localCheckpoint)
    and hash-joined back exactly once per pair side after the id-level
    dropDuplicates, so each surviving candidate moves each gram array
    once, not (band fan-out × candidate multiplicity) times as the
    pre-round-10 plan did."""
    corpus = _corpus(spark, sf_dir)
    # Pin the gram relation: the signature path and both verify-join
    # sides reuse it; unpinned, Spark re-shingles the corpus per use
    # (3 corpus scans on the executed plan).
    sh = corpus.select(
        "doc_id", S.shingles("text", 3).alias("grams")
    ).localCheckpoint(eager=False)
    sig = sh.select(
        "doc_id", S.minhash_signature(F.col("grams"), 16).alias("sig")
    )
    # Pin the banded relation too (round 10): both sides of the
    # band-bucket self-join otherwise re-evaluate the ENTIRE signature
    # subtree (md5 base hash per gram + 16 affine slots — the plan shows
    # the Scan→sig→Generate chain once per side), doubling the pipeline's
    # dominant compute. The pinned rows are just (doc_id, band, bucket)
    # — ~24 bytes x 4 bands/doc — so materializing them costs far less
    # than one signature pass, at any scale.
    banded = (
        sig.select(
            "doc_id",
            F.explode(
                S.band_keys(F.col("sig"), bands=4, rows_per_band=4)
            ).alias("bk"),
        )
        .select(
            "doc_id",
            F.col("bk.band").alias("band"),
            F.col("bk.bucket").alias("bucket"),
        )
        .localCheckpoint(eager=False)
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    verified = cand.join(
        sh.select(F.col("doc_id").alias("id_a"), F.col("grams").alias("g_a")),
        "id_a",
    ).join(
        sh.select(F.col("doc_id").alias("id_b"), F.col("grams").alias("g_b")),
        "id_b",
    )
    return (
        verified.withColumn("jacc", S.jaccard(F.col("g_a"), F.col("g_b")))
        .filter(F.col("jacc") >= 0.5)
        .select("id_a", "id_b", "jacc")
    )


# SimHash bit-majority recomputed relationally (the DuckDB twin of
# functions/similarity.py simhash64_udf): per-token 64-bit md5 hash,
# per-bit ±1 majority vote, signed fold (bit 63 = sign).
_SIMHASH_SQL = """
    tok AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS t
      FROM corpus
    ),
    hashed AS (
      SELECT doc_id, ('0x' || substr(md5(t), 1, 16))::UBIGINT AS h FROM tok
    ),
    bits AS (
      SELECT doc_id, b,
             SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS c
      FROM hashed CROSS JOIN (SELECT unnest(range(0, 64)) AS b) bs
      GROUP BY doc_id, b
    ),
    sig AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN c > 0 AND b < 63 THEN (1::BIGINT << b) ELSE 0 END)
                  + CASE WHEN max(CASE WHEN b = 63 AND c > 0 THEN 1 ELSE 0 END) = 1
                         THEN -9223372036854775807 - 1 ELSE 0 END AS BIGINT)
               AS simhash,
             CAST(SUM(CASE WHEN c > 0 AND b >= 48 THEN (1::BIGINT << (b - 48)) ELSE 0 END)
                  AS BIGINT) AS bucket16
      FROM bits GROUP BY doc_id
    )"""


@query(
    "simhash_fingerprints",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),{_SIMHASH_SQL}
    SELECT c.doc_id,
           coalesce(s.simhash, 0) AS simhash,
           coalesce(s.bucket16, 0) AS bucket16
    FROM corpus c LEFT JOIN sig s ON s.doc_id = c.doc_id
    """,
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 per document (vectorized Pandas UDF over token arrays —
    the documented Python path; md5-derived token hashes, majority-vote
    bits). Near-dup = small Hamming distance; collision buckets on the
    top-16 bits emitted for inspection. The DuckDB oracle recomputes the
    fingerprint relationally (same md5 hash family, per-bit ±1 votes,
    signed fold), so the Arrow-batched Python path is exact-hash-checked
    bit for bit — upgraded from rows-only in round 2."""
    corpus = _corpus(spark, sf_dir)
    simhash = S.simhash64_udf()
    return corpus.select(
        "doc_id",
        simhash(T.tokens("text")).alias("simhash"),
        F.shiftrightunsigned(simhash(T.tokens("text")), 48).alias("bucket16"),
    )


@query(
    "near_dup_clusters",
    oracle=f"""
    WITH RECURSIVE corpus AS ({_CORPUS_SQL}),{_jaccard_pairs_sql("corpus")},
    pairs AS (SELECT id_a, id_b FROM jacc_pairs),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b AS a, id_a AS b FROM pairs
    ),
    reach AS (
      SELECT a AS node, b AS r FROM edges
      UNION
      SELECT reach.node, edges.b FROM reach JOIN edges ON reach.r = edges.a
    ),
    comp AS (
      SELECT node, least(node, min(r)) AS component FROM reach GROUP BY node
    )
    SELECT c.doc_id, coalesce(comp.component, c.doc_id) AS cluster_id
    FROM corpus c LEFT JOIN comp ON comp.node = c.doc_id
    """,
)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS: connected components over the Jaccard pair graph
    (functions/graph.py min-label propagation) — the step that turns
    candidate pairs into dedup clusters, keeping one representative per
    component (the minimum doc_id, a deterministic canonical choice).
    SQL-oracled: the component labeling is algorithm-independent (min
    reachable id), so DuckDB verifies it with a recursive-CTE transitive
    closure over the same Jaccard-thresholded pair graph — both sides now
    build that graph with the identical df-capped blocking
    (_jaccard_pairs_sql / _jaccard_pairs_capped), so a gram exceeding
    SHINGLE_DF_CAP can never make engine and oracle diverge. Singleton
    docs are their own cluster. The component algorithm is additionally
    unit-tested on known graphs (tests/test_dedup_similarity.py)."""
    from dataflowjavasdk_spark.functions.graph import connected_components

    pairs = near_dup_pairs_jaccard(spark, sf_dir).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    comp = connected_components(pairs, "src", "dst")
    docs = _corpus(spark, sf_dir).select("doc_id")
    return docs.join(comp, docs.doc_id == comp.node, "left").select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_id"),
    )


@query(
    "training_data_pipeline",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    toks AS (
      SELECT doc_id, text,
             len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tok
      FROM corpus
    ),
    quality AS (SELECT * FROM toks WHERE n_tok >= 10),
    exact AS (
      SELECT doc_id, text, n_tok,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
      FROM quality
    ),
    kept AS (SELECT doc_id, text, n_tok FROM exact WHERE rk = 1),{_jaccard_pairs_sql("kept")},
    dropped AS (SELECT DISTINCT id_b AS doc_id FROM jacc_pairs),
    final AS (
      SELECT k.* FROM kept k
      WHERE NOT EXISTS (SELECT 1 FROM dropped d WHERE d.doc_id = k.doc_id)
    )
    SELECT dd.source,
           count(*) AS n_docs,
           CAST(SUM(f.n_tok) AS BIGINT) AS total_tokens
    FROM final f JOIN documents dd ON dd.doc_id = f.doc_id % 1000000
    GROUP BY dd.source
    """,
)
def training_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END curation pipeline — the composed flagship of the
    training-data operators, one oracle-checked plan:

      corpus (dup-injected) → quality filter (≥10 tokens)
      → exact dedup (md5 content address, keep min doc_id)
      → near-dup drop (3-gram Jaccard ≥ 0.5 via df-capped blocking +
        exact verify — see _jaccard_pairs_capped; greedy keep-lower-id)
      → per-source kept-doc and token counts.

    Every stage is the scale-shaped form: per-row expressions for
    fingerprints, one equi-join per blocking key, anti-join for the drop
    set, and a plain equi-join for per-document metadata — NOT broadcast:
    ``meta`` is a projection of the documents table itself, so its
    cardinality grows with the corpus (forcing a broadcast of it was the
    round-2 100 TB scale bug; AQE may still choose broadcast at toy
    scale, which is fine because that choice is stats-driven). This is
    the query a user of the reference's pipeline model would run daily at
    100 TB."""
    corpus = _corpus(spark, sf_dir)
    toks = corpus.withColumn("n_tok", F.size(T.tokens("text")))
    quality = toks.filter(F.col("n_tok") >= 10)
    w = W.partitionBy(F.md5("text")).orderBy("doc_id")
    kept = (
        quality.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .drop("rk")
        # Materialize the deduped corpus once: it feeds the shingle stage
        # AND the final anti-join; without the pin Spark recomputes the
        # corpus -> quality -> window chain for every reference (the
        # executed plan re-scanned documents 22x). This is the stage
        # boundary a production pipeline would write to parquet anyway.
        .localCheckpoint(eager=False)
    )
    sh = kept.select("doc_id", S.shingles("text", 3).alias("grams")).withColumn(
        "n", F.size("grams")
    )
    dropped = (
        _jaccard_pairs_capped(sh)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    final = kept.join(dropped, "doc_id", "left_anti")
    meta = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("orig_id"), "source"
    )
    return (
        final.withColumn("orig_id", F.col("doc_id") % 1_000_000)
        .join(meta, "orig_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
        )
    )


@query(
    "simhash_near_dup_pairs",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),{_SIMHASH_SQL},
    sigbits AS (SELECT doc_id, b, CASE WHEN c > 0 THEN 1 ELSE 0 END AS bit FROM bits),
    chunks AS (
      SELECT doc_id, CAST(b // 16 AS INT) AS ci,
             CAST(SUM(bit * (1::BIGINT << (b % 16))) AS BIGINT) AS cv
      FROM sigbits GROUP BY doc_id, (b // 16)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM chunks a JOIN chunks b
        ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id
    ),
    ham AS (
      SELECT cand.id_a, cand.id_b,
             SUM(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END) AS hamming
      FROM cand
      JOIN sigbits ba ON ba.doc_id = cand.id_a
      JOIN sigbits bb ON bb.doc_id = cand.id_b AND bb.b = ba.b
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
    FROM ham WHERE hamming <= 3
    """,
)
def simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS — the consumer of simhash_fingerprints:
    pairs with Hamming distance ≤ 3 over the 64-bit fingerprints.
    Blocking by pigeonhole: split 64 bits into 4 chunks of 16; any pair
    within distance 3 agrees exactly on ≥ 1 chunk, so candidates come
    from an equi-join on (chunk_idx, chunk_value) — never all-pairs —
    then bit_count(a XOR b) verifies exactly. Same shuffle shape as the
    MinHash band join; at 100 TB the join keys are 4 rows × 4 bytes per
    doc. The DuckDB oracle recomputes fingerprints relationally (see
    simhash_fingerprints), blocks on the same pigeonhole chunks, and
    verifies Hamming by per-bit comparison — exact-hash-checked,
    upgraded from rows-only in round 2."""
    corpus = _corpus(spark, sf_dir)
    simhash = S.simhash64_udf()
    # Pin the fingerprints: the pigeonhole self-join references them from
    # both sides, and unpinned Spark would run the vectorized simhash UDF
    # over the corpus twice (6 scans on the executed plan). 16 bytes/doc.
    fp = corpus.select("doc_id", simhash(T.tokens("text")).alias("sh")).localCheckpoint(
        eager=False
    )
    chunked = fp.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        F.shiftrightunsigned(F.col("sh"), i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk_val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "sh", F.col("c.chunk_idx").alias("ci"), F.col("c.chunk_val").alias("cv"))
    a, b = chunked.alias("a"), chunked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn(
            "hamming", S.hamming64(F.col("sh_a"), F.col("sh_b"))
        )
        .filter(F.col("hamming") <= 3)
        .select("id_a", "id_b", "hamming")
    )


@query(
    "leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE corpus AS ({_CORPUS_SQL}),{_jaccard_pairs_sql("corpus")},
    pairs AS (SELECT id_a, id_b FROM jacc_pairs),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b AS a, id_a AS b FROM pairs
    ),
    reach AS (
      SELECT a AS node, b AS r FROM edges
      UNION
      SELECT reach.node, edges.b FROM reach JOIN edges ON reach.r = edges.a
    ),
    comp AS (
      SELECT node, least(node, min(r)) AS component FROM reach GROUP BY node
    ),
    clusters AS (
      SELECT c.doc_id, coalesce(comp.component, c.doc_id) AS cluster_id
      FROM corpus c LEFT JOIN comp ON comp.node = c.doc_id
    )
    SELECT CASE WHEN ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15))::BIGINT
                     % 10 < 9
                THEN 'train' ELSE 'eval' END AS split,
           count(*) AS n_docs,
           count(DISTINCT cluster_id) AS n_clusters
    FROM clusters GROUP BY 1
    """,
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/eval split: the unit of assignment is the
    NEAR-DUP CLUSTER, not the document — a deterministic md5 hash of the
    cluster representative sends ~90% of clusters to train and the rest
    to eval, so a near-duplicate of a training document can never land in
    the eval set (the eval-contamination failure mode of naive per-doc
    hashing; tests/test_dedup_similarity.py asserts zero cross-split
    Jaccard pairs). Composes near_dup_clusters' component labeling with
    the stratified-mix hash-threshold idiom.

    100 TB shape: inherits the cluster pipeline's blocking (df-capped
    shingle equi-join, min-label propagation); the split itself is a pure
    expression on the (doc_id, cluster_id) relation plus one groupBy on
    the 'split' key — no new shuffles of document payloads."""
    clusters = near_dup_clusters(spark, sf_dir)
    split = F.when(
        T.md5_long(F.col("cluster_id").cast("string")) % 10 < 9, "train"
    ).otherwise("eval")
    return (
        clusters.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
        )
    )


@query(
    "cluster_representative_dedup",
    oracle=f"""
    WITH RECURSIVE corpus AS ({_CORPUS_SQL}),{_jaccard_pairs_sql("corpus")},
    pairs AS (SELECT id_a, id_b FROM jacc_pairs),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b AS a, id_a AS b FROM pairs
    ),
    reach AS (
      SELECT a AS node, b AS r FROM edges
      UNION
      SELECT reach.node, edges.b FROM reach JOIN edges ON reach.r = edges.a
    ),
    comp AS (
      SELECT node, least(node, min(r)) AS component FROM reach GROUP BY node
    ),
    labeled AS (
      SELECT c.doc_id, coalesce(comp.component, c.doc_id) AS cluster_id,
             length(c.text) AS len
      FROM corpus c LEFT JOIN comp ON comp.node = c.doc_id
    ),
    ranked AS (
      SELECT cluster_id, doc_id, len,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY len DESC, doc_id) AS rk,
             count(*) OVER (PARTITION BY cluster_id) AS cluster_size
      FROM labeled
    )
    SELECT cluster_id,
           CAST(cluster_size AS BIGINT) AS cluster_size,
           doc_id AS rep_doc_id,
           CAST(len AS INT) AS rep_len
    FROM ranked WHERE rk = 1 AND cluster_size >= 2
    """,
)
def cluster_representative_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware representative selection — the KEEP-ONE policy that
    completes the fuzzy-dedup story (candidates -> verified pairs ->
    clusters -> which copy survives): per near-dup cluster the surviving
    document is the argmax-by-length one (tiebreak: min doc_id), NOT the
    min-id canonical near_dup_clusters defaults to. On the dup-injected
    corpus this is observable policy: a {{original, truncated-variant}}
    cluster keeps the fuller original, while exact-copy clusters fall to
    the id tiebreak — production pipelines keep the longest / least
    mangled variant, not an arbitrary one (Lee et al. 2021 keep-one
    convention). Output is the multi-doc clusters only (the injected
    dups), each with its size and surviving (id, length).

    Shape: one argmax aggregate — max(struct(len, -doc_id)) per cluster
    gives the representative with no second window pass; the struct
    ordering encodes the (len desc, doc_id asc) policy exactly, and
    cluster sizes ride the same aggregate. At 100 TB this adds ONE
    cluster-keyed shuffle of (cluster_id, len, doc_id) triples on top of
    the clustering pipeline — document text never moves."""
    clusters = near_dup_clusters(spark, sf_dir)
    lens = _corpus(spark, sf_dir).select(
        "doc_id", F.length("text").alias("len")
    )
    labeled = clusters.join(lens, "doc_id")
    agg = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.max(F.struct(F.col("len"), (-F.col("doc_id")).alias("neg_id"))).alias(
            "best"
        ),
    )
    return agg.filter(F.col("cluster_size") >= 2).select(
        "cluster_id",
        "cluster_size",
        (-F.col("best.neg_id")).alias("rep_doc_id"),
        F.col("best.len").cast("int").alias("rep_len"),
    )


@query(
    "prefix_filter_jaccard_pairs",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(list_filter(string_split(text,' '), t -> t <> '')) - 2, 1)),
               i -> array_to_string(
                      array_slice(list_filter(string_split(text,' '), t -> t <> ''),
                                  i, i + 3), ' ')
             )) AS grams
      FROM corpus
    ),
    exploded AS (SELECT doc_id, unnest(grams) AS gram FROM sh),
    shared AS (SELECT gram FROM exploded GROUP BY gram HAVING count(*) >= 2),
    kept AS (SELECT e.doc_id, e.gram FROM exploded e JOIN shared USING (gram)),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM kept a JOIN kept b ON a.gram = b.gram AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           len(list_filter(sa.grams, g -> list_contains(sb.grams, g)))::DOUBLE
             / greatest(len(sa.grams) + len(sb.grams)
                        - len(list_filter(sa.grams, g -> list_contains(sb.grams, g))),
                        1)::DOUBLE AS jacc
    FROM cand
    JOIN sh sa ON sa.doc_id = id_a
    JOIN sh sb ON sb.doc_id = id_b
    WHERE len(list_filter(sa.grams, g -> list_contains(sb.grams, g)))::DOUBLE
            / greatest(len(sa.grams) + len(sb.grams)
                       - len(list_filter(sa.grams, g -> list_contains(sb.grams, g))),
                       1)::DOUBLE >= 0.5
    """,
)
def prefix_filter_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact-Jaccard similarity join (round 6) — the
    AllPairs/PPJoin candidate generation (Bayardo et al., WWW'07; public
    algorithm) as the PROVABLY COMPLETE alternative to the df-capped
    blocking the rest of the near-dup family uses. Each document's
    distinct 4-gram shingles are totally ordered by ascending global
    document frequency (ties by gram); for threshold t a document with n
    grams exposes only its first ``n - ceil(t*n) + 1`` grams as blocking
    keys — by pigeonhole, two sets with Jaccard >= t MUST share a prefix
    gram, so no true pair can be lost. The length filter
    (t * max(n_a, n_b) <= min(n_a, n_b), a Jaccard necessary condition)
    prunes candidates before verification; survivors are verified with
    exact Jaccard over the FULL gram sets.

    The oracle is deliberately FILTER-FREE: DuckDB brute-forces every
    pair sharing any gram and keeps Jaccard >= 0.5 — if the prefix or
    length filter ever dropped a qualifying pair, the value hash would
    diverge. Completeness is checked, not assumed.

    At 100 TB: the exploded prefix relation is ~half the shingle
    relation, and a high-df (stopword-like) gram sorts LAST within every
    document, so it almost never lands in a prefix — the hot-key fan-out
    that forces the df cap elsewhere self-limits here. Candidate
    generation is one equi-join on prefix grams; ranking is one
    window over the exploded relation (same shuffle key as the join)."""
    threshold = 0.5
    corpus = _corpus(spark, sf_dir)
    # 4-gram shingles (vs the blocked family's 3): the prefix join has no
    # df cap, so blocking-key rarity IS the fan-out control — one token
    # longer makes the fixture's small-vocabulary grams ~an order of
    # magnitude rarer and cuts candidates accordingly (the same
    # "longer shingles = rarer blocking keys" dial _candidate_pairs_sql
    # documents). The oracle uses the identical 4-gram definition.
    sh = (
        corpus.select("doc_id", S.shingles("text", 4).alias("grams"))
        .withColumn("n", F.size("grams"))
        .localCheckpoint(eager=False)
    )
    ex = sh.select("doc_id", "n", F.explode("grams").alias("gram"))
    gram_df = ex.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    ranked = ex.join(gram_df, "gram").withColumn(
        "pos",
        F.row_number().over(W.partitionBy("doc_id").orderBy("df", "gram")),
    )
    # Pin the prefix relation (round 10): both self-join sides consume
    # it, and unpinned each side re-runs the explode + document-frequency
    # aggregate + ranking window over the whole gram relation (the
    # broadcast side of the self-join cannot share the other side's
    # exchange). The pinned rows are only the exposed prefix grams —
    # ~(1-t) of the shingle relation.
    prefix = (
        ranked.filter(
            F.col("pos")
            <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
        )
        .select("doc_id", "n", "gram")
        .localCheckpoint(eager=False)
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: Jaccard >= t forces t*max(n) <= min(n)
            & (
                F.lit(threshold)
                * F.greatest(F.col("a.n"), F.col("b.n"))
                <= F.least(F.col("a.n"), F.col("b.n"))
            ),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    ga = sh.select(
        F.col("doc_id").alias("id_a"),
        F.col("grams").alias("grams_a"),
        F.col("n").alias("n_a"),
    )
    gb = sh.select(
        F.col("doc_id").alias("id_b"),
        F.col("grams").alias("grams_b"),
        F.col("n").alias("n_b"),
    )
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    jacc = inter.cast("double") / F.greatest(
        F.col("n_a") + F.col("n_b") - inter, F.lit(1)
    ).cast("double")
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .select("id_a", "id_b", jacc.alias("jacc"))
        .filter(F.col("jacc") >= threshold)
    )


@query(
    "winnowing_dup_spans",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
      FROM corpus
    ),
    kg AS (
      SELECT doc_id, i - 1 AS pos,
             ('0x' || substr(md5(array_to_string(array_slice(tk, i, i + 3), ' ')),
                             1, 10))::BIGINT AS h40
      FROM (SELECT doc_id, tk,
                   unnest(range(1, greatest(len(tk) - 3, 0) + 1)) AS i
            FROM toks)
    ),
    winmin AS (
      SELECT doc_id,
             min(h40 * 1048576 + (1048575 - pos)) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
      FROM kg
    ),
    fps AS (SELECT DISTINCT doc_id, fp FROM winmin),
    multi AS (
      SELECT fp // 1048576 AS h40
      FROM fps GROUP BY fp // 1048576
      HAVING count(DISTINCT doc_id) >= 2
    ),
    per_doc AS (
      SELECT doc_id,
             count(*) AS n_fp,
             count(*) FILTER (WHERE (fp // 1048576) IN (SELECT h40 FROM multi))
               AS n_shared
      FROM fps GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_fp AS BIGINT) AS n_fp,
           CAST(n_shared AS BIGINT) AS n_shared,
           CAST((100 * n_shared) // n_fp AS BIGINT) AS share_pct
    FROM per_doc WHERE n_shared > 0
    """,
)
def winnowing_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint dedup (round 6) — SUBSTRING-level duplicate
    detection (Schleimer et al., SIGMOD'03, the MOSS algorithm; public),
    the missing granularity between doc-level fingerprints and
    chunk-level CCNet dedup: per document, token 4-grams get 40-bit
    md5-derived rolling hashes; each window of 4 consecutive hashes
    selects its minimum (ties to the RIGHTMOST position — encoded
    arithmetically as ``h40 * 2^20 + (2^20-1-pos)`` so one integer MIN
    per window implements hash-then-rightmost without struct
    comparisons, cross-engine exact; positions are bounded < 2^20
    k-grams per document, documented). The winnowing guarantee: any
    verbatim shared span of >= w+k-1 = 7 tokens is caught by at least
    one shared fingerprint. Dense variant: leading partial windows also
    select (deterministic in both engines). Per doc we report
    fingerprint counts, how many are shared with ANY other document,
    and the integer share percentage — the duplicated-span coverage
    signal substring-level dedup gates on (Lee et al. 2022's
    motivation, made mergeable).

    Scale shape: hashing is row-local expression work; window mins ride
    ONE exchange keyed by doc_id; the shared-hash relation is an
    equi-self-join on the 40-bit key (bounded fan-out per hash like
    every fingerprint family here). Payload text never shuffles — only
    8-byte keys."""
    corpus = _corpus(spark, sf_dir)
    tk = T.tokens("text")
    kg = (
        corpus.select("doc_id", F.posexplode(S.kgrams_with_dups(tk, 4)).alias("pos", "gram"))
        .select(
            "doc_id",
            "pos",
            F.conv(F.substring(F.md5("gram"), 1, 10), 16, 10)
            .cast("long")
            .alias("h40"),
        )
    )
    w = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-3, W.currentRow)
    )
    selkey = F.col("h40") * F.lit(1048576) + (F.lit(1048575) - F.col("pos"))
    fps = (
        kg.select("doc_id", F.min(selkey).over(w).alias("fp"))
        .distinct()
        .withColumn("h40", F.expr("fp div 1048576"))
        # feeds the multi-doc hash relation AND the per-doc rollup
        .localCheckpoint(eager=False)
    )
    multi = (
        fps.groupBy("h40")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h40")
    )
    per_doc = (
        fps.join(multi.withColumn("is_multi", F.lit(1)), "h40", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fp"),
            F.sum(F.coalesce("is_multi", F.lit(0))).alias("n_shared"),
        )
        .filter(F.col("n_shared") > 0)
    )
    return per_doc.select(
        "doc_id",
        "n_fp",
        "n_shared",
        F.expr("(100 * n_shared) div n_fp").alias("share_pct"),
    )


@query(
    "cdc_chunk_dedup",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
      FROM corpus
    ),
    pos_tok AS (
      SELECT doc_id, i AS pos, tk[i] AS tok,
             CASE WHEN i >= 4 AND
                  ('0x' || substr(md5(array_to_string(array_slice(tk, i - 3, i), ' ')),
                                  1, 15))::BIGINT % 16 = 0
                  THEN 1 ELSE 0 END AS boundary
      FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i FROM toks)
    ),
    chunked AS (
      SELECT doc_id, pos, tok,
             COALESCE(SUM(boundary) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
      FROM pos_tok
    ),
    chunks AS (
      SELECT doc_id, chunk_id,
             ('0x' || substr(md5(string_agg(tok, ' ' ORDER BY pos)), 1, 15))::BIGINT
               AS chunk_fp
      FROM chunked GROUP BY doc_id, chunk_id
    ),
    shared AS (
      SELECT chunk_fp FROM chunks GROUP BY chunk_fp
      HAVING count(DISTINCT doc_id) >= 2
    ),
    per_doc AS (
      SELECT doc_id, count(*) AS n_chunks,
             count(*) FILTER (WHERE chunk_fp IN (SELECT chunk_fp FROM shared))
               AS n_shared
      FROM chunks GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_chunks AS BIGINT) AS n_chunks,
           CAST(n_shared AS BIGINT) AS n_shared,
           CAST((100 * n_shared) // n_chunks AS BIGINT) AS shared_pct
    FROM per_doc WHERE n_shared > 0
    """,
)
def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (round 6) — the insertion-ROBUST
    half of chunk-level dedup (chunk_dedup_boilerplate uses fixed token
    windows, which shift after any insertion; CDC boundaries are decided
    by CONTENT, the Rabin-Karp/FastCDC principle from storage dedup,
    public): a chunk boundary falls after token i wherever the md5 hash
    of the 4-gram ending at i is ≡ 0 mod 16 (expected chunk ≈ 16
    tokens), so two documents sharing a long run of text produce
    IDENTICAL chunks regardless of how much text precedes the run.
    Chunk fingerprints join across documents; the per-doc report (chunk
    counts, shared counts, integer share pct) is the same shape as the
    winnowing report — together they cover span-level (winnowing) and
    block-level (CDC) sub-document duplication.

    Scale shape: boundary decisions and grams are row-local expressions;
    chunk numbering is one exclusive-prefix window per doc (one doc_id
    exchange); chunk fingerprints aggregate on (doc, chunk) riding the
    same partitioning; the shared-fingerprint relation is an 8-byte-key
    equi-join. Text leaves the scan only as md5 fingerprints."""
    corpus = _corpus(spark, sf_dir)
    tk = T.tokens("text")
    pos_tok = corpus.select(
        "doc_id", F.posexplode(tk).alias("pos0", "tok"), tk.alias("tk")
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        "tok",
        F.when(
            (F.col("pos0") + 1 >= 4)
            & (
                F.pmod(
                    T.md5_long(
                        F.array_join(
                            F.slice(
                                F.col("tk"),
                                F.greatest(F.lit(1), F.col("pos0") - 2),
                                4,
                            ),
                            " ",
                        )
                    ),
                    F.lit(16),
                )
                == 0
            ),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("boundary"),
    )
    w_excl = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    chunked = pos_tok.withColumn(
        "chunk_id", F.coalesce(F.sum("boundary").over(w_excl), F.lit(0))
    )
    chunks = (
        chunked.groupBy("doc_id", "chunk_id")
        .agg(
            T.md5_long(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                        lambda s: s["tok"],
                    ),
                    " ",
                )
            ).alias("chunk_fp")
        )
        .localCheckpoint(eager=False)  # feeds shared-fp AND per-doc rollup
    )
    shared = (
        chunks.groupBy("chunk_fp")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("chunk_fp")
    )
    per_doc = (
        chunks.join(shared.withColumn("hit", F.lit(1)), "chunk_fp", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_shared"),
        )
        .filter(F.col("n_shared") > 0)
    )
    return per_doc.select(
        "doc_id",
        "n_chunks",
        "n_shared",
        F.expr("(100 * n_shared) div n_chunks").alias("shared_pct"),
    )


@query(
    "normalized_exact_dedup",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    widened AS (
      SELECT doc_id, text FROM corpus
      UNION ALL
      SELECT doc_id + 3000000 AS doc_id, upper(text) || ' !!' AS text
      FROM documents WHERE doc_id % 10 = 5
    ),
    keyed AS (
      SELECT doc_id,
             ('0x' || substr(md5(trim(regexp_replace(
                regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                ' +', ' ', 'g'))), 1, 15))::BIGINT AS fp
      FROM widened
    )
    SELECT fp, min(doc_id) AS canonical_id, max(doc_id) AS max_id,
           count(*) AS group_size
    FROM keyed GROUP BY fp HAVING count(*) > 1
    """,
)
def normalized_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over C4-normalized text (round 8): lowercase, strip
    punctuation, collapse whitespace, THEN fingerprint — the operating
    point production exact-dedup actually hashes, because web mirrors of
    the same page differ in casing/punctuation/whitespace while raw-text
    hashing (dedup_exact) sees them as distinct. The fixture corpus is
    already lowercase alnum, so the query widens it with a
    re-punctuated-mirror branch (doc_id % 10 == 5 → +3,000,000,
    upper(text) || ' !!'): every injected mirror MUST land in its
    original's group here and MUST NOT in dedup_exact — that containment
    delta is asserted in tests/test_round8_retrieval.py.

    Scale shape identical to dedup_exact: normalization is a row-local
    regexp chain inside the projection (functions/text.py::
    normalize_for_dedup), grouping is on the 60-bit fingerprint — 8-byte
    shuffle keys regardless of document size, min/max/count constant
    state, ONE exchange."""
    corpus = _corpus(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mirrors = docs.filter(F.col("doc_id") % 10 == 5).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.concat(F.upper(F.col("text")), F.lit(" !!")).alias("text"),
    )
    widened = corpus.unionByName(mirrors)
    return (
        widened.select("doc_id", T.md5_long(T.normalize_for_dedup("text")).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.max("doc_id").alias("max_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
        .filter(F.col("group_size") > 1)
    )
