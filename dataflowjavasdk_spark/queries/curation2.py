"""Round-3 curation extensions: PII redaction, Levenshtein-verified
near-dups, Bloom-filter decontamination, incremental (batch-vs-corpus)
dedup, domain blocklist filtering, and BPE merge counting — the remaining
ops a production pretraining pipeline runs that SURVEY.md §2.13 had not
yet covered.

Scale shapes (the design constraint for every query here):
- pii_redaction / domain_blocklist_filter / bpe_merge_candidates: pure
  per-row expressions before one bounded rollup — scan-speed; the
  blocklist is the only hinted broadcast (genuinely constant-size).
- edit_distance_near_dups: the df-capped shingle blocking of
  queries/dedup.py with WIDER (5-token) shingles sized to the verifier's
  O(len_a*len_b)-per-pair cost (never all-pairs; candidate volume is the
  load-bearing choice — ~500x fewer candidates than 3-gram blocking at
  sf0.1, measured, with an identical emitted pair set).
- bloom_ngram_decontamination: the 100 TB upgrade of ngram_decontamination
  — instead of broadcasting every distinct benchmark gram (GBs for a big
  benchmark suite), broadcast a CONSTANT-size bit array (8 KiB here) and
  fetch packed words via k broadcast equi-joins; false positives are then
  resolved with an exact gram join whose left side is only the (tiny)
  bloom-positive survivor set.
- incremental_dedup: the ingest shape — a small new batch probes a
  precomputed corpus index (fingerprints + capped gram postings); the
  corpus is scanned once to build the index, the batch never self-joins
  the corpus's full text. (The streaming form of the exact stage is the
  stream-static join acceptance test in tests/test_streaming.py.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataflowjavasdk_spark.functions import similarity as S
from dataflowjavasdk_spark.functions import text as T
from dataflowjavasdk_spark.functions.text import md5_long
from dataflowjavasdk_spark.queries.dedup import (
    _CORPUS_SQL,
    SHINGLE_DF_CAP,
    _candidate_pairs_sql,
    _capped_blocking,
    _corpus,
    _jaccard_pairs_sql,
)
from dataflowjavasdk_spark.queries.registry import query
from dataflowjavasdk_spark.sources.tables import load_table

# Engine-portable PII-ish patterns (character classes + literals only, so
# Java regex and DuckDB's RE2 agree) — same patterns as pii_detection_stats.
_EMAIL = "[a-z0-9.]+@[a-z0-9]+[.][a-z]+"
_URL = "https?://[a-z0-9./_-]+"


@query(
    "pii_redaction",
    oracle=f"""
    WITH pii AS (
      SELECT doc_id,
             text
               || CASE WHEN doc_id % 7 = 0
                       THEN ' contact user' || doc_id::VARCHAR || '@example.com'
                       ELSE '' END
               || CASE WHEN doc_id % 11 = 0
                       THEN ' see https://site' || doc_id::VARCHAR || '.org/page'
                       ELSE '' END AS text
      FROM documents
    ),
    red AS (
      SELECT doc_id,
             len(regexp_extract_all(text, '{_EMAIL}'))
               + len(regexp_extract_all(text, '{_URL}')) AS n_redacted,
             regexp_replace(regexp_replace(text, '{_EMAIL}', '<EMAIL>', 'g'),
                            '{_URL}', '<URL>', 'g') AS redacted
      FROM pii
    )
    SELECT doc_id, CAST(n_redacted AS BIGINT) AS n_redacted,
           CAST(len(redacted) AS BIGINT) AS redacted_len,
           md5(redacted) AS redacted_md5
    FROM red WHERE n_redacted > 0
    """,
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (the write path of pii_detection_stats): replace
    email- and URL-shaped spans with typed placeholder tokens, emit the
    per-doc redaction count and an md5 checksum of the redacted text so
    the full rewritten column stays oracle-comparable without shipping it.
    The fixture corpus contains no PII-shaped spans (verified), so both
    engines first decorate it identically — every 7th doc gets a synthetic
    email, every 11th a URL — the same deterministic-perturbation pattern
    as the dedup corpus (_CORPUS_SQL). Emails are replaced first; the URL
    pattern cannot match inside the '<EMAIL>' placeholder (uppercase +
    angle brackets are outside both character classes), so the two passes
    commute with the oracle's. Pure expressions — zero shuffles,
    scan-bound at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    decorated = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" see https://site"),
                    F.col("doc_id").cast("string"),
                    F.lit(".org/page"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    n_red = (
        F.regexp_count("text", F.lit(_EMAIL)) + F.regexp_count("text", F.lit(_URL))
    ).cast("long")
    redacted = F.regexp_replace(
        F.regexp_replace("text", _EMAIL, "<EMAIL>"), _URL, "<URL>"
    )
    return (
        decorated.select(
            "doc_id",
            n_red.alias("n_redacted"),
            F.length(redacted).cast("long").alias("redacted_len"),
            F.md5(redacted).alias("redacted_md5"),
        )
        .filter(F.col("n_redacted") > 0)
    )


# Relative edit-distance threshold for near-dup verification: the fixture
# near-dups drop 5 trailing tokens (~20% of a ~30-token doc), so 0.25
# keeps them while rejecting unrelated docs that merely share a shingle.
_LEV_REL_THRESHOLD = 0.25

# Blocking shingle width for the Levenshtein verifier. Wider than the
# Jaccard path's 3 because the verifier is ~100x costlier per pair
# (O(len_a*len_b) DP vs one array_intersect): 5-token shingles are rarer
# keys, cutting candidates ~500x at sf0.1 (1.47M -> 2.8k, measured) while
# keeping the emitted pair set IDENTICAL (verified at sf0.01) — a pair
# within 25% edit distance shares long identical runs, so it shares
# 5-grams whenever it shares 3-grams in practice.
_LEV_BLOCK_NGRAM = 5


@query(
    "edit_distance_near_dups",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),{_candidate_pairs_sql("corpus", n=_LEV_BLOCK_NGRAM)}
    SELECT id_a, id_b,
           CAST(levenshtein(ca.text, cb.text) AS BIGINT) AS lev,
           round(levenshtein(ca.text, cb.text)::DOUBLE
                 / greatest(len(ca.text), len(cb.text), 1)::DOUBLE, 9) AS rel
    FROM cand
    JOIN corpus ca ON ca.doc_id = id_a
    JOIN corpus cb ON cb.doc_id = id_b
    WHERE levenshtein(ca.text, cb.text)::DOUBLE
            / greatest(len(ca.text), len(cb.text), 1)::DOUBLE
          <= {_LEV_REL_THRESHOLD}
    """,
)
def edit_distance_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup pairs: df-capped 5-token-shingle blocking
    (the same candidate-stage shape as near_dup_pairs_jaccard — one
    equi-join, never all-pairs — but with wider shingles sized to the
    verifier's cost, see _LEV_BLOCK_NGRAM), then EXACT Levenshtein
    verification on candidates only, keeping pairs whose edit distance is
    ≤25% of the longer text. Levenshtein catches within-token edits that
    token-set Jaccard is blind to (typo farms, template fills); its
    O(len²)-per-pair cost is why candidate volume, not verify speed, is
    the load-bearing design choice at 100 TB. ``F.levenshtein`` is a JVM
    codegen expression — no Python in the plan."""
    corpus = _corpus(spark, sf_dir)
    sh = corpus.select(
        "doc_id", "text", S.shingles("text", _LEV_BLOCK_NGRAM).alias("grams")
    )
    sh, _, _, pairs = _capped_blocking(sh)
    cand = pairs.select("id_a", "id_b")
    ta = sh.select(F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"))
    tb = sh.select(F.col("doc_id").alias("id_b"), F.col("text").alias("text_b"))
    # Banded Levenshtein (round 10): rel <= T  ⟺  lev <= T·max_len  ⟺
    # lev <= floor(T·max_len) (lev is an integer; T = 0.25 is dyadic so
    # the double product floors exactly). Spark's 3-arg levenshtein
    # computes within that per-pair band and early-exits with -1 the
    # moment the distance provably exceeds it — O(len·band) instead of
    # O(len²) per pair, and the -1 rows ARE the rejected pairs, so the
    # kept set and emitted lev/rel values are unchanged.
    # Equal texts (the corpus's exact-copy pairs — 9% of candidates at
    # sf0.1) short-circuit to 0 on an O(len) comparison instead of the
    # DP; for the rest the banded kernel runs.
    lev = F.expr(
        "CASE WHEN text_a = text_b THEN 0 ELSE "
        "levenshtein(text_a, text_b, "
        f"cast(floor({_LEV_REL_THRESHOLD} * "
        "greatest(length(text_a), length(text_b), 1)) as int)) END"
    )
    rel = lev.cast("double") / F.greatest(
        F.length("text_a"), F.length("text_b"), F.lit(1)
    ).cast("double")
    # The DP's parallelism must come from the PAIR count, not the corpus
    # layout: left alone, the lev predicate is evaluated inside the
    # broadcast text join, whose partitioning is the corpus scan's (1-2
    # partitions at fixture scale) — and AQE coalesces by bytes, which
    # mis-sizes a compute-bound stage whose rows are cheap to hold but
    # expensive to process (same rationale as decode_fanout for the
    # Python decoders). So the candidate pair TEXTS — a candidate-scale
    # relation, the standard materialize-before-verify point — are
    # repartitioned round-robin to the session's core count and pinned;
    # the pin is also the optimizer barrier that keeps the DP filter
    # from being pushed back into the narrow join (a deterministic
    # predicate pushes through a bare repartition). Measured at sf1:
    # 19.5 s -> sub-second warm, identical rows.
    pairs_txt = (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=False)
    )
    # lev >= 0 alone IS the oracle's unrounded-ratio filter: within the
    # band lev is the exact distance and lev <= floor(T·max) ⟺ rel <= T
    # (integer lev, dyadic T — see the band derivation above), while -1
    # marks a provably-exceeded band. Repeating the rel comparison in
    # the filter would evaluate the Levenshtein expression a second time
    # inside the join condition (measured in the plan), for no extra
    # selectivity. The emitted rel is still rounded only for display.
    return (
        pairs_txt.filter(lev >= 0)
        .select(
            "id_a",
            "id_b",
            lev.cast("long").alias("lev"),
            F.round(rel, 9).alias("rel"),
        )
    )


# Bloom filter geometry: m = 65536 bits packed into 2048 32-bit words
# (stored in BIGINTs so `1 << (pos & 31)` never touches the sign bit in
# either engine), k = 3 hash functions. Positions are md5-derived —
# deterministic and identical across Spark and DuckDB.
_BLOOM_BITS = 65536
_BLOOM_K = 3
# The geometry is implicit in the 4-hex-char (16-bit) md5 slices used by
# pos() below and its SQL twin; pin the constant to the slice width so
# changing one without the other fails loudly instead of silently doing
# nothing (r3 ADVICE).
assert _BLOOM_BITS == 1 << 16, "position slice is 4 hex chars = 16 bits"


@query(
    "bloom_ngram_decontamination",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(tk) - 6, 1)),
               i -> array_to_string(array_slice(tk, i, i + 7), ' ')
             )) AS grams
      FROM toks WHERE len(tk) >= 8
    ),
    exploded AS (SELECT doc_id, unnest(grams) AS gram FROM sh),
    bench AS (SELECT DISTINCT gram FROM exploded WHERE doc_id % 20 = 0),
    bench_bits AS (
      SELECT (('0x' || substr(md5(gram), 1 + 4 * j, 4))::BIGINT) AS pos
      FROM bench CROSS JOIN (SELECT unnest(range(0, {_BLOOM_K})) AS j) js
    ),
    bloom AS (
      SELECT pos >> 5 AS word_idx, bit_or(1::BIGINT << (pos & 31)) AS word
      FROM bench_bits GROUP BY 1
    ),
    corpus_grams AS (
      SELECT doc_id, gram FROM exploded WHERE doc_id % 20 <> 0
    ),
    probe AS (
      SELECT doc_id, gram, j,
             (('0x' || substr(md5(gram), 1 + 4 * j, 4))::BIGINT) AS pos
      FROM corpus_grams CROSS JOIN (SELECT unnest(range(0, {_BLOOM_K})) AS j) js2
    ),
    hits AS (
      SELECT p.doc_id, p.gram
      FROM probe p JOIN bloom b ON b.word_idx = p.pos >> 5
      WHERE (b.word & (1::BIGINT << (p.pos & 31))) <> 0
      GROUP BY p.doc_id, p.gram
      HAVING count(*) = {_BLOOM_K}
    ),
    exact AS (
      SELECT cg.doc_id, cg.gram FROM corpus_grams cg JOIN bench USING (gram)
    )
    SELECT h.doc_id,
           count(*) AS n_bloom,
           CAST(SUM(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact
    FROM hits h LEFT JOIN exact e ON e.doc_id = h.doc_id AND e.gram = h.gram
    GROUP BY h.doc_id
    """,
)
def bloom_ngram_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter benchmark decontamination — the constant-memory scale
    path for ngram_decontamination. Build a deterministic 65536-bit /
    3-hash Bloom filter over the benchmark's distinct 8-gram shingles
    (aggregated as bit_or over ≤2048 packed words — an 8 KiB relation no
    matter how large the benchmark grows), then probe every corpus gram
    against it; only bloom-positive grams are re-checked with the exact
    join. At 100 TB this replaces broadcasting the full benchmark gram
    set with broadcasting 8 KiB, and the exact join's left side shrinks
    to the bloom survivors. Output is per-doc bloom-hit and exact-hit
    counts, so the oracle also verifies the false-positive behavior of
    the filter itself (hash positions are md5-derived and cross-engine
    identical). The bloom relation is genuinely constant-size —
    broadcast-hinted like the IVF codebook."""
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select("doc_id", S.shingles("text", 8).alias("grams"))
    exploded = sh.select("doc_id", F.explode("grams").alias("gram"))
    exploded = exploded.localCheckpoint(eager=False)  # feeds bench + corpus + exact
    bench = (
        exploded.filter(F.col("doc_id") % 20 == 0)
        .select("gram")
        .distinct()
        # pinned: referenced by the bloom build AND the exact re-check —
        # without this the distinct aggregation runs twice (SCALE.md #7)
        .localCheckpoint(eager=False)
    )

    # The k positions are non-overlapping 16-bit slices of ONE md5 digest
    # (m = 2^16 exactly): one hash per gram instead of k — the md5 is the
    # dominant probe cost at corpus scale, and 3x16 = 48 of the digest's
    # 128 bits, so the slices are independent. The digest must be a
    # materialized column (``h``) before slicing: a fresh F.md5 per slice
    # lands in separate Project operators that Spark does not CSE across,
    # silently tripling the hash cost.
    def pos(j: int):
        return F.conv(F.substring(F.col("h"), 1 + 4 * j, 4), 16, 10).cast("long")

    # Build: explode the k positions only on the (small) benchmark side,
    # bit_or into packed words, then fold the whole filter into a 1-row
    # map — the broadcastable 8 KiB artifact.
    bench_bits = bench.withColumn("h", F.md5("gram")).select(
        F.explode(F.array(*[pos(j) for j in range(_BLOOM_K)])).alias("p")
    )
    bloom = (
        bench_bits.select(
            F.shiftright("p", 5).alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
        .localCheckpoint(eager=False)  # referenced k times below
    )
    # Probe: no explode, no per-(doc, gram) shuffle — one broadcast
    # equi-join per hash function fetches that position's packed word (an
    # 8-byte column; a left join so a missing word reads as no-bits-set),
    # then all k bit tests are one row-local filter. (A 1-row map variant
    # was measured and rejected: the cross join copies the 8 KiB map into
    # EVERY probe row — ~1 GB of row traffic per million grams.)
    corpus_grams = exploded.filter(F.col("doc_id") % 20 != 0)
    probed = corpus_grams.withColumn("h", F.md5("gram"))
    for j in range(_BLOOM_K):
        probed = probed.withColumn(f"p{j}", pos(j)).join(
            F.broadcast(
                bloom.select(
                    F.col("word_idx").alias(f"wi{j}"), F.col("word").alias(f"w{j}")
                )
            ),
            F.col(f"wi{j}") == F.shiftright(F.col(f"p{j}"), 5),
            "left",
        )
    all_set = " AND ".join(
        f"((w{j} & shiftleft(CAST(1 AS BIGINT), CAST(p{j} % 32 AS INT))) != 0)"
        for j in range(_BLOOM_K)
    )
    hits = probed.filter(F.expr(all_set)).select("doc_id", "gram")
    # Exact re-check ONLY on bloom survivors: the filter has no false
    # negatives, so exact hits ⊆ bloom hits — the expensive gram join's
    # left side is the (tiny) survivor set, not the corpus, and the bench
    # side needs no broadcast hint (AQE decides; the whole point of the
    # bloom is that the benchmark gram set may be too big to broadcast).
    in_bench = bench.withColumn("in_bench", F.lit(1))
    return (
        hits.join(in_bench, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bloom"),
            F.sum(F.coalesce("in_bench", F.lit(0))).cast("long").alias("n_exact"),
        )
    )


@query(
    "incremental_dedup",
    oracle=f"""
    WITH base AS (SELECT doc_id, text FROM documents),
    batch AS (
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
    ),
    corp_fp AS (
      SELECT ('0x' || substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')),
                             1, 15))::BIGINT AS fp,
             min(doc_id) AS match_id
      FROM base GROUP BY 1
    ),
    batch_fp AS (
      SELECT doc_id, text,
             ('0x' || substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')),
                             1, 15))::BIGINT AS fp
      FROM batch
    ),
    exact_dup AS (
      SELECT b.doc_id, c.match_id FROM batch_fp b JOIN corp_fp c USING (fp)
    ),
    corp_sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(list_filter(string_split(text,' '), t -> t <> '')) - 1, 1)),
               i -> array_to_string(
                      array_slice(list_filter(string_split(text,' '), t -> t <> ''),
                                  i, i + 2), ' ')
             )) AS grams
      FROM base
    ),
    batch_sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(list_filter(string_split(text,' '), t -> t <> '')) - 1, 1)),
               i -> array_to_string(
                      array_slice(list_filter(string_split(text,' '), t -> t <> ''),
                                  i, i + 2), ' ')
             )) AS grams
      FROM batch
    ),
    corp_postings AS (
      SELECT doc_id, gram FROM (SELECT doc_id, unnest(grams) AS gram FROM corp_sh) e
      WHERE gram IN (
        SELECT gram FROM (SELECT unnest(grams) AS gram FROM corp_sh) g
        GROUP BY gram HAVING count(*) <= {SHINGLE_DF_CAP}
      )
    ),
    cand AS (
      SELECT DISTINCT b.doc_id AS batch_id, p.doc_id AS corp_id
      FROM (SELECT doc_id, unnest(grams) AS gram FROM batch_sh) b
      JOIN corp_postings p USING (gram)
    ),
    near_dup AS (
      SELECT batch_id AS doc_id, min(corp_id) AS match_id
      FROM cand
      JOIN batch_sh bs ON bs.doc_id = batch_id
      JOIN corp_sh cs ON cs.doc_id = corp_id
      WHERE len(list_filter(bs.grams, g -> list_contains(cs.grams, g)))::DOUBLE
              / greatest(len(bs.grams) + len(cs.grams)
                         - len(list_filter(bs.grams, g -> list_contains(cs.grams, g))),
                         1)::DOUBLE >= 0.5
      GROUP BY 1
    )
    SELECT b.doc_id,
           CASE WHEN e.doc_id IS NOT NULL THEN 'exact'
                WHEN n.doc_id IS NOT NULL THEN 'near'
                ELSE 'unique' END AS verdict,
           CASE WHEN e.doc_id IS NOT NULL THEN e.match_id
                WHEN n.doc_id IS NOT NULL THEN n.match_id END AS match_id
    FROM batch_fp b
    LEFT JOIN exact_dup e ON e.doc_id = b.doc_id
    LEFT JOIN near_dup n ON n.doc_id = b.doc_id
    """,
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: classify each NEW-batch document against
    the existing corpus as exact duplicate (normalized-content
    fingerprint match), near duplicate (3-gram Jaccard ≥ 0.5 against any
    corpus doc, candidates via df-capped corpus gram postings), or
    unique — with the matched corpus doc id (min for determinism). The
    batch here is the fixture's perturbed copies (exact +1M, truncated
    +2M), the corpus is the base documents table, so every verdict class
    is exercised. 100 TB shape: the corpus is scanned to build two
    indexes (8-byte fingerprints; capped gram postings) — in production
    both are precomputed and bucketed — and the small batch probes them
    with equi-joins; batch↔batch pairs are never generated, and the
    corpus text never self-joins. The df cap is applied to the CORPUS
    postings (drop stopword-like grams from the index), bounding probe
    fan-out per gram regardless of corpus size."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch_exact = docs.filter(F.col("doc_id") % 20 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    toks = T.tokens("text")
    batch_near = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.array_join(
            F.slice(toks, 1, F.greatest(F.size(toks) - 5, F.lit(1))), " "
        ).alias("text"),
    )
    batch = batch_exact.unionByName(batch_near)

    corp_fp = (
        docs.select(T.fingerprint("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("match_id"))
    )
    batch_fp = batch.select(
        "doc_id", "text", T.fingerprint("text").alias("fp")
    ).localCheckpoint(eager=False)
    exact_dup = batch_fp.join(corp_fp, "fp").select(
        "doc_id", F.col("match_id").alias("exact_match")
    )

    corp_sh = docs.select(
        "doc_id", S.shingles("text", 3).alias("grams")
    ).localCheckpoint(eager=False)
    batch_sh = batch_fp.select("doc_id", S.shingles("text", 3).alias("grams"))
    corp_ex = corp_sh.select("doc_id", F.explode("grams").alias("gram"))
    # Round 11 (guide §2.3, the _capped_pair_profile pattern): the verify
    # stage used to re-join every candidate pair to BOTH docs' full gram
    # arrays and run array_intersect per pair — 317k candidates x
    # ~40-string arrays per side at sf0.1 (measured 8.6 s of the query's
    # ~15 s one-shot cost). The intersection is instead read off the
    # probe join itself: grams are distinct per doc, so the per-pair
    # match count of the capped postings probe IS |B ∩ C ∩ kept|, and the
    # residual |B ∩ C ∩ over-cap| is counted from per-doc over-cap gram
    # arrays (a stopword-vocabulary-bounded relation, empty unless a
    # corpus gram tops the cap). Pair set, intersection integers and
    # Jaccard doubles are bit-identical to the full-array verify.
    gram_df = (
        corp_ex.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .localCheckpoint(eager=False)  # feeds capped postings AND hot vocab
    )
    corp_postings = corp_ex.join(
        gram_df.filter(F.col("df") <= SHINGLE_DF_CAP).select("gram"), "gram"
    )
    batch_ex = batch_sh.select(
        F.col("doc_id").alias("batch_id"), F.explode("grams").alias("gram")
    )
    pair_inter = (
        batch_ex.join(
            corp_postings.select(F.col("doc_id").alias("corp_id"), "gram"), "gram"
        )
        .groupBy("batch_id", "corp_id")
        .agg(F.count(F.lit(1)).alias("inter_kept"))
    )
    hot_vocab = gram_df.filter(F.col("df") > SHINGLE_DF_CAP).select("gram")
    corp_hot = (
        corp_ex.join(hot_vocab, "gram")
        .groupBy("doc_id")
        .agg(F.collect_list("gram").alias("hot_c"))
    )
    batch_hot = (
        batch_ex.join(hot_vocab, "gram")
        .groupBy("batch_id")
        .agg(F.collect_list("gram").alias("hot_b"))
    )
    # per-doc (n, hot) profiles are doc-count-sized with near-empty hot
    # arrays; pinned so the warm path's verify joins read them as
    # materialized RDDs instead of re-deriving explode→join→agg per run
    bs = (
        batch_sh.select(
            F.col("doc_id").alias("batch_id"), F.size("grams").alias("n_b")
        )
        .join(batch_hot, "batch_id", "left")
        .localCheckpoint(eager=False)
    )
    cs = (
        corp_sh.select("doc_id", F.size("grams").alias("n_c"))
        .join(corp_hot, "doc_id", "left")
        .select(F.col("doc_id").alias("corp_id"), "n_c", "hot_c")
        .localCheckpoint(eager=False)
    )
    no_hot = F.array().cast("array<string>")
    inter = F.col("inter_kept") + F.size(
        F.array_intersect(
            F.coalesce("hot_b", no_hot), F.coalesce("hot_c", no_hot)
        )
    )
    jacc = inter.cast("double") / F.greatest(
        F.col("n_b") + F.col("n_c") - inter, F.lit(1)
    ).cast("double")
    near_dup = (
        pair_inter.join(bs, "batch_id")
        .join(cs, "corp_id")
        .filter(jacc >= 0.5)
        .groupBy(F.col("batch_id").alias("doc_id"))
        .agg(F.min("corp_id").alias("near_match"))
    )
    return (
        batch_fp.select("doc_id")
        .join(exact_dup, "doc_id", "left")
        .join(near_dup, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_match").isNotNull(), F.lit("exact"))
            .when(F.col("near_match").isNotNull(), F.lit("near"))
            .otherwise(F.lit("unique"))
            .alias("verdict"),
            F.when(F.col("exact_match").isNotNull(), F.col("exact_match"))
            .otherwise(F.col("near_match"))
            .alias("match_id"),
        )
    )


# Deterministic provenance decoration: the fixture has no URL column, so
# both engines assign every 3rd doc a synthetic source URL whose domain
# cycles through 5 hosts by doc_id — the same injected-perturbation
# pattern as _CORPUS_SQL and pii_redaction. Two hosts are blocklisted.
_DOMAINS = ("spam.example", "ads.example", "blog.example",
            "news.example", "docs.example")
_BLOCKED = ("spam.example", "ads.example")


@query(
    "domain_blocklist_filter",
    oracle=f"""
    WITH urled AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 3 = 0 THEN
               'https://' || list_value{_DOMAINS}[CAST(doc_id % 5 AS INT) + 1]
               || '/p/' || doc_id::VARCHAR
             END AS url
      FROM documents
    ),
    extracted AS (
      SELECT doc_id, source, url,
             regexp_extract(url, 'https?://([a-z0-9.-]+)', 1) AS domain
      FROM urled
    ),
    blocklist AS (SELECT unnest(ARRAY{list(_BLOCKED)}) AS domain)
    SELECT source,
           count(*) AS n_docs,
           CAST(SUM(CASE WHEN url IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_url,
           CAST(SUM(CASE WHEN domain IN (SELECT domain FROM blocklist)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
           CAST(SUM(CASE WHEN url IS NULL
                           OR domain NOT IN (SELECT domain FROM blocklist)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM extracted
    GROUP BY source
    """,
)
def domain_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain blocklist filtering — the C4/RefinedWeb provenance-hygiene
    pass: extract the host from each document's source URL and drop docs
    whose domain is on a curated blocklist, reported per source. The
    fixture has no URL column, so both engines decorate every 3rd doc
    with a deterministic synthetic URL first (domain cycles through 5
    hosts). Plan shape at 100 TB: domain extraction is a per-row regexp
    (scan-bound); the blocklist is a genuinely CONSTANT-size relation
    (curated by hand — thousands of rows at most), broadcast for a
    left-anti/semi membership test; one shuffle for the per-source
    rollup. Docs without a URL are kept (no provenance != blocked)."""
    docs = load_table(spark, sf_dir, "documents")
    domain_arr = F.array(*[F.lit(d) for d in _DOMAINS])
    urled = docs.select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("https://"),
                F.element_at(domain_arr, (F.col("doc_id") % 5).cast("int") + 1),
                F.lit("/p/"),
                F.col("doc_id").cast("string"),
            ),
        ).alias("url"),
    )
    extracted = urled.withColumn(
        "domain", F.regexp_extract("url", "https?://([a-z0-9.-]+)", 1)
    )
    blocklist = spark.createDataFrame(
        [(d,) for d in _BLOCKED], "domain string"
    )
    flagged = extracted.join(
        F.broadcast(blocklist.withColumnRenamed("domain", "blocked_domain")),
        F.col("domain") == F.col("blocked_domain"),
        "left",
    )
    is_blocked = F.col("blocked_domain").isNotNull()
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("url").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_with_url"),
        F.sum(F.when(is_blocked, 1).otherwise(0)).cast("long").alias("n_blocked"),
        F.sum(F.when(~is_blocked, 1).otherwise(0)).cast("long").alias("n_kept"),
    )


@query(
    "bpe_merge_candidates",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]') AS tk
      FROM documents
    ),
    pairs AS (
      SELECT unnest(list_transform(
               range(1, greatest(len(tk), 1)),
               i -> tk[i] || ' ' || tk[i + 1]
             )) AS pair
      FROM toks WHERE len(tk) >= 2
    ),
    counted AS (
      SELECT pair, count(*) AS n,
             row_number() OVER (ORDER BY count(*) DESC, pair) AS rk
      FROM pairs WHERE pair IS NOT NULL GROUP BY pair
    )
    SELECT pair, n, rk FROM counted WHERE rk <= 20
    """,
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE merge step of tokenizer training: count every
    ADJACENT pre-token pair across the corpus (GPT-style pre-tokenizer
    regex, same as bpe_token_stats) and emit the top-20 merge candidates
    with a deterministic (count desc, pair) rank. wordcount counts
    elements; this counts adjacencies — the extra structure an actual
    BPE trainer iterates on. Plan: pair construction is a row-local
    transform+explode (zero shuffle), one count aggregate, and the
    global top-20 is TakeOrderedAndProject over the already-reduced
    pair-count relation. At 100 TB the aggregate's key space is the
    pair vocabulary — bounded, far smaller than the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    tk = F.regexp_extract_all(F.col("text"), F.lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"), 0)
    pairs = (
        docs.select(tk.alias("tk"))
        .filter(F.size("tk") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.size("tk") - 1, F.lit(1))),
                    lambda i: F.concat(
                        F.element_at("tk", i), F.lit(" "), F.element_at("tk", i + 1)
                    ),
                )
            ).alias("pair")
        )
    )
    from pyspark.sql.window import Window as W

    counted = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    w = W.orderBy(F.col("n").desc(), F.col("pair"))
    return counted.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 20)


# The trainer's words/t0 CTE text — ONE copy, composed into both the
# trainer oracle below and the encoder oracle in curation3 (mirrors
# _bpe_vocab_tok on the Spark side; a hand-synced second copy would let
# the two oracles silently test different tokenizations).
_BPE_WORDS_T0_SQL = """
    words AS (
      SELECT t AS w, count(*) AS c
      FROM (SELECT unnest(regexp_extract_all(text,
                     '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS t
            FROM documents)
      GROUP BY t
    ),
    t0 AS (
      SELECT w, c, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS tok
      FROM words
    )"""


def _bpe_stage_sql(i: int) -> str:
    """One unrolled BPE training round: pair counts over t{i-1}, argmax
    with deterministic tiebreak, greedy left-to-right merge into t{i}."""
    return f"""
    p{i} AS (
      SELECT s[i] AS lhs, s[i + 1] AS rhs, SUM(c) AS cnt
      FROM (
        SELECT c, s, unnest(range(1, len(s))) AS i
        FROM (SELECT c, string_split(trim(tok), ' ') AS s FROM t{i - 1})
      )
      GROUP BY 1, 2
    ),
    b{i} AS (SELECT lhs, rhs, cnt FROM p{i} ORDER BY cnt DESC, lhs, rhs LIMIT 1),
    t{i} AS (
      SELECT w, c,
             replace(tok, ' ' || lhs || ' ' || rhs || ' ',
                          ' ' || lhs || rhs || ' ') AS tok
      FROM t{i - 1} CROSS JOIN b{i}
    )"""


@query(
    "bpe_train_merges",
    oracle=f"""
    WITH {_BPE_WORDS_T0_SQL},{_bpe_stage_sql(1)},{_bpe_stage_sql(2)},{_bpe_stage_sql(3)}
    SELECT 1 AS step, lhs, rhs, lhs || rhs AS merged,
           CAST(cnt AS BIGINT) AS pair_count
    FROM b1
    UNION ALL
    SELECT 2, lhs, rhs, lhs || rhs, CAST(cnt AS BIGINT) FROM b2
    UNION ALL
    SELECT 3, lhs, rhs, lhs || rhs, CAST(cnt AS BIGINT) FROM b3
    """,
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING, three merge rounds fully in-plan (round
    5) — the iterative extension of bpe_merge_candidates (which scores
    one round of pre-token pairs; this one actually trains at the
    character level, like kmeans_ivf_refined turned IVF seeding into
    real Lloyd iterations). Words are the distinct pre-tokens with
    corpus counts; each word's tokenization is a spaced symbol string
    (' h e l l o '); a round counts adjacent symbol pairs weighted by
    word count, picks the argmax pair with a deterministic (count desc,
    lhs, rhs) tiebreak, and merges it greedily left-to-right via literal
    replace() — whose non-overlapping LTR semantics are IDENTICAL in
    Spark and DuckDB (probed: ' a a a ' + (a,a) -> ' aa a ' in both), so
    every round is integer-exact and the whole trainer value-hash
    oracles with no rounding. The chosen merge never touches the driver:
    it is a 1-row relation broadcast-cross-joined into the next round's
    plan (the kmeans codebook pattern).

    Output: (step, lhs, rhs, merged, pair_count) for the three learned
    merges — the head of the merges.txt a real BPE build ships.

    Scale shape: everything after the word-count aggregate operates on
    the VOCABULARY relation, not the corpus (words are distinct
    pre-tokens with counts — bounded, millions at 100 TB, not
    trillions); per round: one vocab-sized pair aggregate + a 1-row
    argmax + a map-side literal replace. The word and per-round token
    relations are pinned (lazy localCheckpoint) because each is consumed
    by two branches (pair counting and the merge rewrite) — the
    round-3b scan-discipline rule."""
    outs, _tok = _bpe_train_rounds(_bpe_vocab_tok(spark, sf_dir), rounds=3)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _bpe_vocab_tok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, count, spaced-symbol-string) vocabulary relation, pinned —
    the trainer's working set (shared by bpe_train_merges and the encode
    query in curation3)."""
    docs = load_table(spark, sf_dir, "documents")
    tk = F.regexp_extract_all(
        F.col("text"), F.lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"), 0
    )
    words = (
        docs.select(F.explode(tk).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return words.select(
        "w",
        "c",
        F.concat(F.lit(" "), F.regexp_replace("w", "(.)", "$1 ")).alias("tok"),
    ).localCheckpoint(eager=False)


def _bpe_step(
    tok: DataFrame, step: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One BPE merge round over the pinned vocab relation: count adjacent
    pairs weighted by word frequency, take the deterministic argmax
    (count desc, then lexicographic — the cross-engine tiebreak), apply
    the merge via a broadcast 1-row join. Returns (best [1-row: lhs,
    rhs, cnt], report row, merged tok relation)."""
    s = F.split(F.trim(F.col("tok")), " ")
    pairs = tok.select(
        "c",
        F.explode(
            F.zip_with(
                F.slice(s, 1, F.size(s) - 1),
                F.slice(s, 2, F.size(s) - 1),
                lambda a, b: F.struct(a.alias("lhs"), b.alias("rhs")),
            )
        ).alias("p"),
    ).select("c", "p.lhs", "p.rhs")
    counted = pairs.groupBy("lhs", "rhs").agg(F.sum("c").alias("cnt"))
    best = (
        counted.orderBy(F.col("cnt").desc(), "lhs", "rhs")
        .limit(1)
        .localCheckpoint(eager=False)
    )
    report = best.select(
        F.lit(step).alias("step"),
        "lhs",
        "rhs",
        F.concat("lhs", "rhs").alias("merged"),
        F.col("cnt").cast("long").alias("pair_count"),
    )
    merged_tok = (
        tok.crossJoin(F.broadcast(best))
        .select(
            "w",
            "c",
            F.replace(
                F.col("tok"),
                F.concat(F.lit(" "), "lhs", F.lit(" "), "rhs", F.lit(" ")),
                F.concat(F.lit(" "), "lhs", "rhs", F.lit(" ")),
            ).alias("tok"),
        )
        .localCheckpoint(eager=False)
    )
    return best, report, merged_tok


def _bpe_train_rounds(
    tok: DataFrame, rounds: int = 3
) -> tuple[list[DataFrame], DataFrame]:
    """Run `rounds` BPE merge rounds over the pinned vocab relation —
    the fixed-round twin (fully in-plan: the 1-row argmax is broadcast,
    never collected). Returns ([1-row report DataFrames], final tok) so
    the trainer (which reports the merges) and the encoder (which
    consumes the final tokenization) share one implementation."""
    outs = []
    for step in range(1, rounds + 1):
        _best, report, tok = _bpe_step(tok, step)
        outs.append(report)
    return outs, tok


def _bpe_train_until(
    tok: DataFrame, min_pair_count: int, max_rounds: int = 20
) -> tuple[list[DataFrame], DataFrame, int]:
    """The PRODUCTION BPE training loop shape (round 6): iterate merge
    rounds until the best remaining pair's corpus count falls below
    `min_pair_count` — the data-driven convergence rule — behind the
    `max_rounds` vocab budget (hitting the budget is a normal stop in
    production BPE, not an error). Per round the 1-row argmax is both
    broadcast into the merge (in-plan, exactly the fixed twin's plan)
    and read by the driver for the stop decision — loop CONTROL, not
    data movement (the same discipline as the PageRank/connected-
    components convergence loops). Each round's tok relation is pinned
    (lazy localCheckpoint in _bpe_step), keeping lineage flat.

    Returns (merge reports, final tok, n_rounds). Round-count
    independence once converged is pinned by tests/test_curation2_ops.py."""
    outs = []
    for step in range(1, max_rounds + 1):
        best, report, merged_tok = _bpe_step(tok, step)
        rows = best.collect()  # 1-row loop control (cnt of the argmax)
        if not rows or rows[0]["cnt"] < min_pair_count:
            return outs, tok, step - 1
        outs.append(report)
        tok = merged_tok
    return outs, tok, max_rounds


@query(
    "near_dup_graph_triangles",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),{_jaccard_pairs_sql("corpus")}
    SELECT (SELECT count(DISTINCT d) FROM (
              SELECT id_a AS d FROM jacc_pairs
              UNION ALL SELECT id_b FROM jacc_pairs)) AS n_nodes,
           (SELECT count(*) FROM jacc_pairs) AS n_edges,
           (SELECT count(*)
            FROM jacc_pairs p1
            JOIN jacc_pairs p2 ON p2.id_a = p1.id_b
            JOIN jacc_pairs p3 ON p3.id_a = p1.id_a AND p3.id_b = p2.id_b
           ) AS n_triangles
    """,
)
def near_dup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the near-dup similarity graph — the density
    diagnostic run before transitive-closure clustering (a triangle-rich
    pair graph means big merged clusters and aggressive dedup; a
    triangle-free one means chains of borderline pairs where greedy
    drops are safer). Distributed shape: with edges oriented id_a < id_b,
    every triangle a<b<c is counted exactly once by joining edges (a,b)
    ⋈ (b,c) ⋈ (a,c) — two equi-joins on node ids, never an open wedge
    enumeration without the closing-edge key. The edge relation is pinned
    (it feeds the node count, the edge count, and three join branches);
    at 100 TB edges ≪ documents (it is the OUTPUT of blocked
    near-dup detection), so these joins run on the reduced relation."""
    corpus = _corpus(spark, sf_dir)
    sh = corpus.select("doc_id", S.shingles("text", 3).alias("grams")).withColumn(
        "n", F.size("grams")
    )
    from dataflowjavasdk_spark.queries.dedup import _jaccard_pairs_capped

    edges = (
        _jaccard_pairs_capped(sh)
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    nodes = (
        edges.select(F.col("id_a").alias("d"))
        .unionAll(edges.select(F.col("id_b").alias("d")))
        .agg(F.countDistinct("d").alias("n_nodes"))
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    p1 = edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    p2 = edges.select(F.col("id_a").alias("b"), F.col("id_b").alias("c"))
    p3 = edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("c"))
    tri = (
        p1.join(p2, "b")
        .join(p3, ["a", "c"])
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return nodes.join(n_edges).join(tri)
