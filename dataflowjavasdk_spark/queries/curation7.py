"""Query batch — round-9 corpus-organization operators: semantic context
packing (in-context-pretraining document ordering), the source
unigram-divergence matrix (mixing diagnostics), the LSH candidate-cost
planner, and UniMax budget waterfilling.

All answer questions a 100 TB training-data pipeline asks AFTER dedup
and quality gating: "in what ORDER do related documents enter a context
window?" (Shi et al., "In-Context Pretraining: Language Modeling Beyond
Document Boundaries", arXiv:2310.10638 — public method), "which sources
are lexically redundant with each other?", "what would each LSH
operating point COST in candidate pairs?", and "how do I split the token
budget fairly across sources?" (Chung et al., UniMax, ICLR 2023).

Shared discipline (SCALE.md): every emitted number is integer-exact or
derives from an operation tree evaluated identically in Spark and DuckDB
(the bit-identical left-fold cosine, single sqrt/divide/floor chains);
orderings break float ties by id so ranks can never disagree
cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from dataflowjavasdk_spark.functions import similarity as S
from dataflowjavasdk_spark.functions import text as T
from dataflowjavasdk_spark.queries.dedup import _CORPUS_SQL, _corpus
from dataflowjavasdk_spark.queries.registry import query
from dataflowjavasdk_spark.queries.similarity import _sql_cosine
from dataflowjavasdk_spark.sources.tables import load_table

# Context token budget: ~3 fixture documents per context (mean ~54
# whitespace tokens/doc), so packing, straddling, and per-context
# fingerprints are all exercised. Production uses the model's sequence
# length here; the plan is identical.
_CTX_TOKENS = 160

# Shards per cluster: the scale knob. Ordering runs per (cell, shard),
# so window parallelism is n_cells * _N_SHARDS instead of n_cells — at
# 100 TB the per-cell running sum would otherwise serialize each
# cluster through one task.
_N_SHARDS = 4


@query(
    "semantic_context_pack",
    oracle=f"""
    WITH centroids AS (SELECT vec_id AS cell, embedding AS cv
                       FROM embeddings WHERE vec_id < 8),
    ranked AS (
      SELECT e.vec_id, c.cell,
             {_sql_cosine('e.embedding', 'c.cv')} AS ccos,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {_sql_cosine('e.embedding', 'c.cv')} DESC,
                                         c.cell) AS crk
      FROM embeddings e CROSS JOIN centroids c
    ),
    asg AS (SELECT vec_id, cell, ccos, vec_id % {_N_SHARDS} AS shard
            FROM ranked WHERE crk = 1),
    docs AS (
      SELECT d.doc_id, a.cell, a.shard, a.ccos,
             len(list_filter(string_split(d.text, ' '), t -> t <> ''))
               AS n_tok
      FROM documents d JOIN asg a ON a.vec_id = d.doc_id
    ),
    ordered AS (
      SELECT doc_id, cell, shard, n_tok,
             row_number() OVER (PARTITION BY cell, shard
                                ORDER BY ccos DESC, doc_id) AS rn,
             sum(n_tok) OVER (PARTITION BY cell, shard
                              ORDER BY ccos DESC, doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM docs
    )
    SELECT cell, shard,
           CAST((cum - n_tok) // {_CTX_TOKENS} AS BIGINT) AS context_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           ('0x' || substr(md5(
             string_agg(doc_id::VARCHAR, ' ' ORDER BY rn)), 1, 15))::BIGINT
             AS docs_fp
    FROM ordered
    GROUP BY cell, shard, (cum - n_tok) // {_CTX_TOKENS}
    """,
)
def semantic_context_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-context-pretraining context packing (round 9; Shi et al.,
    arXiv:2310.10638): instead of filling each training context with
    RANDOM documents, place semantically related documents adjacently so
    the model learns cross-document reasoning. Three stages, each the
    scale-correct Spark shape:

    1. ASSIGN each document's embedding to its nearest of 8 fixed
       centroids (the vector-search kit's `ivf_cells`,
       functions/similarity.py) — constant centroid relation broadcasts, the
       corpus streams map-side, the bit-identical left-fold cosine ranks
       with vec_id tiebreaks.
    2. ORDER within each (cell, shard) by centroid affinity (ccos DESC,
       doc_id) — the paper's traveling-salesman pass approximated by the
       affinity sweep. The shard key (vec_id % 4) is the 100 TB knob:
       the running token sum is inherently sequential per partition, so
       packing parallelism must come from the partition KEY, not the
       window — n_cells * n_shards tasks instead of n_cells.
    3. PACK the ordered stream into contexts of ~160 tokens by striping
       the exclusive running token count (cum - n_tok) DIV budget: a
       pure window + integer division, no per-group loop, no UDF.

    Emits per context: doc count, token total, and a 60-bit fingerprint
    of the ordered doc_id sequence — pinning the ACTUAL pack order, not
    just its sizes. Plan (audited, PLANS.md): one broadcast join and two
    exchanges total — one on vec_id for the assignment rank, one to
    (cell, shard) that BOTH window functions and the final aggregation
    reuse; everything else is whole-stage codegen, python_evals=0."""
    emb = load_table(spark, sf_dir, "embeddings")
    asg = (
        S.ivf_cells(emb)
        .filter(F.col("crk") == 1)
        .select(
            "vec_id", "cell", "ccos", (F.col("vec_id") % _N_SHARDS).alias("shard")
        )
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(T.tokens("text")).alias("n_tok")
    )
    joined = docs.join(asg, docs.doc_id == asg.vec_id).select(
        "doc_id", "cell", "shard", "ccos", "n_tok"
    )
    ow = W.partitionBy("cell", "shard").orderBy(F.col("ccos").desc(), F.col("doc_id"))
    ordered = joined.select(
        "doc_id",
        "cell",
        "shard",
        "n_tok",
        F.row_number().over(ow).alias("rn"),
        F.sum("n_tok").over(ow.rowsBetween(W.unboundedPreceding, 0)).alias("cum"),
    )
    return (
        ordered.withColumn(
            "context_id", F.expr(f"(cum - n_tok) DIV {_CTX_TOKENS}")
        )
        .groupBy("cell", "shard", "context_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            T.md5_long(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("rn", "doc_id"))
                        ),
                        lambda s: s["doc_id"].cast("string"),
                    ),
                    " ",
                )
            ).alias("docs_fp"),
        )
    )


@query(
    "source_unigram_divergence",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(list_filter(string_split(text, ' '),
                                        t -> t <> '')) AS token
      FROM documents
    ),
    cnt AS (
      SELECT source, token, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY source, token
    ),
    prof AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS vocab,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             sum(CAST(c AS HUGEINT) * c) AS ssq
      FROM cnt GROUP BY source
    ),
    dots AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(count(*) AS BIGINT) AS inter_vocab,
             sum(CAST(a.c AS HUGEINT) * b.c) AS dot
      FROM cnt a JOIN cnt b
        ON a.token = b.token AND a.source < b.source
      GROUP BY a.source, b.source
    ),
    pairs AS (
      SELECT pa.source AS source_a, pb.source AS source_b,
             pa.vocab AS vocab_a, pb.vocab AS vocab_b,
             pa.ssq AS ssq_a, pb.ssq AS ssq_b
      FROM prof pa JOIN prof pb ON pa.source < pb.source
    )
    SELECT p.source_a, p.source_b,
           CAST(COALESCE(d.inter_vocab, 0) AS BIGINT) AS inter_vocab,
           CAST(p.vocab_a + p.vocab_b - COALESCE(d.inter_vocab, 0) AS BIGINT)
             AS union_vocab,
           CAST((1000 * COALESCE(d.inter_vocab, 0))
                // (p.vocab_a + p.vocab_b - COALESCE(d.inter_vocab, 0))
             AS BIGINT) AS vocab_jaccard_permille,
           CAST(floor((COALESCE(d.dot, 0)::DOUBLE * 1000000000.0)
                / sqrt(p.ssq_a::DOUBLE * p.ssq_b::DOUBLE)) AS BIGINT)
             AS count_cosine_e9
    FROM pairs p LEFT JOIN dots d
      ON d.source_a = p.source_a AND d.source_b = p.source_b
    """,
)
def source_unigram_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair lexical divergence matrix (round 9) — before choosing
    mixing weights (stratified_source_mix / temperature_mix_sqrt), a
    pipeline should know which sources are lexically REDUNDANT: two
    sources with near-identical unigram distributions contribute less
    diversity than their token counts suggest. For every source pair
    this emits the vocabulary overlap (intersection / union / Jaccard
    permille) and the cosine similarity of the unigram COUNT vectors in
    integer nano-units.

    EVERY pair appears — including fully disjoint ones (inter_vocab=0,
    cosine=0), the most divergent signal the matrix exists to surface:
    the pair scaffold is a non-equi self-join of the tiny per-source
    profile relation, LEFT-joined to the token-overlap dots.

    Exactness: counts are int64; count PRODUCTS (dot, sum-of-squares)
    accumulate in 128-bit exact integers (Spark decimal(38,0), DuckDB
    HUGEINT) because c*c overflows int64 once a token passes ~3e9
    occurrences — routine for stopwords at the 100 TB scale this plan
    targets. The only float ops are one
    cast-multiply-sqrt-divide-multiply-floor chain written identically
    in both engines (past 2^53 the exact-int-to-double cast carries the
    usual documented half-ulp).

    Scale shape: unigram counting is a partial-agg groupBy (map-side
    combine does most of the work — the shuffle carries one row per
    DISTINCT (source, token), not per token). The pairwise dot is an
    EQUI-join on token over that vocabulary-sized relation: a token
    appearing in s sources contributes s*(s-1)/2 pair rows, so the
    fan-out is bounded by (#sources)^2 per token — never corpus-sized,
    never all-pairs over rows. Per-source profiles are a second tiny
    aggregate; the final join is #pairs x 1 rows. At 100 TB only the
    first groupBy touches the corpus; everything downstream is
    vocabulary-scale."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    # Pin the per-source unigram counts (round 10): the profile aggregate
    # and BOTH sides of the pairwise-dot self-join consume this relation,
    # and unpinned Spark re-runs the corpus explode + count per consumer
    # (three full token passes on the executed plan). The pinned rows are
    # the vocabulary-sized (source, token, c) relation — the only
    # corpus-scale pass then runs exactly once.
    cnt = (
        docs.select("source", F.explode(T.tokens("text")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    prof = cnt.groupBy("source").agg(
        F.count(F.lit(1)).alias("vocab"),
        F.sum("c").alias("n_tokens"),
        # exact accumulation: c*c wraps int64 past c ~ 3e9. The cast is
        # decimal(38,0) EXPLICITLY (not 19 + implicit promotion): under
        # default non-ANSI mode a decimal overflow yields NULL silently,
        # so the bound the docstring promises must be the bound the
        # operand carries.
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("ssq"),
    )
    a, b = cnt.alias("a"), cnt.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("inter_vocab"),
            F.sum(
                F.col("a.c").cast("decimal(38,0)") * F.col("b.c")
            ).alias("dot"),
        )
    )
    pa = prof.select(
        F.col("source").alias("source_a"),
        F.col("vocab").alias("vocab_a"),
        F.col("ssq").alias("ssq_a"),
    )
    pb = prof.select(
        F.col("source").alias("source_b"),
        F.col("vocab").alias("vocab_b"),
        F.col("ssq").alias("ssq_b"),
    )
    # pair scaffold: every (source_a < source_b) pair exists even when
    # the sources share zero vocabulary (the dots join yields no row
    # there — the left join + coalesce puts the 0 on the report)
    pairs = pa.join(pb, F.col("source_a") < F.col("source_b"))
    joined = pairs.join(dots, ["source_a", "source_b"], "left").select(
        "source_a",
        "source_b",
        F.coalesce("inter_vocab", F.lit(0)).alias("inter_vocab"),
        "vocab_a",
        "vocab_b",
        F.coalesce(F.col("dot"), F.lit(0).cast("decimal(19,0)")).alias("dot"),
        "ssq_a",
        "ssq_b",
    )
    return joined.select(
        "source_a",
        "source_b",
        "inter_vocab",
        (F.col("vocab_a") + F.col("vocab_b") - F.col("inter_vocab")).alias(
            "union_vocab"
        ),
        F.expr(
            "(1000 * inter_vocab) DIV (vocab_a + vocab_b - inter_vocab)"
        ).alias("vocab_jaccard_permille"),
        F.floor(
            (F.col("dot").cast("double") * F.lit(1000000000.0))
            / F.sqrt(F.col("ssq_a").cast("double") * F.col("ssq_b").cast("double"))
        )
        .cast("long")
        .alias("count_cosine_e9"),
    )


# Cost-planner config grid: r = 2^k rows per band over the 16-hash
# signature convention shared with minhash_lsh_near_dups (b = 16/r).
_COST_KS = list(range(5))


def _cost_oracle() -> str:
    """DuckDB twin of lsh_plan_candidate_cost, generated by the SAME
    config loop as the Spark expressions (tok/sh/sig CTEs are verbatim
    the minhash_lsh_near_dups oracle's — one shared signature
    convention)."""
    legs = []
    for k in _COST_KS:
        r, b = 2**k, 16 // 2**k
        legs.append(
            f"""SELECT {r}::BIGINT AS r_rows, doc_id,
             unnest(range(0, {b})) AS band,
             unnest(list_transform(range(0, {b}), b2 ->
               ('0x' || substr(md5(b2::VARCHAR || '|' ||
                  array_to_string(list_transform(
                    array_slice(sigs, b2 * {r} + 1, b2 * {r} + {r}),
                    v -> v::VARCHAR), ',')), 1, 15))::BIGINT)) AS bucket
           FROM sig"""
        )
    banded = "\n      UNION ALL\n      ".join(legs)
    return f"""
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
      {banded}
    ),
    bucketsz AS (
      SELECT r_rows, band, bucket, CAST(count(*) AS BIGINT) AS n
      FROM banded GROUP BY r_rows, band, bucket
    )
    SELECT r_rows,
           CAST(16 // r_rows AS BIGINT) AS n_bands,
           CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hot_buckets,
           CAST(SUM((n * (n - 1)) // 2) AS BIGINT) AS candidate_pairs,
           CAST(MAX(n) AS BIGINT) AS max_bucket
    FROM bucketsz GROUP BY r_rows
    """


@query("lsh_plan_candidate_cost", oracle=_cost_oracle())
def lsh_plan_candidate_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH operating-point COST planner (round 9) — the other half of the
    picture lsh_plan_expected_recall draws: that query measures what each
    (bands, rows) config would CATCH; this one measures what it would
    COST. For every config r=2^k, b=16/r over the shared 16-hash MinHash
    signature, band-bucket every document and report the number of
    colliding buckets, the total candidate-pair volume the verify stage
    would have to score (sum over buckets of C(n,2), PRE-dedup across
    bands — that is the real join output size), and the largest bucket
    (the skew hot spot AQE would have to split). Recall and cost together
    pick the config: more rows per band cuts candidates exponentially but
    drops recall; this makes the trade measurable on the actual corpus
    before the expensive stage launches.

    Scale shape: ONE signature computation (16 md5 folds per doc, the
    same expression minhash_lsh_near_dups plans), all five configs'
    band keys derived from it row-locally and exploded once — a single
    corpus scan feeding a two-level integer aggregation; bucket counting
    is partial-agg (map-side combine), so the shuffle carries one row
    per distinct (config, band, bucket), never per document pair.
    Everything emitted is integer-exact."""
    corpus = _corpus(spark, sf_dir)
    sig = corpus.select(
        "doc_id",
        S.minhash_signature(S.shingles("text", 3), num_hashes=16).alias("sigs"),
    )
    def _tagged(r: int):
        # NB: a real closure, not a default-arg lambda — a two-parameter
        # lambda would make PySpark pass (element, index) and bind the
        # array INDEX where r_rows belongs
        return lambda s: F.struct(
            F.lit(r).cast("long").alias("r_rows"),
            s["band"].alias("band"),
            s["bucket"].alias("bucket"),
        )

    per_cfg = []
    for k in _COST_KS:
        r, b = 2**k, 16 // 2**k
        per_cfg.append(
            F.transform(
                S.band_keys(F.col("sigs"), bands=b, rows_per_band=r), _tagged(r)
            )
        )
    banded = sig.select(
        "doc_id", F.explode(F.flatten(F.array(*per_cfg))).alias("bk")
    ).select("bk.r_rows", "bk.band", "bk.bucket")
    bucketsz = banded.groupBy("r_rows", "band", "bucket").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        bucketsz.groupBy("r_rows")
        .agg(
            F.sum(F.when(F.col("n") >= 2, F.lit(1)).otherwise(F.lit(0))).alias(
                "n_hot_buckets"
            ),
            F.sum(F.expr("(n * (n - 1)) DIV 2")).alias("candidate_pairs"),
            F.max("n").alias("max_bucket"),
        )
        .withColumn("n_bands", F.expr("CAST(16 DIV r_rows AS BIGINT)"))
    )


@query(
    "unimax_budget_allocation",
    oracle="""
    WITH cnt AS (
      SELECT source,
             CAST(sum(len(list_filter(string_split(text, ' '),
                                      t -> t <> ''))) AS BIGINT) AS c
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST((95 * sum(c)) // 100 AS BIGINT) AS budget,
             CAST(count(*) AS BIGINT) AS n
      FROM cnt
    ),
    ord AS (
      SELECT source, c,
             row_number() OVER (ORDER BY c, source) AS i,
             COALESCE(sum(c) OVER (ORDER BY c, source
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS pprev
      FROM cnt
    ),
    flagged AS (
      SELECT o.source, o.c, o.i,
             (o.pprev + o.c * (t.n - o.i + 1) <= t.budget) AS capped
      FROM ord o CROSS JOIN tot t
    ),
    lvl AS (
      SELECT CAST(sum(CASE WHEN capped THEN 1 ELSE 0 END) AS BIGINT) AS k,
             CAST(sum(CASE WHEN capped THEN c ELSE 0 END) AS BIGINT) AS pk
      FROM flagged
    ),
    shared AS (
      SELECT f.source, f.c, f.capped,
             (t.budget - l.pk) // (t.n - l.k) AS share,
             (t.budget - l.pk) % (t.n - l.k) AS rem,
             CASE WHEN f.capped THEN NULL
                  ELSE row_number() OVER (PARTITION BY f.capped
                                          ORDER BY f.c, f.source) END AS uidx
      FROM flagged f CROSS JOIN tot t CROSS JOIN lvl l
    )
    SELECT source,
           c AS n_tokens,
           CAST(CASE WHEN capped THEN c
                     ELSE share + (CASE WHEN uidx <= rem THEN 1 ELSE 0 END)
                END AS BIGINT) AS allocation,
           capped,
           CAST((1000 * CASE WHEN capped THEN c
                             ELSE share + (CASE WHEN uidx <= rem
                                           THEN 1 ELSE 0 END) END) // c
             AS BIGINT) AS epochs_permille
    FROM shared
    """,
)
def unimax_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax budget waterfilling (round 9; Chung et al., "UniMax: Fairer
    and More Effective Language Sampling for Large-Scale Multilingual
    Pretraining", ICLR 2023 — public method): split a total token budget
    across sources as EVENLY as possible subject to per-source capacity
    caps — small sources keep everything they have (capped), large
    sources are trimmed to a common waterfill level, so no source is
    over-epoched just because it is big. Budget here is 95% of the
    corpus' token mass (self-scaling across fixtures); capacity is one
    epoch of each source.

    The waterfill is EXACT integer math, no iteration: sort sources by
    capacity, source i is capped iff prefix(i-1) + c_i * (n-i+1) <=
    budget (allocating everyone at least c_i would still fit); the
    uncapped share is one floor division over the survivors, and the
    remainder tokens go one each to the first `rem` uncapped sources in
    sort order — so sum(allocation) == budget EXACTLY, pinned by test.
    Output: per source, capacity, allocation, capped flag, and
    epochs_permille (how much of the source one budget pass consumes).

    Scale shape: ONE corpus scan (partial-agg token counting per
    source); everything after operates on the #sources-row relation —
    the global sort window is over a bounded dimension (sources number
    in the hundreds at worst), and the single-row budget/level relations
    broadcast. The 100 TB cost is the scan, which any budget decision
    must pay once."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    cnt = docs.groupBy("source").agg(
        F.sum(F.size(T.tokens("text"))).cast("long").alias("c")
    )
    tot = cnt.agg(
        F.expr("CAST((95 * sum(c)) DIV 100 AS BIGINT)").alias("budget"),
        F.count(F.lit(1)).alias("n"),
    )
    ow = W.orderBy("c", "source")
    ord_ = cnt.select(
        "source",
        "c",
        F.row_number().over(ow).alias("i"),
        F.coalesce(
            F.sum("c").over(ow.rowsBetween(W.unboundedPreceding, -1)), F.lit(0)
        ).alias("pprev"),
    )
    flagged = ord_.crossJoin(F.broadcast(tot)).select(
        "source",
        "c",
        "i",
        "budget",
        "n",
        (F.col("pprev") + F.col("c") * (F.col("n") - F.col("i") + 1) <= F.col("budget")
        ).alias("capped"),
    )
    lvl = flagged.agg(
        F.sum(F.when(F.col("capped"), F.lit(1)).otherwise(F.lit(0))).alias("k"),
        F.sum(F.when(F.col("capped"), F.col("c")).otherwise(F.lit(0))).alias("pk"),
    )
    uw = W.partitionBy("capped").orderBy("c", "source")
    shared = (
        flagged.crossJoin(F.broadcast(lvl))
        .select(
            "source",
            "c",
            "capped",
            F.expr("(budget - pk) DIV (n - k)").alias("share"),
            F.expr("(budget - pk) % (n - k)").alias("rem"),
            F.when(F.col("capped"), F.lit(None).cast("long"))
            .otherwise(F.row_number().over(uw).cast("long"))
            .alias("uidx"),
        )
    )
    alloc = F.when(F.col("capped"), F.col("c")).otherwise(
        F.col("share")
        + F.when(F.col("uidx") <= F.col("rem"), F.lit(1)).otherwise(F.lit(0))
    )
    return shared.select(
        "source",
        F.col("c").alias("n_tokens"),
        alloc.cast("long").alias("allocation"),
        "capped",
        F.expr(
            "CAST((1000 * (CASE WHEN capped THEN c ELSE share + "
            "(CASE WHEN uidx <= rem THEN 1 ELSE 0 END) END)) DIV c AS BIGINT)"
        ).alias("epochs_permille"),
    )


# Padding-waste grid: batch size for the padded strategies and the token
# budget for the packed stripes (same budget as semantic_context_pack).
_PAD_BATCH = 16


@query(
    "padding_waste_report",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
               AS BIGINT) AS n_tok
      FROM documents
    ),
    arrival AS (
      SELECT n_tok, doc_id // {_PAD_BATCH} AS b FROM toks
    ),
    per_len AS (
      SELECT n_tok, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY n_tok
    ),
    offs AS (
      SELECT n_tok,
             COALESCE(sum(cnt) OVER (ORDER BY n_tok
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS off
      FROM per_len
    ),
    srt AS (
      SELECT t.n_tok,
             (o.off + row_number() OVER (PARTITION BY t.n_tok
                                         ORDER BY t.doc_id) - 1)
               // {_PAD_BATCH} AS b
      FROM toks t JOIN offs o ON o.n_tok = t.n_tok
    ),
    a_b AS (SELECT b, CAST(count(*) AS BIGINT) AS n,
                   CAST(max(n_tok) AS BIGINT) AS mx,
                   CAST(sum(n_tok) AS BIGINT) AS real
            FROM arrival GROUP BY b),
    s_b AS (SELECT b, CAST(count(*) AS BIGINT) AS n,
                   CAST(max(n_tok) AS BIGINT) AS mx,
                   CAST(sum(n_tok) AS BIGINT) AS real
            FROM srt GROUP BY b),
    tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS total FROM toks),
    legs AS (
      SELECT 'naive_arrival' AS strategy,
             CAST(count(*) AS BIGINT) AS n_units,
             CAST(sum(n * mx) AS BIGINT) AS capacity_tokens,
             CAST(sum(real) AS BIGINT) AS real_tokens
      FROM a_b
      UNION ALL
      SELECT 'length_sorted' AS strategy,
             CAST(count(*) AS BIGINT),
             CAST(sum(n * mx) AS BIGINT),
             CAST(sum(real) AS BIGINT)
      FROM s_b
      UNION ALL
      SELECT 'packed_stripes' AS strategy,
             CAST((total + {_CTX_TOKENS} - 1) // {_CTX_TOKENS} AS BIGINT),
             CAST(((total + {_CTX_TOKENS} - 1) // {_CTX_TOKENS})
                  * {_CTX_TOKENS} AS BIGINT),
             total
      FROM tot
    )
    SELECT strategy, n_units, capacity_tokens, real_tokens,
           CAST((1000 * (capacity_tokens - real_tokens))
                // capacity_tokens AS BIGINT) AS waste_permille
    FROM legs
    """,
)
def padding_waste_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste planner (round 9) — the measured WHY behind
    sequence packing: a padded batch of B documents costs
    B * max(len) tokens of compute while only sum(len) are real, so the
    waste depends on the BATCHING POLICY. Three strategies over the same
    corpus, one row each:

    - naive_arrival: id-striped batches of 16 (doc_id DIV 16 — arrival
      order; the fixture's ids are dense) — the baseline trainer
      loader; mixed lengths in one batch maximize the max-len padding.
      Map-only, no window at all.
    - length_sorted: the same batches after a TOTAL order by
      (length, id). The global rank is computed scalably — NOT with a
      partitionless row_number window (which collapses every row onto
      one task, the classic Spark anti-pattern): rank = cumulative
      count of all shorter lengths (a window over the TINY
      distinct-lengths relation) + intra-length rank (a window
      partitioned by n_tok, fully parallel). This is the
      two-pass/offset pattern any exact global rank needs at 100 TB.
    - packed_stripes: concatenate-and-stripe at a 160-token budget
      (semantic_context_pack's policy) — waste is only the final
      partial stripe, the attainable lower bound.

    Emits capacity vs real tokens and waste permille — integer-exact;
    one corpus scan, one n_tok shuffle, distinct-lengths-sized side
    relations."""
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(T.tokens("text")).cast("long").alias("n_tok")
    )
    arrival = toks.select(
        "n_tok", F.expr(f"doc_id DIV {_PAD_BATCH}").alias("b")
    )
    per_len = toks.groupBy("n_tok").agg(F.count(F.lit(1)).alias("cnt"))
    lw = W.orderBy("n_tok").rowsBetween(W.unboundedPreceding, -1)
    offs = per_len.select(
        "n_tok", F.coalesce(F.sum("cnt").over(lw), F.lit(0)).alias("off")
    )
    srt = toks.join(offs, "n_tok").select(
        "n_tok",
        F.expr(
            "(off + row_number() OVER (PARTITION BY n_tok ORDER BY doc_id)"
            f" - 1) DIV {_PAD_BATCH}"
        ).alias("b"),
    )
    def _batched(df):
        return df.groupBy("b").agg(
            F.count(F.lit(1)).alias("n"),
            F.max("n_tok").alias("mx"),
            F.sum("n_tok").alias("real"),
        )
    a_b, s_b = _batched(arrival), _batched(srt)
    def _leg(df, name):
        return df.agg(
            F.lit(name).alias("strategy"),
            F.count(F.lit(1)).alias("n_units"),
            F.sum(F.col("n") * F.col("mx")).alias("capacity_tokens"),
            F.sum("real").alias("real_tokens"),
        )
    packed = toks.agg(F.sum("n_tok").alias("total")).select(
        F.lit("packed_stripes").alias("strategy"),
        F.expr(
            f"CAST((total + {_CTX_TOKENS - 1}) DIV {_CTX_TOKENS} AS BIGINT)"
        ).alias("n_units"),
        F.expr(
            f"CAST(((total + {_CTX_TOKENS - 1}) DIV {_CTX_TOKENS})"
            f" * {_CTX_TOKENS} AS BIGINT)"
        ).alias("capacity_tokens"),
        F.col("total").alias("real_tokens"),
    )
    legs = _leg(a_b, "naive_arrival").unionByName(_leg(s_b, "length_sorted")).unionByName(packed)
    return legs.select(
        "strategy",
        "n_units",
        "capacity_tokens",
        "real_tokens",
        F.expr(
            "CAST((1000 * (capacity_tokens - real_tokens)) DIV capacity_tokens"
            " AS BIGINT)"
        ).alias("waste_permille"),
    )


# Shard fan-out for the Merkle manifest — the training_shard_manifest
# convention (md5 of the key, never doc_id % N).
_N_MERKLE_SHARDS = 16
_SHARD_SQL = (
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"
    f" % {_N_MERKLE_SHARDS}"
)
# fingerprint SQL twin shared with the dedup family — ONE copy to keep
# in sync with functions/text.py fingerprint()
from dataflowjavasdk_spark.queries.curation6 import _FP_SQL as _DOC_FP_SQL  # noqa: E402


@query(
    "shard_merkle_manifest",
    oracle=f"""
    WITH assigned AS (
      SELECT doc_id, {_SHARD_SQL} AS shard, {_DOC_FP_SQL} AS fp
      FROM documents
    ),
    shards AS (
      SELECT shard,
             CAST(count(*) AS BIGINT) AS n_items,
             ('0x' || substr(md5(
               string_agg(fp::VARCHAR, ' ' ORDER BY fp, doc_id)),
               1, 15))::BIGINT AS root
      FROM assigned GROUP BY shard
    )
    SELECT 'shard' AS level, shard AS key, n_items, root FROM shards
    UNION ALL
    SELECT 'corpus' AS level, CAST(-1 AS BIGINT) AS key,
           CAST(count(*) AS BIGINT) AS n_items,
           ('0x' || substr(md5(
             string_agg(root::VARCHAR, ' ' ORDER BY shard)),
             1, 15))::BIGINT AS root
    FROM shards
    """,
)
def shard_merkle_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-level Merkle manifest (round 9) — integrity verification
    for trainer egress, one level above training_shard_manifest's
    count/byte audit: each shard's root is a 60-bit hash over its
    members' content fingerprints in (fp, doc_id) order, and the corpus
    root hashes the shard roots in shard order. A loader that recomputes
    a shard's root detects ANY dropped, duplicated, or altered document
    with one comparison; the corpus root verifies the set of shards the
    same way (a two-level Merkle tree — deeper trees are the same fold
    repeated). Roots are order-CANONICAL (members sorted by content
    fingerprint), so they are invariant to task scheduling and input
    order — the property that makes the manifest reproducible across
    rebuilds.

    Scale shape: one corpus scan, one shuffle on the 16-key shard space
    (collect_list per shard is bounded by shard size — shards are the
    unit a loader reads whole anyway); the corpus level aggregates 16
    rows. Everything emitted is integer-exact."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", T.fingerprint("text").alias("fp")
    )
    assigned = docs.withColumn(
        "shard", T.md5_long(F.col("doc_id").cast("string")) % _N_MERKLE_SHARDS
    )
    shards = assigned.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_items"),
        T.md5_long(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("fp", "doc_id"))),
                    lambda s: s["fp"].cast("string"),
                ),
                " ",
            )
        ).alias("root"),
    )
    shard_rows = shards.select(
        F.lit("shard").alias("level"),
        F.col("shard").cast("long").alias("key"),
        "n_items",
        "root",
    )
    corpus_row = shards.agg(
        F.lit("corpus").alias("level"),
        F.lit(-1).cast("long").alias("key"),
        F.count(F.lit(1)).alias("n_items"),
        T.md5_long(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("shard", "root"))),
                    lambda s: s["root"].cast("string"),
                ),
                " ",
            )
        ).alias("root"),
    )
    return shard_rows.unionByName(corpus_row)
