"""Query batch — round-8 retrieval operators: BM25 lexical ranking and
the embedding-compression recall ladder (dimension truncation + int8
scalar quantization).

Shared discipline (SCALE.md): candidate generation is an equi-join on a
blocking key (the query TERM for BM25) or a broadcast of the
request-sized query set (the audited cosine_topk_bruteforce shape) —
never corpus×corpus; every emitted number is integer-exact or a
round(x, 9) / floor(x · 1e6) of an identical IEEE operation tree so the
DuckDB twin hashes bit-identically. Floating-point SUMS over variable
fold order are eliminated structurally: BM25 accumulates
floor(contrib · 1e6) int64 micro-units, which commute exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from dataflowjavasdk_spark.functions import text as T
from dataflowjavasdk_spark.queries.registry import query
from dataflowjavasdk_spark.sources.tables import load_table

# BM25 constants (the Robertson/Sparck-Jones defaults production uses).
_K1 = 1.2
_B = 0.75
_BM25_K = 10  # top-k per query
_QUERY_TERMS = 4  # first-N tokens of each query doc form its term set


# The BM25 CTE chain, shared by bm25_retrieval_topk and the RRF fusion
# oracle (identical text in both places — the cross-engine contract).
_BM25_CTES = f"""tok AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf,
             sum(count(*)) OVER (PARTITION BY doc_id) AS dl
      FROM tok GROUP BY doc_id, term
    ),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    stats AS (
      SELECT (SELECT count(*) FROM documents) AS n_docs,
             (SELECT count(*) FROM tok)::DOUBLE
               / (SELECT count(*) FROM documents) AS avgdl
    ),
    q AS (
      SELECT doc_id AS query_id,
             unnest(list_distinct(
               array_slice(list_filter(string_split(text, ' '), t -> t <> ''),
                           1, {_QUERY_TERMS}))) AS term
      FROM documents WHERE doc_id < 3
    ),
    contrib AS (
      SELECT q.query_id, tf.doc_id,
             floor(
               round(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5)), 9)
               * (tf.tf::DOUBLE * ({_K1} + 1.0))
               / (tf.tf::DOUBLE
                  + {_K1} * (1.0 - {_B} + {_B} * tf.dl::DOUBLE / stats.avgdl))
               * 1000000.0)::BIGINT AS micro
      FROM tf
      JOIN q ON q.term = tf.term AND tf.doc_id <> q.query_id
      JOIN df ON df.term = tf.term
      CROSS JOIN stats
    ),
    scored AS (
      SELECT query_id, doc_id, CAST(sum(micro) AS BIGINT) AS score_micro
      FROM contrib GROUP BY query_id, doc_id
    ),
    bm25_top AS (
      SELECT query_id, doc_id, score_micro, rk FROM (
        SELECT query_id, doc_id, score_micro,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score_micro DESC, doc_id) AS rk
        FROM scored)
      WHERE rk <= {_BM25_K}
    )"""


@query(
    "bm25_retrieval_topk",
    oracle=f"""
    WITH {_BM25_CTES}
    SELECT query_id, doc_id, score_micro, rk FROM bm25_top
    """,
)
def bm25_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (round 8) — the classic sparse ranker that
    complements the dense ANN ladder (production RAG runs BOTH and fuses;
    rag_retrieval_pipeline is the dense twin). Okapi BM25 with k1=1.2,
    b=0.75: score(q,d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl)),
    idf = ln(1 + (N-df+0.5)/(df+0.5)), queries = the distinct first-4-token
    sets of doc_id < 3 (self-matches excluded).

    Cross-engine exactness: a float sum over a variable number of matched
    terms is fold-order-dependent, so each term contribution is floored to
    int64 MICRO-units (floor(contrib · 1e6)) and the per-(query,doc) score
    is an exact integer sum — commutative, hash-identical, and ties in the
    top-k break on the integer score then doc_id. idf is rounded to 9 dp
    first (ln ulp discipline, tfidf precedent); everything after is IEEE
    ×,÷,+ on deterministic inputs.

    Scale shape: the tokenized relation is pinned (tf, df, and the
    total-token stat all consume it — the tfidf lesson); candidate
    generation is an EQUI-join of tf against the broadcast query-term set
    (only postings of query terms move, the inverted-index access pattern),
    never corpus×queries; N and avgdl are 1-row broadcast aggregates
    computed in-plan. Production would additionally floor idf at a minimum
    to drop stopword query terms — the fixture's tiny vocabulary makes
    every term hot, which this plan survives by construction (per-term
    postings stream through the equi-join)."""
    return _bm25_ranked(spark, sf_dir)


def _dense_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, doc_id, rk≤10) — dense cosine brute-force leg over the
    same query ids as the BM25 leg (vec_id < 3 ≡ doc_id < 3)."""
    from dataflowjavasdk_spark.functions import similarity as S

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dq = S.query_set(emb, F.col("vec_id") < 3)
    return S.top_k(
        emb, dq, S.cosine(F.col("qv"), F.col("embedding")), _BM25_K, name="s", neighbor="doc_id"
    ).select("query_id", "doc_id", "rk")


def _bm25_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, doc_id, score_micro, rk≤10) — shared by the registered
    BM25 query and hybrid_rrf_fusion's lexical leg."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select("doc_id", F.explode(T.tokens("text")).alias("term"))
    # ONE aggregation pass over the exploded corpus; everything else —
    # document frequency (count of tf rows per term ≡ countDistinct doc
    # over tok), the corpus token total (sum of tf ≡ count of tok), and
    # the scoring join — derives from the PINNED tf relation, so the
    # exploded corpus is scanned and shuffled exactly once (the
    # three-consumer tok shape re-aggregated the raw explode per branch;
    # bench-protocol steady state at sf0.1 is ~85 ms on a loaded host).
    tf = (
        tok.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("dl", F.sum("tf").over(W.partitionBy("doc_id")))
        .localCheckpoint(eager=False)
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    total = tf.agg(F.sum("tf").alias("total_toks"))
    stats = n.join(total).select(
        "n_docs",
        (F.col("total_toks").cast("double") / F.col("n_docs")).alias("avgdl"),
    )
    qterms = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"),
        F.explode(
            F.array_distinct(F.slice(T.tokens("text"), 1, _QUERY_TERMS))
        ).alias("term"),
    )
    idf = F.round(
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        ),
        9,
    )
    tf_part = (F.col("tf").cast("double") * (_K1 + 1.0)) / (
        F.col("tf").cast("double")
        + _K1 * (1.0 - _B + _B * F.col("dl").cast("double") / F.col("avgdl"))
    )
    contrib = (
        tf.join(F.broadcast(qterms), "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .join(df, "term")
        .join(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            F.floor(idf * tf_part * 1_000_000.0).cast("long").alias("micro"),
        )
    )
    scored = contrib.groupBy("query_id", "doc_id").agg(
        F.sum("micro").alias("score_micro")
    )
    w = W.partitionBy("query_id").orderBy(F.col("score_micro").desc(), "doc_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _BM25_K)
    )


# ---------------------------------------------------------------------------
# Embedding-compression recall ladder

# The float dot/cosine SQL comes from queries/similarity.py (one source
# of truth for the sequential-left-fold contract); only the INT64 dot —
# unique to the quantized representation — is defined here.
from dataflowjavasdk_spark.queries.similarity import _sql_cosine as _sql_cos

_SQL_IDOT = """
  list_reduce(
    list_prepend(0::BIGINT,
      list_transform(list_zip({a}, {b}), p -> p[1] * p[2])),
    (x, y) -> x + y)
"""


def _sql_icos(a: str, b: str) -> str:
    dot = _SQL_IDOT.format(a=a, b=b)
    na = _SQL_IDOT.format(a=a, b=a)
    nb = _SQL_IDOT.format(a=b, b=b)
    return f"({dot})::DOUBLE / sqrt((({na}) * ({nb}))::DOUBLE)"


_SQL_Q8 = """list_transform({v}, x -> floor(x::DOUBLE * 127.0 / greatest(
      list_reduce(list_prepend(0.0::DOUBLE,
        list_transform({v}, y -> abs(y::DOUBLE))),
        (a, c) -> greatest(a, c)), 1e-30))::BIGINT)"""


def _sql_comp_top(score: str, src: str) -> str:
    return f"""(
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {score} DESC, e.vec_id) AS rk
        FROM qs q CROSS JOIN {src} e WHERE e.vec_id <> q.query_id)
      WHERE rk <= 10)"""


_COMPRESSION_RECALL_ORACLE = f"""
    WITH b AS MATERIALIZED (
      SELECT vec_id, embedding,
             embedding[1:32] AS v32,
             embedding[1:16] AS v16,
             {_SQL_Q8.format(v='embedding')} AS q8
      FROM embeddings
    ),
    qs AS MATERIALIZED (
      SELECT vec_id AS query_id, embedding AS qv, v32 AS qv32, v16 AS qv16,
             q8 AS qq8
      FROM b WHERE vec_id >= 10 AND vec_id < 15
    ),
    full_top AS MATERIALIZED {_sql_comp_top(_sql_cos('q.qv', 'e.embedding'), 'b')},
    d32_top AS MATERIALIZED {_sql_comp_top(_sql_cos('q.qv32', 'e.v32'), 'b')},
    d16_top AS MATERIALIZED {_sql_comp_top(_sql_cos('q.qv16', 'e.v16'), 'b')},
    i8_top AS MATERIALIZED {_sql_comp_top(_sql_icos('q.qq8', 'e.q8'), 'b')},
    vu AS (
      SELECT 'full_fp32' AS variant, query_id, neighbor_id FROM full_top
      UNION ALL SELECT 'dim32', query_id, neighbor_id FROM d32_top
      UNION ALL SELECT 'dim16', query_id, neighbor_id FROM d16_top
      UNION ALL SELECT 'int8', query_id, neighbor_id FROM i8_top
    )
    SELECT v.variant, v.query_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(x.neighbor_id) AS BIGINT) AS n_hits,
           CAST((count(x.neighbor_id) * 100) // count(*) AS BIGINT) AS recall_pct,
           CAST(CASE v.variant WHEN 'full_fp32' THEN 256 WHEN 'dim32' THEN 128
                               WHEN 'dim16' THEN 64 ELSE 68 END
                AS BIGINT) AS bytes_per_vec
    FROM vu v LEFT JOIN full_top x
      ON x.query_id = v.query_id AND x.neighbor_id = v.neighbor_id
    GROUP BY v.variant, v.query_id
"""


@query("embedding_compression_recall", oracle=_COMPRESSION_RECALL_ORACLE)
def embedding_compression_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-COMPRESSION recall ladder (round 8) — the memory/bandwidth
    twin of ann_recall_report's index ladder. The index ladder varies HOW
    candidates are found; this ladder varies WHAT is stored: full fp32
    (256 B/vec), Matryoshka-style dimension truncation to 32 and 16 dims
    (128/64 B), and per-vector absmax int8 scalar quantization (64 B + a
    4 B scale). recall@10 of each representation's brute-force top-10
    against the full-precision ground truth, per query (vec_id in
    [10,15), the recall-ladder query set) — the measured table that
    decides whether a 100 TB vector store can run at a quarter of the
    scan bandwidth. The full_fp32 row is the ladder's built-in
    self-check: it IS the ground truth, so its recall_pct must be 100
    (asserted in tests/test_round8_retrieval.py, with the bytes-ordering
    invariant: n_exact — the MEASURED retrieved count, structurally 10
    on any corpus of ≥ 11 vectors — equals 10 on every fixture row,
    recall integers in [0,100]).

    Cross-engine exactness: int8 codes are floor(x·127/absmax) — floor is
    exact, so codes match bit-for-bit; quantized cosine is an int64 dot
    (exact, commutative) over sqrt of an int64 norm product (≤ 64·127⁴
    « 2⁶³, no overflow) — one IEEE divide; float-variant cosines are the
    shared sequential left-fold (functions/similarity.py::cosine ≡ DuckDB
    list_reduce). recall_pct = (n_hits·100) // n_exact stays integer-exact.

    Scale shape: each representation's scoring pass is the audited
    cosine_topk_bruteforce shape — request-sized query set broadcast
    (never the corpus), non-equi ≠ guard, corpus streamed once per
    variant; each variant's 50-row top-10 relation is pinned before the
    report join so the scoring pipelines run once (scan-discipline rule).
    Quantization itself is a row-local projection — at 100 TB it runs at
    scan speed and the int8 store is what the ANN ladder's IVF cells
    would hold."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def idot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    # absmax is projected as its OWN column first: embedding it inside
    # the quantizer lambda would re-evaluate the d-op fold once per
    # element (O(d²)/row — the re-evaluated-lambda trap char_entropy's
    # rewrite documents). A named lambda variable via
    # aggregate's finish hop keeps it one evaluation even if projection
    # collapse inlines the column.
    amax = F.greatest(
        F.aggregate(
            F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double"))),
            F.lit(0.0),
            lambda a, c: F.greatest(a, c),
        ),
        F.lit(1e-30),
    )
    codes = F.aggregate(
        F.array(amax),  # 1-element array: bind amax ONCE as a lambda arg
        F.lit(None).cast("array<long>"),
        lambda _acc, m: F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * 127.0 / m).cast("long"),
        ),
    )
    reps = emb.select(
        "vec_id",
        "embedding",
        F.slice("embedding", 1, 32).alias("v32"),
        F.slice("embedding", 1, 16).alias("v16"),
        codes.alias("q8"),
    ).localCheckpoint(eager=False)
    from dataflowjavasdk_spark.functions import similarity as S

    qs = S.query_set(
        reps,
        (F.col("vec_id") >= 10) & (F.col("vec_id") < 15),
        F.col("v32").alias("qv32"),
        F.col("v16").alias("qv16"),
        F.col("q8").alias("qq8"),
    )

    def topk(score_col) -> DataFrame:
        return (
            S.top_k(reps, qs, score_col, 10, name="s")
            .select("query_id", "neighbor_id")
            .localCheckpoint(eager=False)
        )

    full_top = topk(S.cosine(F.col("qv"), F.col("embedding")))
    d32_top = topk(S.cosine(F.col("qv32"), F.col("v32")))
    d16_top = topk(S.cosine(F.col("qv16"), F.col("v16")))
    i8_top = topk(
        idot(F.col("qq8"), F.col("q8")).cast("double")
        / F.sqrt(
            (idot(F.col("qq8"), F.col("qq8")) * idot(F.col("q8"), F.col("q8")))
            .cast("double")
        )
    )
    bytes_map = {"full_fp32": 256, "dim32": 128, "dim16": 64, "int8": 68}
    vu = None
    for name, t in (
        ("full_fp32", full_top),
        ("dim32", d32_top),
        ("dim16", d16_top),
        ("int8", i8_top),
    ):
        tagged = t.select(F.lit(name).alias("variant"), "query_id", "neighbor_id")
        vu = tagged if vu is None else vu.unionByName(tagged)
    hit = full_top.withColumn("hit", F.lit(1))
    joined = vu.join(hit, ["query_id", "neighbor_id"], "left")
    bytes_col = F.coalesce(
        *[
            F.when(F.col("variant") == n, F.lit(v)) for n, v in bytes_map.items()
        ]
    )
    # n_exact is the MEASURED retrieved count, not a hardcoded 10
    # (ADVICE r8): structurally it equals 10 whenever the corpus holds
    # ≥ 11 vectors (row_number ≤ 10 over corpus-minus-self), and the
    # test pins that at fixture scale — but the denominator column now
    # reports what actually happened, so a tiny corpus can't silently
    # inflate recall.
    n_ret = F.count(F.lit(1))
    n_hits = F.sum(F.coalesce(F.col("hit"), F.lit(0)))
    return joined.groupBy("variant", "query_id").agg(
        n_ret.cast("long").alias("n_exact"),
        n_hits.cast("long").alias("n_hits"),
        F.floor(n_hits * 100 / n_ret).cast("long").alias("recall_pct"),
        F.max(bytes_col).cast("long").alias("bytes_per_vec"),
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of the lexical and dense legs

_RRF_C = 60  # the standard RRF damping constant (Cormack et al.)
_RRF_PTS = "floor(1000000000.0 / ({c} + rk))::BIGINT".format(c=_RRF_C)

_DENSE_CTES = f"""dq AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id < 3
    ),
    dense_top AS (
      SELECT query_id, doc_id, rk FROM (
        SELECT dq.query_id, e.vec_id AS doc_id,
               row_number() OVER (PARTITION BY dq.query_id
                                  ORDER BY {_sql_cos('dq.qv', 'e.embedding')} DESC,
                                           e.vec_id) AS rk
        FROM dq CROSS JOIN embeddings e WHERE e.vec_id <> dq.query_id)
      WHERE rk <= {_BM25_K}
    )"""


# Fusion CTE chain on top of bm25_top + dense_top — shared by the RRF
# query and the label-precision eval.
_RRF_CTES = f"""u AS (
      SELECT query_id, doc_id, {_RRF_PTS} AS pts,
             1 AS is_lex, 0 AS is_dense
      FROM bm25_top
      UNION ALL
      SELECT query_id, doc_id, {_RRF_PTS} AS pts,
             0 AS is_lex, 1 AS is_dense
      FROM dense_top
    ),
    fused AS (
      SELECT query_id, doc_id,
             CAST(sum(pts) AS BIGINT) AS rrf_nano,
             CAST(max(is_lex) AS BIGINT) AS in_lexical,
             CAST(max(is_dense) AS BIGINT) AS in_dense
      FROM u GROUP BY query_id, doc_id
    ),
    rrf_top AS (
      SELECT query_id, doc_id, rrf_nano, in_lexical, in_dense, rk FROM (
        SELECT query_id, doc_id, rrf_nano, in_lexical, in_dense,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY rrf_nano DESC, doc_id) AS rk
        FROM fused)
      WHERE rk <= {_BM25_K}
    )"""


@query(
    "hybrid_rrf_fusion",
    oracle=f"""
    WITH {_BM25_CTES},
    {_DENSE_CTES},
    {_RRF_CTES}
    SELECT query_id, doc_id, rrf_nano, in_lexical, in_dense, rk
    FROM rrf_top
    """,
)
def hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (round 8) — the
    production RAG composition the two retrieval legs exist FOR: BM25's
    lexical top-10 (the _bm25_ranked chain, shared code AND shared oracle
    CTE text) fused with dense cosine top-10 over the same query ids
    (vec_id < 3 ≡ doc_id < 3 — the fixture keys embeddings by doc id).
    RRF score = Σ_legs 1/(60 + rank), the rank-only fusion that needs NO
    score calibration between incommensurable scorers — which is exactly
    why production uses it.

    Cross-engine exactness: each leg's contribution is
    floor(1e9/(60+rank)) — an exact int64 from an exact int rank — so the
    fused score is an integer SUM (commutative, fold-order-free), the
    same structural trick as BM25's micro-units; ties break on doc_id.
    in_lexical/in_dense flags make the fusion auditable: a doc surfaced
    by one leg only is visible, which is the operational signal for
    re-weighting legs.

    Scale shape: strictly the union of the two legs' audited shapes
    (postings equi-join + broadcast query set), then ONE bounded exchange
    over the ≤ 2·k·|queries| fused rows — fusion itself is free at any
    corpus size because it only ever touches the legs' top-k relations."""
    return _rrf_from_legs(_bm25_ranked(spark, sf_dir), _dense_ranked(spark, sf_dir))


def _rrf_from_legs(lex: DataFrame, dense: DataFrame) -> DataFrame:
    """RRF fusion of two already-ranked legs — shared by the registered
    fusion query and the label-precision eval (which pins the legs so
    each is computed once across fusion AND per-leg scoring)."""
    pts = F.floor(F.lit(1_000_000_000.0) / (F.lit(_RRF_C) + F.col("rk"))).cast(
        "long"
    )
    u = lex.select(
        "query_id", "doc_id", pts.alias("pts"),
        F.lit(1).alias("is_lex"), F.lit(0).alias("is_dense"),
    ).unionByName(
        dense.select(
            "query_id", "doc_id", pts.alias("pts"),
            F.lit(0).alias("is_lex"), F.lit(1).alias("is_dense"),
        )
    )
    fused = u.groupBy("query_id", "doc_id").agg(
        F.sum("pts").cast("long").alias("rrf_nano"),
        F.max("is_lex").cast("long").alias("in_lexical"),
        F.max("is_dense").cast("long").alias("in_dense"),
    )
    wf = W.partitionBy("query_id").orderBy(F.col("rrf_nano").desc(), "doc_id")
    return (
        fused.withColumn("rk", F.row_number().over(wf))
        .filter(F.col("rk") <= _BM25_K)
    )


@query(
    "retrieval_label_precision",
    oracle=f"""
    WITH {_BM25_CTES},
    {_DENSE_CTES},
    {_RRF_CTES},
    legs AS (
      SELECT 'lexical' AS leg, query_id, doc_id FROM bm25_top
      UNION ALL SELECT 'dense', query_id, doc_id FROM dense_top
      UNION ALL SELECT 'fused', query_id, doc_id FROM rrf_top
    ),
    lab AS (SELECT vec_id, label FROM embeddings)
    SELECT l.leg, l.query_id,
           CAST(ql.label AS BIGINT) AS query_label,
           CAST(count(*) AS BIGINT) AS n_retrieved,
           CAST(sum(CASE WHEN dl.label = ql.label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           CAST((sum(CASE WHEN dl.label = ql.label THEN 1 ELSE 0 END) * 100)
                // count(*) AS BIGINT) AS precision_pct
    FROM legs l
    JOIN lab dl ON dl.vec_id = l.doc_id
    JOIN lab ql ON ql.vec_id = l.query_id
    GROUP BY l.leg, l.query_id, ql.label
    """,
)
def retrieval_label_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality eval over a relevance proxy (round 8): the
    embeddings table carries a class `label` per vector, so
    "retrieved doc shares the query's label" is a measurable relevance
    signal — precision@10 per leg (lexical BM25, dense cosine, RRF
    fused) per query, all three legs sharing the exact chains of their
    registered queries (same code, same oracle CTE text). This is the
    table that justifies — or indicts — each leg. Measured on the sf0.01
    fixtures: EVERY leg sits at the ~10% random-match floor (lexical
    mean 10%, dense 13%, fused 10% over the 3 queries) — the synthetic
    text AND embeddings are label-independent, and the eval exists
    precisely to MEASURE that instead of assuming retrieval quality; on
    a real corpus this table is the per-leg weighting signal (the
    measured counterpart of ann_recall_report's candidate-starvation
    column).

    n_hits and n_retrieved are exact integer counts and precision_pct =
    (n_hits·100) // n_retrieved (floor division in both engines), so
    the whole eval value-hashes with no float output.

    Scale shape: the three legs' audited shapes, then label attachment
    via an equi-join against the (id,label) projection — at 100 TB the
    label relation streams by id while each leg's contribution stays
    ≤ k·|queries| rows; the final rollup is a bounded exchange."""
    # pin each leg: both the per-leg rows AND the fused leg consume them,
    # and Spark recomputes two-branch subplans (the tfidf lesson)
    lex = _bm25_ranked(spark, sf_dir).localCheckpoint(eager=False)
    dense = _dense_ranked(spark, sf_dir).localCheckpoint(eager=False)
    legs = None
    for name, t in (
        ("lexical", lex),
        ("dense", dense),
        ("fused", _rrf_from_legs(lex, dense)),
    ):
        tagged = t.select(F.lit(name).alias("leg"), "query_id", "doc_id")
        legs = tagged if legs is None else legs.unionByName(tagged)
    lab = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    doc_lab = lab.select(
        F.col("vec_id").alias("doc_id"), F.col("label").alias("doc_label")
    )
    q_lab = lab.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("query_label")
    )
    hit = F.when(F.col("doc_label") == F.col("query_label"), 1).otherwise(0)
    # precision denominator is the MEASURED per-(leg,query) retrieved
    # count, not a hardcoded 10 (ADVICE r8): the BM25 leg can return
    # fewer than k candidates when few documents share any query term,
    # and a hardcoded k would silently inflate the implied denominator.
    n_ret = F.count(F.lit(1))
    return (
        legs.join(doc_lab, "doc_id")
        .join(F.broadcast(q_lab), "query_id")
        .groupBy("leg", "query_id", F.col("query_label").cast("long").alias("query_label"))
        .agg(
            n_ret.cast("long").alias("n_retrieved"),
            F.sum(hit).cast("long").alias("n_hits"),
            F.floor(F.sum(hit) * 100 / n_ret).cast("long").alias("precision_pct"),
        )
    )
