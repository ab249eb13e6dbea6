"""Query batch — round-6 curation operators: data selection (DSIR-style
hashed-ngram importance) and friends.

Scale design notes live on each query; the shared discipline: feature
hashing collapses the unbounded gram space to a CONSTANT bucket relation
(broadcastable at any corpus size), importance scores are integer-exact
(scaled ratios via integer division — no float logs, so the DuckDB twin
hashes bit-identically), and selection heads use TakeOrderedAndProject
(bounded per-task heaps), never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from dataflowjavasdk_spark.functions.text import md5_long, tokens
from dataflowjavasdk_spark.queries.registry import query
from dataflowjavasdk_spark.session import scratch_dir
from dataflowjavasdk_spark.sources.tables import load_table

# DSIR feature space: unigrams + bigrams hashed into a constant number of
# buckets. 256 keeps the fixture buckets well-populated; production would
# use 10k (the published setting) — the plan shape is identical because
# the bucket relation is constant-size either way.
_N_BUCKETS = 256
_SCALE = 1_000_000
_TARGET_SOURCES = ("src0", "src1", "src2")


@query(
    "dsir_importance_select",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(string_split(text, ' '), t -> t <> '') AS tk
      FROM documents
    ),
    grams AS (
      SELECT doc_id, source,
             unnest(list_concat(
               tk,
               list_transform(range(1, len(tk)),
                              i -> tk[i] || ' ' || tk[i + 1]))) AS gram
      FROM toks
    ),
    hashed AS (
      SELECT doc_id, source,
             ('0x' || substr(md5(gram), 1, 15))::BIGINT % {_N_BUCKETS} AS b
      FROM grams
    ),
    raw_cnt AS (SELECT b, count(*) AS c_r FROM hashed GROUP BY b),
    tgt_cnt AS (
      SELECT b, count(*) AS c_t FROM hashed
      WHERE source IN {_TARGET_SOURCES!r}
      GROUP BY b
    ),
    bucket_scores AS (
      SELECT r.b,
             ({_SCALE} * (COALESCE(t.c_t, 0) + 1)) // (r.c_r + 1) AS s
      FROM raw_cnt r LEFT JOIN tgt_cnt t USING (b)
    ),
    doc_scores AS (
      SELECT doc_id, source,
             CAST(count(*) AS BIGINT) AS n_grams,
             CAST(SUM(s) AS BIGINT) AS score
      FROM hashed JOIN bucket_scores USING (b)
      GROUP BY doc_id, source
    ),
    top AS (
      SELECT * FROM doc_scores ORDER BY score DESC, doc_id LIMIT 100
    )
    SELECT doc_id, source, n_grams, score,
           row_number() OVER (ORDER BY score DESC, doc_id) AS rk
    FROM top
    """,
)
def dsir_importance_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (round 6) — importance resampling with
    hashed n-gram features (Xie et al. 2023, public method): score every
    raw document by how target-domain-like its hashed unigram+bigram
    distribution is, then keep the top slice. The target here is the
    src0-src2 subcorpus; per-bucket importance is the add-one-smoothed
    count ratio as a SCALED INTEGER — ``(SCALE*(c_target+1)) div
    (c_raw+1)`` — instead of the paper's log-probability ratio, a
    documented deviation that keeps every intermediate integer-exact so
    the DuckDB twin value-hashes bit-identically (same trade the k-means
    and PageRank queries make; monotone per bucket, summed over gram
    occurrences per doc). Selection takes the top-100 by (score,
    doc_id) and derives the rank AFTER the limit.

    Scale shape: one corpus pass explodes grams and hashes them
    row-locally; bucket counts are two aggregates onto a CONSTANT
    {_N_BUCKETS}-row relation; the score join broadcasts that constant
    relation back (never the corpus); per-doc scores are one aggregate;
    the head is TakeOrderedAndProject (bounded per-task heap, no global
    sort). The corpus shuffles once, keyed by 8-byte doc_id."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    tk = tokens("text")
    uni = tk
    bi = F.when(
        F.size(tk) >= 2,
        F.zip_with(
            F.slice(tk, 1, F.size(tk) - 1),
            F.slice(tk, 2, F.size(tk) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    hashed = (
        docs.select(
            "doc_id",
            "source",
            F.explode(F.concat(uni, bi)).alias("gram"),
        )
        .select(
            "doc_id",
            "source",
            F.pmod(md5_long(F.col("gram")), F.lit(_N_BUCKETS)).alias("b"),
        )
        # feeds raw counts, target counts, AND the per-doc score join —
        # pin once (the shingle-relation discipline, dedup.py)
        .localCheckpoint(eager=False)
    )
    raw_cnt = hashed.groupBy("b").agg(F.count(F.lit(1)).alias("c_r"))
    tgt_cnt = (
        hashed.filter(F.col("source").isin(*_TARGET_SOURCES))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c_t"))
    )
    bucket_scores = raw_cnt.join(tgt_cnt, "b", "left").select(
        "b",
        F.expr(
            f"({_SCALE} * (coalesce(c_t, 0) + 1)) div (c_r + 1)"
        ).alias("s"),
    )
    doc_scores = (
        hashed.join(F.broadcast(bucket_scores), "b")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("s").alias("score"),
        )
    )
    top = doc_scores.orderBy(F.col("score").desc(), "doc_id").limit(100)
    return top.withColumn(
        "rk", F.row_number().over(W.orderBy(F.col("score").desc(), "doc_id"))
    ).select("doc_id", "source", "n_grams", "score", "rk")


from dataflowjavasdk_spark.functions import similarity as S  # noqa: E402
from dataflowjavasdk_spark.queries.similarity import _sql_cosine  # noqa: E402

_CONTEXT_BUDGET = 64  # tokens; fixture docs run ~15 tokens -> ~4 packed


@query(
    "rag_retrieval_pipeline",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {_sql_cosine('q.qv', 'e.embedding')} AS cosine
      FROM q CROSS JOIN embeddings e
      WHERE e.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rk
      FROM scored
    ),
    top AS (SELECT * FROM ranked WHERE rk <= 20),
    docs AS (
      SELECT doc_id, text,
             len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens
      FROM documents
    ),
    joined AS (
      SELECT query_id, rk, text, n_tokens
      FROM top JOIN docs ON docs.doc_id = top.neighbor_id
    ),
    cum AS (
      SELECT *, SUM(n_tokens) OVER (PARTITION BY query_id ORDER BY rk
                                    ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM joined
    ),
    packed AS (SELECT * FROM cum WHERE cum_tokens <= {_CONTEXT_BUDGET})
    SELECT query_id,
           CAST(count(*) AS BIGINT) AS n_packed,
           CAST(max(cum_tokens) AS BIGINT) AS packed_tokens,
           md5(string_agg(text, chr(10) ORDER BY rk)) AS context_md5
    FROM packed GROUP BY query_id
    """,
)
def rag_retrieval_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed RAG retrieval flagship (round 6) — the TEXT twin of the
    multimodal curation pipeline: query vectors -> exact cosine
    retrieval -> rank -> join document text -> greedy context packing
    under a {_CONTEXT_BUDGET}-token budget -> per-query context
    fingerprint. The md5 of the packed context (texts concatenated in
    rank order) makes the oracle END-TO-END: a defect anywhere —
    similarity math, rank order, doc join, token counting, the packing
    cutoff, even concatenation order — changes the fingerprint. Exact
    brute-force retrieval is the oracle-friendly baseline; the IVF / PQ
    / LSH index queries are the documented scale path for the same
    retrieve stage.

    Scale shape: the query set broadcasts (never the corpus); scoring is
    map-side against the streaming embeddings scan; everything after
    rank lives on the top-20-per-query relation (bounded: 20 x
    |queries| rows), where window cumsums and the packing filter are
    free. Document text joins AFTER the top-k cut — only survivors'
    payloads move."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = S.query_set(emb, F.col("vec_id") < 5)
    top = S.top_k(emb, q, S.cosine(F.col("qv"), F.col("embedding")), 20)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.size(tokens("text")).alias("n_tokens")
    )
    joined = top.join(docs, top.neighbor_id == docs.doc_id).select(
        "query_id", "rk", "text", "n_tokens"
    )
    wc = W.partitionBy("query_id").orderBy("rk").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    packed = joined.withColumn(
        "cum_tokens", F.sum("n_tokens").over(wc)
    ).filter(F.col("cum_tokens") <= _CONTEXT_BUDGET)
    return packed.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_packed"),
        F.max("cum_tokens").alias("packed_tokens"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rk", "text"))),
                    lambda s: s["text"],
                ),
                "\n",
            )
        ).alias("context_md5"),
    )


@query(
    "epoch_shuffle_manifest",
    oracle="""
    WITH epochs AS (SELECT unnest(range(0, 2)) AS epoch),
    keyed AS (
      SELECT e.epoch, d.doc_id,
             ('0x' || substr(md5(e.epoch::VARCHAR || ':' || d.doc_id::VARCHAR),
                             1, 15))::BIGINT AS k
      FROM documents d CROSS JOIN epochs e
    ),
    sharded AS (SELECT epoch, doc_id, k, k % 8 AS shard FROM keyed)
    SELECT epoch, CAST(shard AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
           md5(string_agg(doc_id::VARCHAR, ',' ORDER BY k, doc_id)) AS order_md5
    FROM sharded GROUP BY epoch, shard
    """,
)
def epoch_shuffle_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle (round 6) — the data-ORDER half of
    training reproducibility (the shard-SIZE half is
    training_shard_manifest): per epoch, every document draws an
    md5(epoch:doc_id) key; the key's low bits pick the shard and the key
    orders documents within it. Seed-driven, so epoch 0 and epoch 1 are
    different global permutations, yet any engine/restart reproduces
    them bit-for-bit — the property trainers need to resume mid-epoch.
    The manifest row per (epoch, shard) carries the count, an id
    checksum, and an md5 fingerprint of the exact intra-shard ORDER, so
    the oracle pins the permutation itself, not just membership.

    Scale shape: keys are row-local expressions; the only exchange is
    the (epoch, shard) groupBy — 8-byte keys, corpus text untouched.
    The intra-shard sort rides inside the aggregate (sort_array over
    collect_list per group — each group is one shard, the unit a loader
    consumes; shard count scales with corpus so groups stay bounded)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    keyed = docs.select(
        "doc_id", F.explode(F.array(F.lit(0), F.lit(1))).alias("epoch")
    ).select(
        "epoch",
        "doc_id",
        md5_long(
            F.concat_ws(":", F.col("epoch"), F.col("doc_id"))
        ).alias("k"),
    )
    sharded = keyed.withColumn("shard", F.pmod("k", F.lit(8)).cast("long"))
    return sharded.groupBy("epoch", "shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("sum_doc_id"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("k", "doc_id"))
                    ),
                    lambda s: s["doc_id"].cast("string"),
                ),
                ",",
            )
        ).alias("order_md5"),
    )


def _z_expr(x: str, y: str, bits: int = 10) -> str:
    """Bit-interleave expression text (shared verbatim by Spark and
    DuckDB: >>, &, * and + only): z = sum_b x_b*4^b + 2*y_b*4^b."""
    terms = []
    for b in range(bits):
        terms.append(f"((({x} >> {b}) & 1) * {1 << (2 * b)})")
        terms.append(f"((({y} >> {b}) & 1) * {1 << (2 * b + 1)})")
    return "(" + " + ".join(terms) + ")"


@query(
    "zorder_clustered_shards",
    oracle=f"""
    WITH pts AS (
      SELECT doc_id % 1024 AS x, n_chars % 1024 AS y FROM documents
    ),
    keyed AS (
      SELECT x, y, {_z_expr('x', 'y')} // 65536 AS shard FROM pts
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(x) AS BIGINT) AS min_x, CAST(max(x) AS BIGINT) AS max_x,
           CAST(min(y) AS BIGINT) AS min_y, CAST(max(y) AS BIGINT) AS max_y
    FROM keyed GROUP BY shard
    """,
)
def zorder_clustered_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered layout (round 6) — the multi-dimensional
    data-skipping primitive lakehouse writers run before a big scan
    workload: interleave the bits of two scan dimensions (both mod 1024
    here: a 10+10-bit key space) and shard on ALIGNED z-ranges
    (z div 2^16 -> 16 shards). The Morton-curve property makes each
    shard EXACTLY one 256 x 256 tile of the (x, y) plane — per-shard
    min/max spans are <= 255 on BOTH dimensions simultaneously, which is
    what lets a reader skip shards from either predicate; 1-D sorting
    can only bound one. The emitted manifest (count + min/max per dim
    per shard) IS the skipping index; the tile property is test-pinned
    and the oracle recomputes the interleave bit-for-bit from the same
    expression text.

    Scale shape: the z key is pure row-local bit arithmetic (no sort —
    aligned range sharding replaces the global orderBy a naive zorder
    write would do); the only exchange is the 16-key groupBy. At 100 TB
    the same key feeds repartitionByRange + sortWithinPartitions for
    the physical write; the manifest computation here is the verifiable
    core."""
    docs = load_table(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 1024).alias("x"),
        (F.col("n_chars") % 1024).alias("y"),
    )
    keyed = docs.withColumn(
        "shard", F.expr(f"{_z_expr('x', 'y')} div 65536")
    )
    return keyed.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
    )


@query(
    "trainer_egress_pipeline",
    oracle="""
    WITH gated AS (
      SELECT doc_id, text FROM documents WHERE n_chars >= 100
    ),
    keyed AS (
      SELECT doc_id,
             ('0x' || substr(md5('0:' || doc_id::VARCHAR), 1, 15))::BIGINT AS k,
             len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens
      FROM gated
    ),
    sharded AS (SELECT *, k % 4 AS shard FROM keyed),
    packed AS (
      SELECT *,
             (SUM(n_tokens) OVER (PARTITION BY shard ORDER BY k, doc_id
                                  ROWS UNBOUNDED PRECEDING) - n_tokens) // 256
               AS seq_id
      FROM sharded
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT seq_id) AS BIGINT) AS n_seqs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
    FROM packed GROUP BY shard
    """,
)
def trainer_egress_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed trainer-egress flagship (round 6) — the fourth corner of
    the pipeline triad-plus-one (WARC ingest, multimodal curation, RAG
    retrieval, and now EGRESS): quality gate -> deterministic epoch-0
    order (md5 keys) -> 4-way sharding -> greedy 256-token sequence
    packing in arrival order (the sequence_packing discipline, applied
    per shard) -> PHYSICAL TFRecord write with the Example codec ->
    CRC-verified read-back -> per-shard manifest. The oracle states the
    expected manifest from the relational definition alone, so the
    value hash proves the packed structure SURVIVED the wire format —
    order keys, shard routing, pack boundaries, token counts and id
    checksums all round-trip through framing, varints and utf-8.

    Scale shape: gate and keys are scan-local; the pack window rides
    ONE shard-keyed exchange; the shard write is one file per
    partition with payloads never shuffling; read-back parallelism is
    per shard. The manifest aggregate reuses the shard partitioning."""

    from dataflowjavasdk_spark.sources.tfrecord import (
        read_tfrecord,
        write_tfrecord,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars") >= 100
    )
    keyed = docs.select(
        "doc_id",
        md5_long(F.concat(F.lit("0:"), F.col("doc_id"))).alias("k"),
        F.size(tokens("text")).alias("n_tokens"),
    ).withColumn("shard", F.pmod("k", F.lit(4)).cast("long"))
    wp = (
        W.partitionBy("shard")
        .orderBy("k", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    packed = (
        keyed.withColumn("cum", F.sum("n_tokens").over(wp))
        .withColumn("seq_id", F.expr("(cum - n_tokens) div 256"))
        .select("doc_id", "shard", "seq_id", "n_tokens")
    )
    d = scratch_dir("trainer_egress_")
    write_tfrecord(packed.repartition(4), d)
    back = read_tfrecord(
        spark,
        d,
        {
            "doc_id": "bigint",
            "shard": "bigint",
            "seq_id": "bigint",
            "n_tokens": "bigint",
        },
    )
    return back.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("seq_id").alias("n_seqs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("doc_id").alias("sum_doc_id"),
    )


_BUDGET_TOKENS = 5_000


def _isqrt_sql(x: str, div: str) -> str:
    """Exact integer sqrt of the BIGINT expression ``x`` as a scalar SQL
    expression valid in both engines (``div`` is the integer-division
    operator: Spark ``DIV``, DuckDB ``//``).

    floor(sqrt(double)) alone is exact only for x < ~2^52 (ADVICE r7):
    above that, sqrt(k*k - 1) can round up to exactly k. Two
    division-based correction steps (overflow-safe — never squares a
    candidate) pin it: first pull an overshoot back, then push an
    undershoot up. ``x div w < w  ⟺  w*w > x`` and
    ``x div (w+1) >= w+1  ⟺  (w+1)^2 <= x`` hold exactly for integer
    division with positive divisors."""
    w0 = f"CAST(floor(sqrt(CAST({x} AS DOUBLE))) AS BIGINT)"
    w1 = f"(CASE WHEN {w0} > 0 AND {x} {div} {w0} < {w0} THEN {w0} - 1 ELSE {w0} END)"
    return (
        f"(CASE WHEN {x} {div} ({w1} + 1) >= ({w1} + 1) "
        f"THEN {w1} + 1 ELSE {w1} END)"
    )


@query(
    "epoch_token_budget",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source,
             len(list_filter(string_split(text, ' '), t -> t <> ''))
               AS n_tok,
             ('0x' || substr(md5('budget:' || doc_id::VARCHAR), 1, 15))
               ::BIGINT AS draw
      FROM documents
    ),
    totals AS (
      SELECT source, n_docs, total_tokens,
             {_isqrt_sql("total_tokens", "//")} AS weight
      FROM (SELECT source, count(*) AS n_docs,
                   CAST(SUM(n_tok) AS BIGINT) AS total_tokens
            FROM tok GROUP BY source)
    ),
    sw AS (SELECT SUM(weight) AS sum_w FROM totals),
    alloc AS (
      SELECT t.source, t.n_docs, t.total_tokens, t.weight,
             CAST(({_BUDGET_TOKENS} * t.weight) // (SELECT sum_w FROM sw)
                  AS BIGINT) AS alloc_tokens
      FROM totals t
    ),
    ordered AS (
      SELECT tok.doc_id, tok.source, tok.n_tok,
             COALESCE(SUM(n_tok) OVER (PARTITION BY source
                                       ORDER BY draw, doc_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                                AND 1 PRECEDING), 0)
               AS cum_before
      FROM tok
    )
    SELECT a.source, a.n_docs, a.total_tokens, a.weight, a.alloc_tokens,
           CAST(SUM(CASE WHEN o.cum_before < a.alloc_tokens
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_taken,
           CAST(SUM(CASE WHEN o.cum_before < a.alloc_tokens
                         THEN o.n_tok ELSE 0 END) AS BIGINT) AS tokens_taken
    FROM ordered o JOIN alloc a USING (source)
    GROUP BY a.source, a.n_docs, a.total_tokens, a.weight, a.alloc_tokens
    """,
)
def epoch_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget epoch PLANNING (round 7) — the question a training
    run answers before reading any data: given a fixed token budget,
    how many tokens does each source contribute and which documents are
    in? Per-source token totals get integer-sqrt temperature weights
    (alpha=0.5 in token space — floor(sqrt(double)) plus the
    division-based correction in ``_isqrt_sql`` makes it the exact
    isqrt for the FULL int64 range, and every downstream step is
    INTEGER arithmetic: alloc = budget*w DIV sum_w, so the plan
    value-hash oracles with no float summation anywhere); documents
    draw in a
    deterministic md5 order (the same replayable-shuffle idiom as
    epoch_shuffle_manifest) and a source takes documents while its
    cumulative tokens-before stays under its allocation — the classic
    greedy cut where the boundary document may overshoot (a real loader
    truncates it; the report counts whole documents).

    Differs from temperature_mix_sqrt (per-DOC keep-rates toward the
    smallest source) in being TOKEN-denominated against an absolute
    budget — the two reports together are the mixing recipe's audit.

    At 100 TB: one corpus scan computes token counts + draw keys; the
    per-source cumulative is ONE exchange keyed by source (the window);
    totals/weights are |sources| rows pinned, the weight-sum a 1-row
    broadcast. The taken-set decision is per-row against broadcast
    allocations — nothing corpus-sized shuffles twice."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "source",
        F.size(tokens("text")).alias("n_tok"),
        md5_long(
            F.concat(F.lit("budget:"), F.col("doc_id").cast("string"))
        ).alias("draw"),
    ).localCheckpoint(eager=False)  # feeds totals AND the ordered window
    totals = (
        tok.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
        )
        .withColumn("weight", F.expr(_isqrt_sql("total_tokens", "DIV")))
        .localCheckpoint(eager=False)  # feeds sum_w AND the join back
    )
    sum_w = totals.agg(F.sum("weight").alias("sum_w"))
    alloc = totals.crossJoin(F.broadcast(sum_w)).select(
        "source",
        "n_docs",
        "total_tokens",
        "weight",
        F.expr(f"({_BUDGET_TOKENS} * weight) DIV sum_w").alias("alloc_tokens"),
    )
    w = (
        W.partitionBy("source")
        .orderBy("draw", "doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    ordered = tok.select(
        "source",
        "n_tok",
        F.coalesce(F.sum("n_tok").over(w), F.lit(0)).alias("cum_before"),
    )
    taken = F.when(F.col("cum_before") < F.col("alloc_tokens"), 1).otherwise(0)
    return (
        ordered.join(F.broadcast(alloc), "source")
        .groupBy("source", "n_docs", "total_tokens", "weight", "alloc_tokens")
        .agg(
            F.sum(taken).cast("bigint").alias("n_taken"),
            F.sum(
                F.when(
                    F.col("cum_before") < F.col("alloc_tokens"), F.col("n_tok")
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("tokens_taken"),
        )
    )
