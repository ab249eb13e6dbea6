"""Dedup/similarity semantics tests: MinHash accuracy, LSH recall vs the
exact pipeline, SimHash properties, ANN recall vs brute force."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataflowjavasdk_spark.functions import similarity as S
from dataflowjavasdk_spark.queries.registry import get
from tests.conftest import SMOKE_SF


def test_shingles_and_jaccard(spark):
    df = spark.createDataFrame(
        [("a b c d e", "a b c d x")], "s1 string, s2 string"
    )
    got = df.select(
        S.jaccard(S.shingles("s1", 3), S.shingles("s2", 3)).alias("j")
    ).collect()[0]["j"]
    # shingles s1: {abc,bcd,cde}; s2: {abc,bcd,cdx} → 2/4
    assert got == pytest.approx(0.5)


def test_minhash_estimates_jaccard(spark):
    # two strings with known shingle overlap; 64 hashes → estimate within ~0.2
    a = " ".join(f"w{i}" for i in range(40))
    b = " ".join(f"w{i}" for i in range(30)) + " " + " ".join(f"x{i}" for i in range(10))
    df = spark.createDataFrame([(a, b)], "s1 string, s2 string")
    row = df.select(
        S.jaccard(S.shingles("s1", 3), S.shingles("s2", 3)).alias("true_j"),
        F.size(
            F.filter(
                F.zip_with(
                    S.minhash_signature(S.shingles("s1", 3), 64),
                    S.minhash_signature(S.shingles("s2", 3), 64),
                    lambda x, y: (x == y).cast("int"),
                ),
                lambda v: v == 1,
            )
        ).alias("agree"),
    ).collect()[0]
    est = row["agree"] / 64.0
    assert abs(est - row["true_j"]) < 0.2


def test_lsh_recall_vs_exact_pairs(spark):
    exact = {
        (r["id_a"], r["id_b"])
        for r in get("near_dup_pairs_jaccard").fn(spark, SMOKE_SF).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in get("minhash_lsh_near_dups").fn(spark, SMOKE_SF).collect()
    }
    assert exact, "exact pipeline must find the injected near-dups"
    assert lsh <= exact, "LSH+verify must not emit non-duplicates (precision 1.0)"
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.8, f"LSH recall {recall:.2f} < 0.8"


def test_simhash_properties(spark):
    df = spark.createDataFrame(
        [
            ("a", "the quick brown fox jumps over the lazy dog " * 3),
            ("b", "the quick brown fox jumps over the lazy dog " * 3),
            ("c", "the quick brown fox jumps over the lazy cat " * 3),
            ("d", "completely different vocabulary entirely here now"),
        ],
        "id string, s string",
    )
    simhash = S.simhash64_udf()
    from dataflowjavasdk_spark.functions.text import tokens

    sigs = {r["id"]: r["h"] for r in df.select("id", simhash(tokens("s")).alias("h")).collect()}
    ham = df.select(
        S.hamming64(F.lit(sigs["a"]), F.lit(sigs["c"])).alias("near"),
        S.hamming64(F.lit(sigs["a"]), F.lit(sigs["d"])).alias("far"),
    ).collect()[0]
    assert sigs["a"] == sigs["b"]  # identical docs → identical simhash
    assert ham["near"] < ham["far"]  # near-dup closer than unrelated


def test_ann_lsh_finds_planted_neighbors(spark):
    # The fixture embeddings are random unit vectors (max cosine ~0.25 —
    # no true neighbor structure), so ANN is tested on planted pairs:
    # 20 seeded base vectors + a lightly perturbed twin each (cosine
    # ~0.99). Deterministic planes + deterministic data → stable result.
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    for i in range(20):
        v = rng.normal(size=16)
        v /= np.linalg.norm(v)
        t = v + rng.normal(scale=0.05, size=16)
        t /= np.linalg.norm(t)
        rows.append((i, [float(x) for x in v]))
        rows.append((i + 1000, [float(x) for x in t]))
    df = spark.createDataFrame(rows, "vid int, vec array<float>")
    bucketed = df.withColumn(
        "bucket", S.random_hyperplane_bucket(F.col("vec"), planes=4, dim=16)
    )
    base = bucketed.filter(F.col("vid") < 1000).select(
        F.col("vid").alias("qid"), F.col("bucket").alias("qb")
    )
    twin = bucketed.filter(F.col("vid") >= 1000).select(
        (F.col("vid") - 1000).alias("qid"), F.col("bucket").alias("tb")
    )
    joined = base.join(twin, "qid").select(
        (F.col("qb") == F.col("tb")).cast("int").alias("hit")
    )
    hits = joined.agg(F.sum("hit")).collect()[0][0]
    assert hits >= 10, f"only {hits}/20 planted twins share the LSH bucket"
    # and the full query path returns rows on the fixture corpus
    assert get("ann_lsh_topk").fn(spark, SMOKE_SF).count() > 0


def test_simhash_vectorized_matches_per_token_reference(spark):
    # Round 11: simhash64_udf vectorizes the per-token md5 + bit-vote
    # loop (memoized unique-token hashing, unpackbits bit-majority).
    # Pin bit-identity against the original per-token formulation on a
    # randomized corpus that covers empty docs, None, duplicate tokens,
    # multi-byte unicode, and single-token docs (tie case: 2*ones > n).
    import hashlib
    import random

    import numpy as np

    def reference_one(toks) -> int:
        if toks is None or len(toks) == 0:
            return 0
        counts = np.zeros(64, dtype=np.int64)
        shifts = np.arange(64, dtype=np.uint64)
        for t in toks:
            h = np.uint64(int(hashlib.md5(t.encode("utf-8")).hexdigest()[:16], 16))
            bits = (h >> shifts) & np.uint64(1)
            counts += np.where(bits == 1, 1, -1)
        out = 0
        for b in range(64):
            if counts[b] > 0:
                out |= 1 << b
        return out - (1 << 64) if out >= (1 << 63) else out

    rng = random.Random(11)
    vocab = [f"tok{i}" for i in range(200)] + ["héllo", "日本語", "a b", ""]
    rows = []
    for i in range(400):
        k = rng.choice([0, 1, 2, 3, 5, 17, 64, 131])
        toks = [rng.choice(vocab[:-1]) for _ in range(k)]
        rows.append((i, toks))
    rows.append((400, None))
    df = spark.createDataFrame(rows, "id int, toks array<string>")
    got = {
        r["id"]: r["h"]
        for r in df.select("id", S.simhash64_udf()(F.col("toks")).alias("h")).collect()
    }
    for i, toks in rows:
        assert got[i] == reference_one(toks), (i, toks)


def test_hyperplane_literal_matrix_matches_md5_expression(spark):
    # Round 11: random_hyperplane_bucket embeds the (constant) plane
    # matrix as array<double> literals instead of recomputing planes*dim
    # md5+pmod expressions per row. This pins bit-identity against the
    # original md5-expression formulation on the full fixture embeddings
    # for both plane families in use (8x64 and 16x64), and pins the
    # matrix values themselves against the Spark md5 expression.
    from dataflowjavasdk_spark.functions.similarity import _plane_matrix
    from dataflowjavasdk_spark.functions.text import md5_long
    from dataflowjavasdk_spark.sources.tables import load_table

    def reference_bucket(vec, planes, dim):
        plane_component = lambda p, d: (
            F.pmod(
                md5_long(
                    F.concat(
                        F.lit("plane:"), p.cast("string"), F.lit(":"), d.cast("string")
                    )
                ),
                F.lit(2001),
            ).cast("double")
            - F.lit(1000.0)
        ) / F.lit(1000.0)
        dims = F.sequence(F.lit(0), F.lit(dim - 1))
        plane_dot = lambda p: F.aggregate(
            F.zip_with(
                vec,
                F.transform(dims, lambda d: plane_component(p, d)),
                lambda x, w: x.cast("double") * w,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        planes_seq = F.sequence(F.lit(0), F.lit(planes - 1))
        bits = F.transform(
            planes_seq,
            lambda p: F.when(plane_dot(p) >= 0, F.lit(1)).otherwise(F.lit(0)),
        )
        return F.aggregate(bits, F.lit(0), lambda acc, b: acc * 2 + b)

    # matrix values == the Spark md5-expression values, exactly
    probe = [(0, 0), (0, 63), (7, 31), (15, 63), (3, 17)]
    row = (
        spark.range(1)
        .select(
            *[
                (
                    (
                        F.pmod(md5_long(F.lit(f"plane:{p}:{d}")), F.lit(2001)).cast(
                            "double"
                        )
                        - F.lit(1000.0)
                    )
                    / F.lit(1000.0)
                ).alias(f"c_{p}_{d}")
                for p, d in probe
            ]
        )
        .collect()[0]
    )
    mat = _plane_matrix(16, 64)
    for p, d in probe:
        assert row[f"c_{p}_{d}"] == mat[p][d]

    emb = load_table(spark, SMOKE_SF, "embeddings")
    for planes in (8, 16):
        mismatches = (
            emb.select(
                reference_bucket(F.col("embedding"), planes, 64).alias("ref"),
                S.random_hyperplane_bucket(
                    F.col("embedding"), planes=planes, dim=64
                ).alias("got"),
            )
            .filter("ref <> got OR (ref IS NULL) <> (got IS NULL)")
            .count()
        )
        assert mismatches == 0


def test_cosine_self_similarity(spark):
    from dataflowjavasdk_spark.sources.tables import load_table

    emb = load_table(spark, SMOKE_SF, "embeddings").limit(5)
    got = emb.select(S.cosine(F.col("embedding"), F.col("embedding")).alias("c")).collect()
    for r in got:
        assert r["c"] == pytest.approx(1.0, abs=1e-9)


def test_connected_components_known_graph(spark):
    from dataflowjavasdk_spark.functions.graph import connected_components

    # components: {1,2,3,4} (chain), {10,11} (pair), {20} appears via self-edge
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20)], "src long, dst long"
    )
    got = {
        r.node: r.component for r in connected_components(edges, "src", "dst").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}


def test_near_dup_clusters_cover_corpus(spark):
    from dataflowjavasdk_spark.queries.registry import get
    from tests.conftest import SMOKE_SF

    pairs = get("near_dup_pairs_jaccard").fn(spark, SMOKE_SF)
    clusters = get("near_dup_clusters").fn(spark, SMOKE_SF)
    docs = get("dedup_exact").fn(spark, SMOKE_SF)  # corpus-derived
    rows = clusters.collect()
    by_doc = {r.doc_id: r.cluster_id for r in rows}
    # every doc appears exactly once, cluster id is a member min
    assert len(by_doc) == len(rows)
    for a, b in [(p.id_a, p.id_b) for p in pairs.collect()]:
        assert by_doc[a] == by_doc[b], "paired docs must share a cluster"
        assert by_doc[a] <= min(a, b)


def test_containment_catches_truncation_jaccard_misses(spark):
    """containment_near_dup_pairs (round 7): the _corpus truncation
    variant (+2,000,000 ids, last 5 tokens dropped) must surface as
    id_contained against its base doc with containment >= 0.8 — and the
    directed orientation must always point the smaller gram set at
    id_contained (n_inter <= n_contained by construction)."""
    rows = get("containment_near_dup_pairs").fn(spark, SMOKE_SF).collect()
    assert rows, "no containment pairs on the dup-injected corpus"
    pairs = {(r.id_contained, r.id_container) for r in rows}
    trunc_hits = [
        (a, b) for a, b in pairs if a >= 2_000_000 and b == a - 2_000_000
    ]
    assert trunc_hits, "truncation variants not detected as contained"
    for r in rows:
        assert r.n_inter <= r.n_contained
        assert r.containment >= 0.8


def test_semdedup_top_priority_member_always_kept(spark):
    """semdedup_prune's dominance rule: a member is dropped only by a
    same-cluster near-dup of HIGHER keep-priority (farther from the
    centroid, ties to lower vec_id) — so each cluster's single
    highest-priority member can never be dominated and must be kept,
    and every cluster keeps at least one member."""
    rows = get("semdedup_prune").fn(spark, SMOKE_SF).collect()
    by_cell: dict = {}
    for r in rows:
        by_cell.setdefault(r.cell, []).append(r)
    assert by_cell
    for cell, members in by_cell.items():
        top = min(members, key=lambda r: (r.centroid_cosine, r.vec_id))
        assert top.kept, f"cluster {cell}: highest-priority member dropped"
        assert any(r.kept for r in members)


def test_exact_dup_spans_finds_full_copy_runs(spark):
    """exact_dup_spans (round 7): the _corpus exact-copy variants
    (+1,000,000 ids, identical text) must surface as a diagonal-0 span
    covering the whole document (start 0/0, n_windows = token_count − 7),
    and every span's window count must equal its token length − 7
    (maximal runs have no internal gaps on their diagonal)."""
    rows = get("exact_dup_spans").fn(spark, SMOKE_SF).collect()
    assert rows
    full_copies = [
        r
        for r in rows
        if r.id_b == r.id_a + 1_000_000 and r.start_a == 0 and r.start_b == 0
    ]
    assert full_copies, "exact-copy variants not detected as full-doc spans"
    for r in rows:
        assert r.n_windows == r.n_tokens - 7  # contiguous diagonal run
        assert r.n_tokens >= 8


def test_recall_ladder_dominance_ordering(spark):
    """The unified recall ladder (ann_recall_report, round 7) measures
    all five index variants against one brute-force ground truth. The
    candidate-superset dominances are theorems, so assert them PER QUERY
    over the report's own output: a second LSH table only widens the
    candidate set (lsh_multitable >= lsh), and probing two IVF cells only
    widens it (ivf_multiprobe >= ivf). IVFPQ has no such theorem (ADC is
    an approximation of the metric itself) — it is reported, not
    ordered."""
    rows = get("ann_recall_report").fn(spark, SMOKE_SF).collect()
    recall = {(r.variant, r.query_id): r.recall_pct for r in rows}
    queries = {r.query_id for r in rows}
    variants = {r.variant for r in rows}
    assert variants == {"lsh", "lsh_multitable", "ivf", "ivf_multiprobe", "ivfpq"}
    assert len(queries) == 5 and len(rows) == 25
    for qid in queries:
        assert recall[("lsh_multitable", qid)] >= recall[("lsh", qid)]
        assert recall[("ivf_multiprobe", qid)] >= recall[("ivf", qid)]
    for r in rows:  # recall is n_hits out of exactly 5 ground-truth rows
        assert r.n_exact == 5 and r.recall_pct == r.n_hits * 20


def test_recall_ladder_second_operating_point(spark):
    """ann_recall_report_k20 (round 8): same ladder at recall@20. The
    candidate-superset dominances hold at EVERY k (they are set
    inclusions, not tuning accidents), and the integer-recall encoding
    switches to n_hits * 5."""
    rows = get("ann_recall_report_k20").fn(spark, SMOKE_SF).collect()
    recall = {(r.variant, r.query_id): r.recall_pct for r in rows}
    queries = {r.query_id for r in rows}
    assert len(queries) == 5 and len(rows) == 25
    for qid in queries:
        assert recall[("lsh_multitable", qid)] >= recall[("lsh", qid)]
        assert recall[("ivf_multiprobe", qid)] >= recall[("ivf", qid)]
    for r in rows:
        assert r.recall_pct == r.n_hits * 5
        assert r.n_ann <= 20  # top-k bound respected
        # n_ann < 20 is candidate starvation, the signal this second
        # point exists to surface — it must never exceed ground truth
        assert r.n_hits <= min(r.n_ann, r.n_exact)


# py4j commands one ladder build may send: about 1.5x the 2,762 that a
# first build of the one-table ladder sends (the five-pipeline ladder sent
# 17,169).
_LADDER_BUILD_COMMANDS = 4150


@pytest.mark.parametrize("name", ["ann_recall_report", "ann_recall_report_k20"])
def test_recall_ladder_build_budget(spark, monkeypatch, name):
    """The ladder scores one candidate table: its build pins at most once
    and sends a bounded number of py4j commands (counted as
    tools/py4j_calls.py counts them)."""
    from pyspark.sql.classic.dataframe import DataFrame

    from tools.py4j_calls import commands_sent

    pins = []
    pin = DataFrame.localCheckpoint
    monkeypatch.setattr(
        DataFrame, "localCheckpoint", lambda df, *a, **kw: pins.append(df) or pin(df, *a, **kw)
    )
    with commands_sent() as sent:
        get(name).fn(spark, SMOKE_SF)
    assert len(pins) <= 1
    assert sent() <= _LADDER_BUILD_COMMANDS


def test_lsh_tables_build_is_small(spark):
    """Each bucket column is one parsed plane-matrix literal and one fold,
    not a Column per plane component (the unrolled form sent ~9,700
    commands for the two tables)."""
    from dataflowjavasdk_spark.sources.tables import load_table
    from tools.py4j_calls import commands_sent

    emb = load_table(spark, SMOKE_SF, "embeddings")
    with commands_sent() as sent:
        S.lsh_tables(emb)
    assert sent() <= 500


def test_recall_ladder_adc_matches_ivfpq_topk(spark):
    """The ladder's ADC (four lookups into the query's distance array)
    equals, with no tolerance, the adc_dist ivfpq_topk computes through
    its four table joins, for every pair ivfpq_topk returns; each such
    pair is an IVFPQ candidate of the ladder."""
    from dataflowjavasdk_spark.queries.similarity import _recall_pairs
    from dataflowjavasdk_spark.sources.tables import load_table

    emb = load_table(spark, SMOKE_SF, "embeddings")
    in_queries = (F.col("vec_id") >= 10) & (F.col("vec_id") < 15)
    ref = S.ivfpq_topk(emb, in_queries, 20).select("query_id", "neighbor_id", "adc_dist")
    got = _recall_pairs(emb, in_queries).select("query_id", "neighbor_id", "adc", "ivfpq")
    rows = ref.join(got, ["query_id", "neighbor_id"], "left").collect()
    assert len({r.query_id for r in rows}) == 5
    for r in rows:
        assert r.ivfpq is True and r.adc == r.adc_dist, r


@pytest.mark.parametrize(
    "keep",
    ["vec_id >= 8", "vec_id NOT BETWEEN 20 AND 23", "vec_id < 12", "vec_id = 10"],
    ids=["no_ivf_seeds", "no_pq_codebook", "two_queries", "lone_query"],
)
def test_recall_ladder_matches_oracle_on_degenerate_corpora(spark, tmp_path, keep):
    """Corpora the ladder must not lose rows on: without IVF seed vectors
    (no cells, so IVF and IVFPQ find nothing), without the PQ codebook
    vectors, with only two of the five query ids present, and a lone
    query vector (no neighbour at all: its rows come from its self pair).
    The Spark rows must equal the DuckDB oracle's."""
    import duckdb

    path = str(tmp_path / "embeddings.parquet")
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{SMOKE_SF}/embeddings.parquet') WHERE {keep}) "
        f"TO '{path}' (FORMAT PARQUET)"
    )
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
    q = get("ann_recall_report")
    got = sorted(tuple(r) for r in q.fn(spark, str(tmp_path)).collect())
    assert got == sorted(con.execute(q.oracle).fetchall())


def test_multitable_lsh_recall_at_least_single_table(spark):
    """OR-amplification property: two hash tables can only widen the
    candidate set, so top-5 recall vs brute force is >= the single table's."""
    from dataflowjavasdk_spark.queries.registry import get
    from tests.conftest import SMOKE_SF

    def topk_set(name):
        return {
            (r.query_id, r.neighbor_id)
            for r in get(name).fn(spark, SMOKE_SF).collect()
        }

    exact = topk_set("cosine_topk_bruteforce")
    single = topk_set("ann_lsh_topk")
    multi = topk_set("ann_lsh_multitable")
    recall_single = len(single & exact) / len(exact)
    recall_multi = len(multi & exact) / len(exact)
    assert recall_multi >= recall_single
    # superset-candidates property: per query, the multi-table top-5's
    # worst cosine is never worse than the single table's (more candidates
    # can only improve the heap). Fixture embeddings are random, so
    # absolute recall is meaningless at smoke scale — the dominance
    # property is the invariant.
    from dataflowjavasdk_spark.queries.registry import get as _get

    def ranked(name):
        rows = _get(name).fn(spark, SMOKE_SF).collect()
        out = {}
        for r in rows:
            out.setdefault(r.query_id, []).append(r.cosine)
        return {q: sorted(v, reverse=True) for q, v in out.items()}

    rs, rm = ranked("ann_lsh_topk"), ranked("ann_lsh_multitable")
    for qid, scores in rs.items():
        mscores = rm.get(qid, [])
        assert len(mscores) >= len(scores)
        for i, sc in enumerate(scores):
            assert mscores[i] >= sc - 1e-12


def test_ivf_multiprobe_dominates_single_probe(spark):
    """nprobe=2's candidate set is a superset of nprobe=1's (the probe
    cells include the query's own cell), so at every rank the multiprobe
    cosine is >= the single-probe cosine."""
    from dataflowjavasdk_spark.queries.registry import get
    from tests.conftest import SMOKE_SF

    single = {
        (r["query_id"], r["rk"]): r["cosine"]
        for r in get("ivf_ann_topk").fn(spark, SMOKE_SF).collect()
    }
    multi = {
        (r["query_id"], r["rk"]): r["cosine"]
        for r in get("ivf_ann_multiprobe").fn(spark, SMOKE_SF).collect()
    }
    assert single, "single-probe returned nothing"
    for key, cos in single.items():
        assert key in multi
        assert multi[key] >= cos - 1e-12, key


def test_simhash_near_dup_pairs_finds_exact_dups(spark):
    """The corpus contains synthetic exact duplicates (doc_id + 1,000,000
    copies) — hamming 0 — and the banded join must surface them without
    any all-pairs comparison."""
    from dataflowjavasdk_spark.queries.registry import get
    from tests.conftest import SMOKE_SF

    pairs = get("simhash_near_dup_pairs").fn(spark, SMOKE_SF).collect()
    assert pairs, "no near-dup pairs found"
    exact = [(r["id_a"], r["id_b"]) for r in pairs if r["hamming"] == 0]
    # every synthetic copy pairs with its original at distance 0
    assert any(b - a == 1_000_000 for a, b in exact)
    assert all(r["hamming"] <= 3 for r in pairs)


def test_jaccard_df_cap_bounds_candidates(spark):
    """The df-capped blocking must (a) exclude hot grams from candidate
    generation — bounding pairs at CAP^2 per gram — while (b) still finding
    near-dups that share at least one rare gram, with EXACT Jaccard values
    computed from the full (uncapped) gram sets."""
    import dataflowjavasdk_spark.queries.dedup as D
    from dataflowjavasdk_spark.functions import similarity as S

    cap = D.SHINGLE_DF_CAP
    try:
        D.SHINGLE_DF_CAP = 3  # make the cap observable at fixture scale
        # 6 docs all share the hot shingle "the quick fox" (df=6 > cap=3);
        # docs 0/1 additionally share rare grams (true near-dups).
        rare = "alpha beta gamma delta epsilon zeta"
        docs = [(0, f"the quick fox {rare}"), (1, f"the quick fox {rare} eta")]
        docs += [(i, f"the quick fox unique{i} only{i} here{i}") for i in range(2, 6)]
        sh = (
            spark.createDataFrame(docs, "doc_id long, text string")
            .select("doc_id", S.shingles("text", 3).alias("grams"))
            .withColumn("n", F.size("grams"))
        )
        pairs = D._jaccard_pairs_capped(sh, threshold=0.0).collect()
        got = {(r["id_a"], r["id_b"]): r["jacc"] for r in pairs}
        # Docs 2..5 share ONLY the hot gram → blocked out entirely. If the
        # cap were ignored, all 15 pairs would appear.
        assert set(got) == {(0, 1)}
        # Exact Jaccard from FULL gram sets (hot gram included in the
        # values even though excluded from blocking):
        # doc0 (9 tokens) = 7 grams, doc1 (10 tokens) = 8 grams, all 7 of
        # doc0's shared → inter=7, union=8.
        assert got[(0, 1)] == pytest.approx(7 / 8)
    finally:
        D.SHINGLE_DF_CAP = cap


def test_jaccard_count_verify_asymmetric_hot_grams(spark):
    """The round-10 count-from-blocking-join verify splits |A∩B| into
    kept-gram pair counts plus the hot-array intersection. Pin the
    asymmetric branches: a pair where only ONE side holds any hot gram
    (the other side's hot array is NULL from the left join) and a pair
    whose shared hot grams differ from each side's full hot set must
    both produce the exact full-set Jaccard."""
    import dataflowjavasdk_spark.queries.dedup as D
    from dataflowjavasdk_spark.functions import similarity as S

    cap = D.SHINGLE_DF_CAP
    try:
        D.SHINGLE_DF_CAP = 3
        # "h1 h2 h3" appears in docs 0,2,3,4,5 (df=5 > 3: hot) but NOT in
        # doc 1; docs 0/1 share rare grams only → doc 1's hot array is
        # NULL while doc 0's is non-empty (left-join null branch).
        rare = "alpha beta gamma delta epsilon"
        docs = [(0, f"h1 h2 h3 {rare}"), (1, f"{rare} zeta")]
        docs += [(i, f"h1 h2 h3 u{i}a u{i}b u{i}c u{i}d") for i in range(2, 6)]
        sh = (
            spark.createDataFrame(docs, "doc_id long, text string")
            .select("doc_id", S.shingles("text", 3).alias("grams"))
            .withColumn("n", F.size("grams"))
        )
        got = {
            (r["id_a"], r["id_b"]): r["jacc"]
            for r in D._jaccard_pairs_capped(sh, threshold=0.0).collect()
        }
        # doc0 = 6 grams (1 hot), doc1 = 4 grams (0 hot); shared = the 3
        # rare shingles of "alpha beta gamma delta epsilon" → 3/7. Every
        # other pair shares ONLY the hot gram → blocked out, same
        # semantics as before the rewrite.
        assert set(got) == {(0, 1)}
        assert got[(0, 1)] == pytest.approx(3 / 7)
    finally:
        D.SHINGLE_DF_CAP = cap


def test_dup_span_removal_empties_injected_copies(spark):
    """dup_span_removal applies the keep-lowest-id policy: every
    injected variant (+1M exact copies, +2M truncations) that appears
    in the report is FULLY covered by spans shared with its base doc
    (base id < variant id), so its cleaned text is empty; removal
    counts always reconcile (n_before = n_removed + n_after)."""
    rows = get("dup_span_removal").fn(spark, SMOKE_SF).collect()
    assert rows
    variants = [r for r in rows if r.doc_id >= 1_000_000]
    assert variants, "no injected variants in the removal report"
    for r in variants:
        assert r.n_after == 0 and r.n_removed == r.n_before
    for r in rows:
        assert r.n_before == r.n_removed + r.n_after
        assert r.n_removed >= 8  # spans are >= one full window


def test_dup_spans_df_cap_bounds_fanout(spark):
    """exact_dup_spans' df cap (via _dup_spans): a boilerplate window
    gram appearing in more docs than the cap must be excluded from the
    positional equi-join — without it the hits relation grows
    quadratically in that gram's document frequency — while spans built
    from rare grams still surface with exact coordinates."""
    import dataflowjavasdk_spark.queries.dedup as D
    from dataflowjavasdk_spark.functions import similarity as S
    from dataflowjavasdk_spark.functions.text import tokens as _tokens

    cap = D.SHINGLE_DF_CAP
    try:
        D.SHINGLE_DF_CAP = 3
        boiler = "w1 w2 w3 w4"  # 4-token boilerplate in every doc
        rare = "r1 r2 r3 r4 r5"
        docs = [(0, f"{boiler} {rare}"), (1, f"{boiler} {rare}")]
        docs += [(i, f"{boiler} u{i}a u{i}b u{i}c u{i}d u{i}e") for i in range(2, 8)]
        kg = (
            spark.createDataFrame(docs, "doc_id long, text string")
            .select(
                "doc_id",
                F.posexplode(
                    S.kgrams_with_dups(_tokens("text"), 4)
                ).alias("pos", "gram"),
            )
        )
        rows = D._dup_spans(kg, window=4).collect()
        # The boilerplate 4-gram has df=8 > cap=3 → no pair may be built
        # from it alone: docs 2..7 produce NO spans at all.
        pairs = {(r.id_a, r.id_b) for r in rows}
        assert pairs == {(0, 1)}
        # Docs 0/1 are identical 9-token docs: their rare-gram windows
        # (positions 1..5 survive the cap) merge into one span; the
        # boilerplate-only window at position 0 is capped out, so the
        # span starts at position 1 — the cap trades span completeness
        # on boilerplate for bounded fan-out, exactly as documented.
        (r,) = rows
        assert (r.start_a, r.start_b) == (1, 1)
        assert r.n_windows == 5 and r.n_tokens == 8
    finally:
        D.SHINGLE_DF_CAP = cap


def test_connected_components_long_path_converges(spark):
    """A path graph with diameter > the old 15-round cap must resolve to a
    single component (min-label needs one round per hop), exercising the
    localCheckpoint lineage truncation along the way."""
    from dataflowjavasdk_spark.functions.graph import connected_components

    n = 20  # diameter 20 path: 0-1-2-...-20
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    )
    labels = connected_components(edges)
    comps = {r["component"] for r in labels.collect()}
    assert comps == {0}
    assert labels.count() == n + 1


def test_connected_components_raises_when_capped(spark):
    import pytest as _pytest

    from dataflowjavasdk_spark.functions.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "src long, dst long"
    )
    with _pytest.raises(RuntimeError, match="converge"):
        connected_components(edges, max_iter=3)


def test_leakage_safe_split_has_no_cross_split_near_dups(spark):
    """The split's whole point: no Jaccard near-dup pair may straddle
    train/eval (that is eval contamination). Assign per-document splits
    the same way the query does and check every pair lands on one side."""
    from pyspark.sql import functions as F

    from dataflowjavasdk_spark.functions.text import md5_long
    from dataflowjavasdk_spark.queries.dedup import (
        near_dup_clusters,
        near_dup_pairs_jaccard,
    )
    from tests.conftest import SMOKE_SF

    clusters = near_dup_clusters(spark, SMOKE_SF)
    assign = clusters.select(
        "doc_id",
        F.when(
            md5_long(F.col("cluster_id").cast("string")) % 10 < 9, "train"
        ).otherwise("eval").alias("split"),
    )
    pairs = near_dup_pairs_jaccard(spark, SMOKE_SF)
    a = assign.select(F.col("doc_id").alias("id_a"), F.col("split").alias("sa"))
    b = assign.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb"))
    cross = pairs.join(a, "id_a").join(b, "id_b").filter("sa <> sb")
    assert cross.count() == 0
    # and the split is genuinely two-sided on this fixture
    sides = {r["split"] for r in assign.select("split").distinct().collect()}
    assert sides == {"train", "eval"}


def test_cluster_representative_is_longest_then_min_id(spark):
    """The keep-one policy, verified independently of the query's own
    aggregate: per multi-doc cluster the representative must be the
    longest member, with min doc_id breaking exact-length ties (exact
    copies). Pandas recomputes the argmax from the raw labeled rows."""
    from dataflowjavasdk_spark.queries.dedup import (
        _corpus,
        cluster_representative_dedup,
        near_dup_clusters,
    )
    from tests.conftest import SMOKE_SF

    labeled = (
        near_dup_clusters(spark, SMOKE_SF)
        .join(
            _corpus(spark, SMOKE_SF).select(
                "doc_id", F.length("text").alias("len")
            ),
            "doc_id",
        )
        .toPandas()
    )
    got = {
        r["cluster_id"]: (r["cluster_size"], r["rep_doc_id"], r["rep_len"])
        for r in cluster_representative_dedup(spark, SMOKE_SF).collect()
    }
    assert got, "fixture corpus must contain injected multi-doc clusters"
    by_cluster = labeled.groupby("cluster_id")
    n_multi = 0
    for cid, grp in by_cluster:
        if len(grp) < 2:
            assert cid not in got
            continue
        n_multi += 1
        best = grp.sort_values(["len", "doc_id"], ascending=[False, True]).iloc[0]
        assert got[cid] == (len(grp), best["doc_id"], best["len"]), cid
    assert n_multi == len(got)


def test_prefix_filter_jaccard_complete_vs_bruteforce(spark):
    """Prefix+length filtering must lose NO pair with Jaccard >= t —
    verified against per-pair brute force on a crafted corpus that
    includes a stopword-like hot gram shared by every doc (the shape
    that forces the df cap in the blocked family)."""
    from itertools import combinations

    from dataflowjavasdk_spark.functions import similarity as Sim
    from dataflowjavasdk_spark.queries import dedup as D

    texts = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "the quick brown fox jumps over the lazy cat",
        3: "the quick brown fox leaps over the lazy dog",
        4: "a completely different sentence sharing the word the",
        5: "the quick brown fox jumps over the lazy dog",  # exact dup of 1
        6: "another unrelated line with the common token",
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    # 4-gram shingles — must match prefix_filter_jaccard_pairs's width
    sh = df.select(
        "doc_id", Sim.shingles("text", 4).alias("grams")
    ).withColumn("n", F.size("grams"))

    # run the engine's prefix-filter pipeline body on this corpus by
    # monkeypatching the corpus builder
    orig = D._corpus
    D._corpus = lambda _spark, _sf: df
    try:
        got = {
            (r["id_a"], r["id_b"]): r["jacc"]
            for r in D.prefix_filter_jaccard_pairs(spark, "unused").collect()
        }
    finally:
        D._corpus = orig

    grams = {
        r["doc_id"]: set(r["grams"]) for r in sh.collect()
    }
    expect = {}
    for a, b in combinations(sorted(grams), 2):
        inter = len(grams[a] & grams[b])
        union = max(len(grams[a] | grams[b]), 1)
        if inter / union >= 0.5:
            expect[(a, b)] = inter / union
    assert got == expect
    assert (1, 5) in got and got[(1, 5)] == 1.0  # the exact dup survived


def test_winnowing_guarantee_on_shared_span(spark):
    """Any verbatim shared span of >= w+k-1 = 7 tokens must produce a
    shared fingerprint (the winnowing theorem); fully disjoint docs must
    not appear in the output."""
    from dataflowjavasdk_spark.queries import dedup as D

    shared = "alpha beta gamma delta epsilon zeta eta"  # exactly 7 tokens
    df = spark.createDataFrame(
        [
            (1, f"intro words here {shared} tail one"),
            (2, f"other leading text {shared} different ending"),
            (3, "completely unrelated vocabulary nothing matches at all here"),
        ],
        "doc_id long, text string",
    )
    orig = D._corpus
    D._corpus = lambda _spark, _sf: df
    try:
        rows = {r["doc_id"]: r for r in D.winnowing_dup_spans(spark, "x").collect()}
    finally:
        D._corpus = orig
    assert 1 in rows and 2 in rows, "7-token shared span must be caught"
    assert 3 not in rows
    for doc in (1, 2):
        assert 0 < rows[doc]["n_shared"] <= rows[doc]["n_fp"]
        assert rows[doc]["share_pct"] == (100 * rows[doc]["n_shared"]) // rows[doc]["n_fp"]


def test_cdc_chunks_survive_prefix_insertion(spark):
    """CDC's defining property: inserting a long UNRELATED prefix must
    not destroy chunk sharing of the common run (fixed windows shift and
    lose it). Uses a long shared run so several content-defined
    boundaries fall inside it."""
    from dataflowjavasdk_spark.queries import dedup as D

    shared_run = " ".join(f"tok{i % 37}x{(i * 7) % 23}" for i in range(300))
    prefix = " ".join(f"pre{i}q{(i * 5) % 11}" for i in range(83))
    df = spark.createDataFrame(
        [
            (1, shared_run),
            (2, f"{prefix} {shared_run}"),
            (3, "wholly unrelated words " + " ".join(f"z{i}" for i in range(40))),
        ],
        "doc_id long, text string",
    )
    orig = D._corpus
    D._corpus = lambda _spark, _sf: df
    try:
        rows = {r["doc_id"]: r for r in D.cdc_chunk_dedup(spark, "x").collect()}
    finally:
        D._corpus = orig
    assert 1 in rows and 2 in rows, "shared run must produce shared chunks"
    assert 3 not in rows
    # most of doc 1's chunks are inside the shared run
    assert rows[1]["n_shared"] >= rows[1]["n_chunks"] // 2


def test_min_span_tokens_filters_on_merged_length(spark):
    """exact_dup_spans_50's operating point must select by the MERGED
    maximal span length, not window count: a crafted 50-token shared
    run survives the >= 50 filter; a 49-token run does not (both are
    far above the 8-token detection window)."""
    from dataflowjavasdk_spark.functions.text import tokens
    from dataflowjavasdk_spark.queries.dedup import _dup_spans

    def corpus(n_shared):
        shared = " ".join(f"w{i}" for i in range(n_shared))
        a = shared + " " + " ".join(f"a{i}" for i in range(10))
        b = " ".join(f"b{i}" for i in range(10)) + " " + shared
        return spark.createDataFrame(
            [(1, a), (2, b)], "doc_id long, text string"
        )

    def max_span(n_shared):
        kg = corpus(n_shared).select(
            "doc_id",
            F.posexplode(S.kgrams_with_dups(tokens("text"), 8)).alias(
                "pos", "gram"
            ),
        )
        rows = _dup_spans(kg, window=8).collect()
        return max((r["n_tokens"] for r in rows), default=0)

    assert max_span(50) == 50
    assert max_span(49) == 49  # detected as a maximal 49-token span


def test_exact_dup_spans_50_drops_49_token_span(spark, monkeypatch):
    """The >= 50 operating point itself (not just the merge): with the
    corpus swapped for a crafted pair sharing exactly N tokens, the
    registered exact_dup_spans_50 query must emit the 50-token span and
    drop the 49-token one (exact_dup_spans keeps both)."""
    from dataflowjavasdk_spark.queries import dedup as D

    def crafted(n_shared):
        shared = " ".join(f"w{i}" for i in range(n_shared))
        a = shared + " " + " ".join(f"a{i}" for i in range(10))
        b = " ".join(f"b{i}" for i in range(10)) + " " + shared
        return spark.createDataFrame(
            [(1, a), (2, b)], "doc_id long, text string"
        )

    for n_shared, expect_rows in ((50, 1), (49, 0)):
        monkeypatch.setattr(D, "_corpus", lambda s, d, _c=crafted(n_shared): _c)
        rows_50 = D.exact_dup_spans_50(spark, "ignored").collect()
        assert len(rows_50) == expect_rows, f"n_shared={n_shared}"
        rows_all = D.exact_dup_spans(spark, "ignored").collect()
        assert len(rows_all) == 1 and rows_all[0]["n_tokens"] == n_shared


def test_minhash_jaccard_calibration_invariants(spark):
    """The calibration report's encodings must be exact: the estimator
    column is literally n_pairs * k/16 (dyadic, bit-exact), the exact
    column is a mean of true Jaccards so it stays within [0, n_pairs],
    and full-agreement pairs (k=16) can only exist for truly similar
    docs (bucket mean exact Jaccard > 0)."""
    rows = get("minhash_jaccard_calibration").fn(spark, SMOKE_SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_agree"] <= 16
        assert r["sum_est_jaccard"] == r["n_pairs"] * (r["n_agree"] / 16.0)
        assert 0.0 <= r["sum_exact_jaccard"] <= r["n_pairs"] + 1e-9
    full = [r for r in rows if r["n_agree"] == 16]
    for r in full:
        assert r["sum_exact_jaccard"] > 0


def test_affine_hash_cross_engine_parity(spark):
    """The round-10 MinHash hash family — (a*h+b) mod 2^61-1 via the
    overflow-free shift/mask decomposition — must agree bit-for-bit
    between Spark (affine_hash), DuckDB (_affine_sql), and exact Python
    big-int arithmetic, including at the domain edges."""
    import random

    import duckdb

    rng = random.Random(0xA11CE)
    consts = S.minhash_constants(16)
    hs = [0, 1, (1 << 60) - 1, S.MINHASH_SENTINEL] + [
        rng.randrange(0, 1 << 60) for _ in range(60)
    ]
    cases = [(h, *consts[i % len(consts)]) for i, h in enumerate(hs)]

    df = spark.createDataFrame(
        [(h, i) for i, (h, _, _) in enumerate(cases)], "h long, i long"
    )
    exprs = [
        F.max(F.when(F.col("i") == i, S.affine_hash(F.col("h"), a, b))).alias(
            f"v{i}"
        )
        for i, (_, a, b) in enumerate(cases)
    ]
    got = df.agg(*exprs).collect()[0]

    con = duckdb.connect()
    for i, (h, a, b) in enumerate(cases):
        expect = (a * h + b) % S.MINHASH_PRIME
        assert got[f"v{i}"] == expect, (h, a, b)
        sql_v = con.sql(f"SELECT {S._affine_sql(str(h), a, b)}").fetchone()[0]
        assert sql_v == expect, (h, a, b)


def test_minhash_signature_matches_sql_twin(spark):
    """End-to-end signature parity: minhash_signature vs minhash_sig_sql
    on the same shingle sets, including the empty-set sentinel row."""
    import duckdb

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs",
        "a b",  # < 3 tokens -> empty 3-gram set -> all-sentinel signature
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {
        r["doc_id"]: r["sig"]
        for r in df.select(
            "doc_id", S.minhash_signature(S.shingles("text", 3), 16).alias("sig")
        ).collect()
    }
    con = duckdb.connect()
    grams_sql = (
        "list_distinct(list_transform("
        "range(1, greatest(len(list_filter(string_split(text, ' '), t -> t <> '')) - 1, 1)),"
        " i -> array_to_string(array_slice(list_filter(string_split(text, ' '), t -> t <> ''), i, i + 2), ' ')))"
    )
    for i, t in enumerate(texts):
        sig = con.sql(
            f"SELECT {S.minhash_sig_sql(grams_sql)} AS sig FROM (SELECT ? AS text)",
            params=[t],
        ).fetchone()[0]
        assert list(sig) == list(got[i]), f"doc {i}"
    assert list(got[2]) == [S.MINHASH_SENTINEL] * 16


def test_vector_kit_breaks_exact_ties_by_id(spark):
    """Exact ties in the vector-search kit resolve by id, whatever the
    input order: two identical centroids assign to the lower cell, equal
    scores rank the lower neighbor_id first, a query never retrieves
    itself, and nprobe=2 probes exactly the query's two best cells."""
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),  # centroid 1 == centroid 0
        (0, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 0.0, 1.0]),
        (5, [-1.0, 0.0, 0.0, 0.0]),
        (6, [0.0, -1.0, 0.0, 0.0]),
        (7, [0.0, 0.0, -1.0, 0.0]),
        (12, [1.0, 0.5, 0.0, 0.0]),  # 11, 10 and query 12 are one point
        (11, [1.0, 0.5, 0.0, 0.0]),
        (10, [1.0, 0.5, 0.0, 0.0]),
        (21, [0.0, 0.1, 1.0, 0.0]),  # cell 3
        (20, [0.0, 1.0, 0.1, 0.0]),  # cell 2
        (22, [0.0, 0.0, 0.1, 1.0]),  # cell 4, outside the probe
        (30, [0.0, 1.0, 0.9, 0.0]),  # query between cells 2 and 3
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cos = S.cosine(F.col("qv"), F.col("embedding"))

    cell_rk = S.ivf_cells(emb).localCheckpoint()
    ranks = {
        (r["vec_id"], r["crk"]): r["cell"]
        for r in cell_rk.filter(F.col("crk") <= 2).collect()
    }
    for v in (10, 11, 12):
        assert (ranks[(v, 1)], ranks[(v, 2)]) == (0, 1)
    assert (ranks[(30, 1)], ranks[(30, 2)]) == (2, 3)

    # one job: brute-force top 3 of query 12, nprobe=2 search of query 30
    cells = cell_rk.filter(F.col("crk") == 1).select("vec_id", "embedding", "cell")
    probes = S.query_set(
        cell_rk, (F.col("crk") <= 2) & (F.col("vec_id") == 30), F.col("cell").alias("qcell")
    )
    got = (
        S.top_k(emb, S.query_set(emb, F.col("vec_id") == 12), cos, 3)
        .unionByName(
            S.top_k(cells, probes, cos, 100, on=(F.col("cell") == F.col("qcell")) & S.not_self())
        )
        .collect()
    )
    top = sorted((r for r in got if r["query_id"] == 12), key=lambda r: r["rk"])
    assert [(r["neighbor_id"], r["rk"]) for r in top] == [(10, 1), (11, 2), (0, 3)]
    assert top[0]["cosine"] == top[1]["cosine"]
    assert {r["neighbor_id"] for r in got if r["query_id"] == 30} == {2, 3, 20, 21}


def test_vector_search_blocks_live_only_in_the_kit():
    """The IVF centroid-cosine assignment and the PQ subspace explode have
    one home, the vector-search kit in functions/similarity.py: no query
    module builds either by hand."""
    import os
    import re

    import dataflowjavasdk_spark

    patterns = {
        "IVF centroid cosine": re.compile(
            r'(?<![\w.])(?:S\.)?cosine\(\s*F\.col\("embedding"\),\s*F\.col\("cv"\)\s*\)'
        ),
        "PQ subspace explode": re.compile(
            r"F\.explode\(\s*F\.array\(\s*\*\[\s*F\.struct\(\s*F\.lit\(m\)"
        ),
    }
    pkg = os.path.dirname(dataflowjavasdk_spark.__file__)
    qdir = os.path.join(pkg, "queries")
    sites: dict[str, list[str]] = {name: [] for name in patterns}
    for f in sorted(os.listdir(qdir)):
        if not f.endswith(".py"):
            continue
        with open(os.path.join(qdir, f), encoding="utf-8") as fh:
            text = fh.read()
        for name, pat in patterns.items():
            for m in pat.finditer(text):
                sites[name].append(f"queries/{f}:{text.count(chr(10), 0, m.start()) + 1}")
    assert sites == {name: [] for name in patterns}
    with open(os.path.join(pkg, "functions", "similarity.py"), encoding="utf-8") as fh:
        kit = fh.read()
    assert all(pat.search(kit) for pat in patterns.values())
