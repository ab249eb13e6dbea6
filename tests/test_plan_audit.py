"""Plan-shape regression tests: pin the scale-critical plan properties
(pushdown, pruning, broadcast, no Python in relational hot paths)."""

from __future__ import annotations

import pytest

from dataflowjavasdk_spark.plans import audit
from dataflowjavasdk_spark.queries.registry import get
from tests.conftest import SMOKE_SF


def _plan(spark, name):
    return audit(get(name).fn(spark, SMOKE_SF))


def test_q1_pushdown_and_pruning(spark):
    p = _plan(spark, "q1_pricing_summary")
    assert p.pushes("LessThanOrEqual(l_shipdate")
    assert p.reads_only(
        "l_returnflag",
        {"l_quantity", "l_extendedprice", "l_discount", "l_tax",
         "l_returnflag", "l_linestatus", "l_shipdate"},
    )
    assert p.python_evals == 0


def test_q3_broadcasts_dimensions(spark):
    p = _plan(spark, "q3_join_agg")
    assert p.pushes("EqualTo(c_mktsegment,BUILDING)")
    assert p.broadcast_joins >= 1
    assert p.sort_merge_joins == 0
    assert p.python_evals == 0


def test_q5_all_dims_broadcast_no_smj(spark):
    p = _plan(spark, "q5_region_revenue")
    assert p.broadcast_joins >= 4  # customer, supplier, nation, region
    assert p.sort_merge_joins == 0
    assert p.pushes("EqualTo(r_name,ASIA)")


def test_wordcount_prunes_to_text_column(spark):
    p = _plan(spark, "wordcount")
    assert p.reads_only("text", {"text"})
    assert p.python_evals == 0


def test_relational_queries_stay_jvm_side(spark):
    # Python (Arrow) evaluation may appear ONLY where documented: simhash
    # (pandas_udf). Every other registered query must be pure JVM.
    from dataflowjavasdk_spark.queries.registry import all_queries

    allowed_python = {
        "simhash_fingerprints",
        "simhash_near_dup_pairs",
        # AvroIO: the container ships no spark-avro jar, so decode is the
        # documented Arrow-batched Python codec (sources/avro.py).
        "avro_roundtrip_checksum",
        "avro_logical_types_roundtrip",
        # real WAV/BMP decode paths: synth + pure-Python parse in mapInPandas
        "audio_wav_features",
        "bmp_image_features",
        "png_image_features",
        "media_meta_sniff",
        # round 5: baseline JPEG decode + the sniff-prune rollup over the
        # same synthesized corpus (Python stage = payload synth/decode)
        "jpeg_image_features",
        "media_sniff_prune",
        # round 5 video family: container walk + per-frame decode
        "mjpeg_frame_sample",
        "gif_frame_features",
        # round 5 WARC ingest: record framing + HTML parse are Python by
        # nature (no JVM expression parses HTML); binaryFile scan + one
        # mapInPandas pass
        "warc_ingest_checksum",
        "audio_frame_energy",
        # round 5 third batch: real-decode resize kernels and the
        # single-bin-DFT tone probe bank (payload synth + decode in
        # mapInPandas, same discipline as the rest of the media family)
        "image_resize_features",
        "audio_tone_detect",
        # the composed sniff->route->decode flagship (two routed decode
        # branches over the pinned mixed corpus)
        "multimodal_curation_pipeline",
        # perceptual image fingerprinting (decode + aHash in mapInPandas)
        "image_ahash_dedup",
        # round 6: TFRecord round trip (Example codec + CRC framing are
        # Python by nature, like the Avro OCF codec above)
        "tfrecord_roundtrip_checksum",
        "trainer_egress_pipeline",
        # round 6 temporal media analytics: synth + per-frame decode in
        # mapInPandas; the windowed cut/segment logic itself is pure JVM
        "video_keyframe_detect",
        "audio_silence_segments",
        # the custom-fn CoGBK contract ships per-key iterables to Python
        # by definition: one mapInArrow pass (MapInArrow) over the
        # key-sorted tagged union; media egress = decode + Example codec
        "cogroup_nation_customer_supplier",
        "cogbk_sorted_stream",
        "media_egress_pipeline",
    }
    for name in all_queries():
        if name in allowed_python:
            continue
        p = _plan(spark, name)
        assert p.python_evals == 0, f"{name} has Python in the plan"


# Registered queries allowed to chain two Python evaluators in one stage,
# each with its reason. Empty: every query reads, decodes and parses in
# one Python pass per stage.
_PYTHON_CHAINS_OK: dict[str, str] = {}


def test_python_chain_detection_on_known_plans():
    """`python_chains` follows a Python evaluator down its own stage
    only: an exchange or broadcast ends the walk, and two branches of
    one stage (a union, a join's probe side) are not a chain."""
    from dataflowjavasdk_spark.plans.audit import python_chains

    chained = """== Physical Plan ==
AdaptiveSparkPlan (6)
+- HashAggregate (5)
   +- Exchange (4)
      +- MapInPandas (3)
         +- MapInPandas (2)
            +- Scan binaryFile  (1)
"""
    assert python_chains(chained) == ["MapInPandas (3) <- MapInPandas (2)"]
    split = """== Physical Plan ==
AdaptiveSparkPlan (12)
+- BroadcastHashJoin Inner BuildLeft (11)
   :- BroadcastExchange (4)
   :  +- MapInArrow (3)
   :     +- Scan ExistingRDD (1)
   +- Union (10)
      :- ArrowEvalPython (7)
      :  +- Exchange (6)
      :     +- MapInPandas (5)
      :        +- Scan ExistingRDD (2)
      +- MapInPandas (9)
         +- Scan ExistingRDD (8)
"""
    assert python_chains(split) == []


def test_no_stage_chains_two_python_evaluators(spark):
    """Every Python evaluator in a task holds a Python worker, and each
    one moves its input rows across the Arrow boundary again: two
    evaluators chained without an exchange between them (a decode
    feeding a parse) double both. Every registered query at SMOKE_SF
    runs at most one Python evaluator per stage path."""
    from dataflowjavasdk_spark.queries.registry import all_queries

    chained = {}
    for name in all_queries():
        p = _plan(spark, name)
        if p.python_chains and name not in _PYTHON_CHAINS_OK:
            chained[name] = p.python_chains
    assert not chained, chained


def test_cogbk_plan_counts_its_python_stage(spark):
    # the allow-list above is only as good as the counter: a CoGBK plan's
    # per-key Python stage must register as a Python evaluation
    p = _plan(spark, "cogroup_nation_customer_supplier")
    assert "MapInArrow" in p.text
    assert "FlatMapCoGroupsInArrow" not in p.text
    assert p.python_evals >= 1


def test_q7_broadcasts_all_dims_twice_joined_nation(spark):
    p = _plan(spark, "q7_volume_shipping")
    assert p.broadcast_joins >= 4  # customer, supplier, nation ×2
    assert p.sort_merge_joins == 0
    assert p.python_evals == 0


def test_q14_pushes_shipdate_range_and_broadcasts_part(spark):
    p = _plan(spark, "q14_promo_revenue")
    assert p.pushes("GreaterThanOrEqual(l_shipdate")
    assert p.pushes("LessThan(l_shipdate")
    assert p.broadcast_joins >= 1
    assert p.sort_merge_joins == 0


def test_ivf_ann_no_wide_joins(spark):
    # codebook + query set broadcast; the corpus is never shuffle-joined.
    p = _plan(spark, "ivf_ann_topk")
    assert p.sort_merge_joins == 0
    assert p.shuffled_hash_joins == 0
    assert p.python_evals == 0


def test_multimodal_prunes_scan(spark):
    # n_chars feeds only the (unconsumed) meta struct, and Catalyst prunes
    # it out of the scan entirely — the payload path reads 3 columns.
    p = _plan(spark, "multimodal_payload_stats")
    assert p.reads_only("text", {"source", "lang", "text"})
    assert p.python_evals == 0


def test_ngram_decontamination_broadcasts_benchmark(spark):
    # Benchmark grams (small side) broadcast; corpus is never shuffle-joined.
    p = _plan(spark, "ngram_decontamination")
    assert p.broadcast_joins >= 1
    assert p.sort_merge_joins == 0
    assert p.python_evals == 0


def test_bpe_token_stats_prunes_scan(spark):
    p = _plan(spark, "bpe_token_stats")
    assert p.reads_only("text", {"doc_id", "text"})
    assert p.python_evals == 0


def test_stratified_mix_is_scan_side(spark):
    # One aggregate shuffle; the rate filter runs in the scan stage.
    p = _plan(spark, "stratified_source_mix")
    assert p.reads_only("source", {"doc_id", "source", "n_chars"})
    assert p.python_evals == 0


def test_sketch_rollups_shuffle_only_partials(spark):
    # HLL rollup: partial sketches shuffle, never raw user_ids.
    p = _plan(spark, "hll_distinct_rollup")
    assert p.python_evals == 0
    assert "ObjectHashAggregate" in p.text and "partial_hll_sketch_agg" in p.text


def test_no_forced_broadcast_of_unbounded_relations(spark):
    """Round-2 scale bug, pinned: a forced F.broadcast() hint is only legal
    on relations whose cardinality is BOUNDED regardless of corpus size
    (1-row global aggregates, codebooks, benchmark gram sets, probe sets).
    tfidf's term-df relation (cardinality = vocabulary) and
    training_data_pipeline's per-document metadata (cardinality = corpus)
    must NOT carry hints — at 100 TB those are billions of rows. tfidf
    keeps exactly one hint: the 1-row in-plan corpus count."""
    import re

    def hints(name):
        df = get(name).fn(spark, SMOKE_SF)
        plan = df._jdf.queryExecution().analyzed().toString()
        return re.findall(r"ResolvedHint.*", plan), plan

    tf_hints, tf_plan = hints("tfidf")
    assert len(tf_hints) == 1, f"tfidf must hint only the 1-row count: {tf_hints}"
    assert "n_docs" in tf_plan  # the hinted relation is the scalar count agg

    pipe_hints, _ = hints("training_data_pipeline")
    assert pipe_hints == [], f"per-document metadata must not be hinted: {pipe_hints}"


def test_no_cartesian_products_anywhere(spark):
    """Global invariant: NO registered query contains a CartesianProduct,
    and BroadcastNestedLoopJoin appears only where a 1-row singleton view
    is intentionally cross-joined (View.asSingleton pattern) or a tiny
    broadcast side uses a non-equi condition by design. At 100 TB an
    accidental cartesian is a job that never finishes."""
    from dataflowjavasdk_spark.queries.registry import all_queries

    singleton_ok = {
        "side_input_global_mean",      # global mean as singleton view
        "q22_idle_rich_customers",     # global avg balance singleton
        "q11_important_stock",         # national total singleton threshold
        "unigram_rarity_quality",      # 1-row mean-frequency singleton
        "temperature_mix_sqrt",        # 1-row min-source-count singleton
        "global_window_events",        # single global-window aggregate
        "tfidf",                       # N-docs scalar broadcast
        "cosine_topk_bruteforce",      # query set broadcast, non-equi (≠)
        "ann_lsh_multitable",          # OR of two bucket tables (broadcast)
        "minhash_lsh_near_dups",       # band-bucket join has < on id
        "approx_quantiles_value",
        "exact_percentiles_quantity",
        "ivf_ann_topk",                # codebook argmax broadcast
        "ivf_ann_multiprobe",          # same codebook broadcast, nprobe=2
        "kmeans_ivf_refined",          # K-row codebook broadcast per iter
        "range_join_click_purchase",   # banded join post-filter
        "asof_join_click_purchase",
        "embedding_near_dup_pairs",    # label-blocked, < on vec_id
        "near_dup_pairs_jaccard",
        "near_dup_clusters",
        "training_data_pipeline",
        "counting_input_checksum",
        "hll_distinct_rollup",         # 1-row exact-ALL broadcast (verdict)
        "near_dup_graph_triangles",    # 3x 1-row count aggregates crossed
        "theta_audience_overlap",      # 1-row exact aggregates broadcast
        "approx_distinct_users",       # 1-row verdict aggregate
        "kll_quantiles_rollup",        # O(#types) sketch rows broadcast for
                                       # the rank audit (NULL-scope OR join)
        "key_skew_profile",            # 1-row top-10 aggregate crossed
        "embedding_decontamination",   # constant-size benchmark broadcast
        "tfidf_regex",                 # same 1-row N-docs broadcast as tfidf
        "bpe_train_merges",            # 3x 1-row argmax merge broadcasts
        "pagerank_near_dup",           # 1-row scale-params broadcast/round
        "pagerank_converged",          # same step, convergence-looped
        "pq_adc_topk",                 # constant codebook/dtable broadcasts
        "ivfpq_adc_topk",              # same + coarse-centroid broadcast
        "token_bigram_lm",              # 1-row vocab-size (V) broadcast
        "referential_integrity_audit",  # 1-row n_parent_dups attach per edge
        "lm_fluency_filter",            # 1-row V + gate-mean broadcasts
        "epoch_token_budget",           # 1-row weight-sum broadcast
        "post_dedup_mix_shift",         # same 1-row weight-sum broadcast,
                                        # before/after pair
        "quality_gate_agreement",       # same 1-row gate-mean broadcast
                                        # (the V broadcast sits inside the
                                        # pinned _fluency_scored relation)
        "rag_retrieval_pipeline",       # query-set broadcast, non-equi (≠),
                                        # same shape as cosine_topk_bruteforce
        "hard_negative_mining",         # query-set broadcast, label-≠ filter
        "late_interaction_topk",        # query-set broadcast, non-equi (≠)
        "bm25_retrieval_topk",          # 1-row N/avgdl stats broadcast
        "embedding_compression_recall",  # query-set broadcast, non-equi (≠),
                                         # the cosine_topk_bruteforce shape
        "hybrid_rrf_fusion",            # composes both shapes above
        "retrieval_label_precision",    # composes all three retrieval legs
        "semantic_context_pack",        # 8-row centroid broadcast (the
                                        # vector-search kit's ivf_cells)
        "unimax_budget_allocation",     # 1-row budget + 1-row level
                                        # singleton broadcasts
        "source_unigram_divergence",    # #sources-row profile self-join
                                        # (pair scaffold, source_a < source_b)
    }
    for name in all_queries():
        p = _plan(spark, name)
        assert "CartesianProduct" not in p.text, f"{name} has a cartesian product"
        if name not in singleton_ok:
            assert "BroadcastNestedLoopJoin" not in p.text, (
                f"{name} has an unexpected nested-loop join"
            )


def test_ewma_single_exchange_with_mapside_window_prune(spark):
    """ewma_user_values: ONE user_id exchange serves both the rank window
    and the final aggregate, and Spark plants WindowGroupLimit on BOTH
    sides of it — the map-side (Partial) instance means each task ships
    at most 32 rows per user, the property that bounds the shuffle at
    any history length."""
    p = _plan(spark, "ewma_user_values")
    assert p.python_evals == 0
    assert p.exchanges == 1
    assert p.text.count("WindowGroupLimit (") >= 2  # partial + final


def test_tfidf_has_no_window_in_warm_plan(spark):
    """Round 11: n_doc is carried through the (doc_id, term) aggregate as
    a projection-derived column — the warm path must contain NO window
    (the old sum-over-doc window re-shuffled and sorted every (doc, term)
    row of the corpus on every execution)."""
    from dataflowjavasdk_spark.queries import all_queries

    qs = all_queries()
    for name in ("tfidf", "tfidf_regex"):
        df = qs[name](spark, SMOKE_SF)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "Window" not in plan, f"{name} warm plan regrew a window"
