from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SMOKE_SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from dataflowjavasdk_spark.session import get_spark

    # Small shuffle fan-out: tests run on tiny data; 4 partitions keeps
    # per-test overhead low while still exercising exchange paths.
    spark = get_spark(app_name="tests", shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SMOKE_SF}/{t}.parquet')"
        )
    yield con


# ---------------------------------------------------------------------------
# Slow tier (round 11, VERDICT r10 #7). Measured on a quiet host with
# --durations: these tests each take >= 8 s (together ~75% of the
# suite's 38-minute wall) — streaming/trigger soaks, property
# round-trips, whole-registry plan sweeps. pytest.ini's default
# `-m "not slow"` keeps the default run inside the driver's verify
# window; run EVERYTHING with `-m "slow or not slow"` (the end-of-round
# verification does). Entries are (file basename, full test name —
# parametrized entries carry their [param] so ONLY the measured-slow
# parameter is tiered, not the whole parametrization).
# ---------------------------------------------------------------------------
_SLOW_TESTS = {
    ("test_trigger_kernel.py", "test_trigger_kernel_soak_state_bounded_by_lateness_horizon"),  # 139s
    ("test_properties.py", "test_csv_json_xml_round_trips"),  # 94s
    ("test_plan_audit.py", "test_no_cartesian_products_anywhere"),  # 91s
    ("test_plan_audit.py", "test_relational_queries_stay_jvm_side"),  # 82s
    ("test_curation_ops.py", "test_quantile_buckets_match_direct_ntile_on_crafted_corpora"),  # 78s
    ("test_scan_discipline.py", "test_no_query_exceeds_relation_allowance"),  # 74s
    ("test_streaming.py", "test_stalled_source_holds_watermark"),  # 60s
    ("test_trigger_kernel.py", "test_output_time_fn_all_three_policies"),  # 37s
    ("test_streaming.py", "test_stream_stream_full_outer_both_null_sides_fire"),  # 33s
    ("test_streaming.py", "test_stream_stream_left_outer_null_after_watermark"),  # 31s
    ("test_streaming.py", "test_stream_stream_right_outer_null_after_watermark"),  # 31s
    ("test_streaming.py", "test_streaming_three_way_windowed_cogroup"),  # 30s
    ("test_trigger_kernel.py", "test_closing_behavior_fire_always_emits_final_pane"),  # 26s
    ("test_dedup_similarity.py", "test_connected_components_long_path_converges"),  # 26s
    ("test_trigger_kernel.py", "test_after_each_advances_through_subtriggers"),  # 25s
    ("test_trigger_kernel.py", "test_or_finally_stops_after_until_fires"),  # 24s
    ("test_trigger_kernel.py", "test_session_kernel_closing_behavior_fire_always"),  # 23s
    ("test_streaming.py", "test_golden_deviation_no_refiring_beyond_horizon"),  # 22s
    ("test_scale_behaviors.py", "test_bzip2_reread_splits_beyond_file_count"),  # 22s
    ("test_trigger_kernel.py", "test_sliding_windows_full_trigger_lifecycle"),  # 19s
    ("test_streaming.py", "test_stateful_par_do_timer_survives_unrelated_batch"),  # 18s
    ("test_streaming.py", "test_leaderboard_end_to_end_pane_sequence"),  # 18s
    ("test_streaming.py", "test_stateful_par_do_timer_fires_and_clears"),  # 18s
    ("test_trigger_kernel.py", "test_stragglers_beyond_lateness_are_dropped"),  # 18s
    ("test_streaming.py", "test_streaming_ivf_index_maintenance"),  # 18s
    ("test_trigger_kernel.py", "test_closing_fire_if_non_empty_flushes_buffered_late_data"),  # 17s
    ("test_trigger_kernel.py", "test_session_kernel_early_firing_then_merge"),  # 17s
    ("test_trigger_kernel.py", "test_late_data_within_lateness_fires_late_pane"),  # 17s
    ("test_avro_io.py", "test_spark_avro_round_trip_property"),  # 16s
    ("test_streaming.py", "test_streaming_sliding_windows_assign_to_overlaps"),  # 16s
    ("test_trigger_kernel.py", "test_early_firing_by_count_then_on_time_accumulating"),  # 16s
    ("test_queries_vs_oracle.py", "test_query_matches_oracle[cluster_representative_dedup]"),  # 15s
    ("test_streaming.py", "test_avro_stream_source_to_avro_stream_sink_exactly_once"),  # 15s
    ("test_streaming.py", "test_tfrecord_stream_sink_exactly_once_across_restarts"),  # 15s
    ("test_trigger_kernel.py", "test_discarding_mode_resets_between_panes"),  # 15s
    ("test_trigger_kernel.py", "test_session_kernel_discarding_resets_after_early"),  # 14s
    ("test_properties.py", "test_nway_cogroup_matches_pandas_reference"),  # 13s
    ("test_streaming.py", "test_streaming_calendar_windows_update_mode"),  # 13s
    ("test_streaming.py", "test_stateful_par_do_value_and_bag_state"),  # 13s
    ("test_streaming.py", "test_read_stream_jsonl_watermark_panes"),  # 12s
    ("test_trigger_kernel.py", "test_never_trigger_only_on_time_pane"),  # 12s
    ("test_trigger_kernel.py", "test_session_kernel_merges_and_fires_on_time"),  # 12s
    ("test_trigger_kernel.py", "test_no_early_trigger_fires_only_at_watermark"),  # 12s
    ("test_tfrecord.py", "test_read_stream_tfrecord_microbatches_and_batch_equivalence"),  # 12s
    ("test_streaming.py", "test_exactly_once_file_sink_across_restarts"),  # 12s
    ("test_analytics_ops.py", "test_transition_matrix_conserves_events"),  # 12s
    ("test_trigger_kernel.py", "test_output_time_discarding_uses_pane_elements_only"),  # 12s
    ("test_streaming.py", "test_golden_deviation_user_declared_watermark_outlier"),  # 12s
    ("test_streaming.py", "test_update_mode_emits_early_refinements"),  # 12s
    ("test_streaming.py", "test_drop_duplicates_within_watermark"),  # 11s
    ("test_streaming.py", "test_read_stream_avro_watermark_panes"),  # 11s
    ("test_trigger_kernel.py", "test_session_kernel_output_time_latest"),  # 11s
    ("test_streaming.py", "test_append_mode_emits_once_after_watermark"),  # 11s
    ("test_streaming.py", "test_late_data_beyond_watermark_dropped"),  # 11s
    ("test_streaming.py", "test_rocksdb_state_store_provider_works"),  # 11s
    ("test_streaming.py", "test_read_stream_avro_equals_batch_read"),  # 11s
    ("test_dedup_similarity.py", "test_cluster_representative_is_longest_then_min_id"),  # 11s
    ("test_streaming.py", "test_session_window_streaming"),  # 11s
    ("test_trigger_kernel.py", "test_session_kernel_separate_sessions_beyond_gap"),  # 11s
    ("test_streaming.py", "test_stream_stream_inner_join_emits_matches_in_range"),  # 11s
    ("test_multimodal.py", "test_audio_features_empty_clip_last_in_batch"),  # 10s
    ("test_properties.py", "test_parquet_round_trip_full_coder_table"),  # 10s
    ("test_streaming.py", "test_streaming_session_windows_merge_and_close"),  # 10s
    ("test_trigger_kernel.py", "test_session_kernel_stragglers_beyond_lateness_are_dropped"),  # 10s
    ("test_trigger_kernel.py", "test_session_kernel_late_data_within_lateness_fires_late_pane"),  # 9s
    ("test_properties.py", "test_parquet_round_trip"),  # 10s
    ("test_queries_vs_oracle.py", "test_query_matches_oracle[ann_recall_report]"),  # 10s
    ("test_avro_io.py", "test_logical_types_round_trip_property"),  # 10s
    ("test_queries_vs_oracle.py", "test_query_matches_oracle[ann_recall_report_k20]"),  # 10s
    ("test_queries_vs_oracle.py", "test_query_matches_oracle[leakage_safe_split]"),  # 10s
    ("test_properties.py", "test_tone_detection_invariant_to_amplitude_and_phase"),  # 9s
    ("test_properties.py", "test_decimal_sum_order_independent"),  # 9s
    ("test_warc.py", "test_read_stream_warc_microbatches_and_batch_equivalence"),  # 9s
    ("test_streaming.py", "test_media_stream_curation_pane_sequence"),  # 9s
    ("test_dedup_similarity.py", "test_recall_ladder_second_operating_point"),  # 9s
    ("test_queries_vs_oracle.py", "test_query_matches_oracle[pagerank_near_dup]"),  # 8s
    ("test_properties.py", "test_asof_join_matches_reference"),  # 8s
    ("test_curation2_ops.py", "test_bpe_train_until_convergence_round_count_independent"),  # 8s
    ("test_streaming.py", "test_streaming_curation_capstone_end_to_end"),  # 8s
    ("test_properties.py", "test_range_join_matches_reference"),  # 8s
}


def pytest_collection_modifyitems(config, items):
    import os as _os

    slow = pytest.mark.slow
    for item in items:
        fname = _os.path.basename(str(item.fspath))
        if (fname, item.name) in _SLOW_TESTS:
            item.add_marker(slow)
