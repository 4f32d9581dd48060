"""Shared fixtures: one local SparkSession per test session."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from arcane_stream_parquet_spark import build_session

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("ASP_ORACLE_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    session = build_session(app_name="asp-tests", cpus=8, shuffle_partitions=8)
    yield session
    session.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


# ---------------------------------------------------------------------------
# Suite tiering (r17, VERDICT r16 item 3): the full suite runs ~40 min —
# past the correctness driver's pytest window (the r16 driver's test
# gate went dark: VERIFY tests_ok=false with the output truncated
# mid-dots, no failure anywhere).  pytest.ini deselects `slow` by
# default so the driver's `python -m pytest tests/ -x -q` runs a fast
# tier of every operator's parity/semantics/plan pins; the marks are
# applied centrally here from measured durations (--durations=60 on the
# 2026-08-18 full run) instead of scattering pytestmark edits over 20
# files.  Run the FULL suite with `-m ""` (builders do, before any
# round-closing claim).
#
# What goes slow (and why the fast tier doesn't lose coverage):
# - whole lifecycle/soak/replay/property files whose semantics are
#   pinned elsewhere in seconds: oracle replays (the DRIVER itself runs
#   every query vs DuckDB as its own gate), crash/kill durability
#   replays, cross-process soaks, hypothesis property suites,
#   changelog replication chains, multi-batch curation streams;
# - individually-measured >=9 s tests inside files that stay fast.
_SLOW_FILES = {
    "test_oracle.py",
    "test_concurrent_soak.py",
    "test_properties.py",
    "test_changelog_replication.py",
    "test_curation_stream.py",
    "test_rebucket.py",
    # third cut: secondary lifecycle/maintenance suites — their
    # operators keep cheaper parity pins in the fast tier (read_where
    # stats/pruning, merge/mor basics) or a driver-side oracle row
    # (multimodal_pipeline); the full tier runs them all.
    "test_multimodal.py",
    "test_vacuum_retention.py",
    "test_zorder.py",
    "test_bloom_stats.py",
}

_SLOW_TESTS = {
    "test_sharded_manifest_fragmentation_bound_reshards",
    "test_mor_equals_cow_for_random_batch_sequences",
    "test_long_string_stats_truncate_and_stay_correct",
    "test_agreement_floor_on_real_embeddings",
    "test_mor_skewed_deletes_broadcast_and_shuffle_paths",
    "test_stream_mor_e2e_matches_cow_with_adaptive_maintenance",
    "test_soak_trickle_merges_compact_vacuum_converges",
    "test_lookup_prunes_tighter_after_split",
    "test_mor_matches_cow_exactly",
    "test_compact_preserves_clustering",
    "test_round_trip_with_merges_between",
    "test_compact_minor_mixed_entries_then_full_compact",
    "test_maintenance_zero_disables_all",
    "test_filters_survive_compact_and_rebucket",
    "test_sharded_adaptive_gate_fires_on_small_files_candidate_reads_only",
    "test_ivfpq_deterministic_across_partitionings",
    "test_training_recovers_recall_from_bad_seeding",
    "test_split_identity_layout_and_metadata",
    "test_compact_folds_deletes_and_preserves_contents",
    "test_training_is_deterministic",
    "test_compaction_recollects_stats",
    "test_compact_minor_consolidates_deletes_and_preserves_contents",
    "test_semantics_identical_through_lifecycle",
    "test_streaming_end_to_end_with_merge_on_read",
    "test_count_where_mor_dirty_buckets_stay_exact",
    "test_compact_minor_crash_before_manifest_flip_loses_nothing",
    "test_compact_minor_coalesces_small_files",
    "test_ivfpq_matches_reference",
    "test_ivfpq_residuals_beat_flat_pq_on_clustered",
    "test_create_text_cross_process_hammer",
    # second cut (fast tier first measured 20:24 — still past the
    # driver window at this box's 1.5x calibration handicap): recall/
    # property sweeps and maintenance/CDC lifecycle tests whose
    # semantics have cheaper pins or driver-side oracle rows
    "test_read_where_equals_read_filter",
    "test_ann_lsh_subset_of_bruteforce",
    "test_multiprobe_recall_superset",
    "test_simhash_identical_and_near",
    "test_compact_minor_after_column_drift",
    "test_maintenance_metrics_from_sharded_manifest_summary",
    "test_adaptive_maintenance_escalates_and_converges",
    "test_vacuum_reclaims_spent_delete_dirs",
    "test_mor_with_sorted_by_and_tiebreakers",
    "test_maintenance_metrics_match_manifest",
    "test_cow_mor_changelogs_identical",
    "test_minor_compaction_silent_mor",
    "test_maintenance_commits_are_silent",
    "test_changelog_classifies_and_replays",
    "test_range_endpoints_and_empty_range",
    "test_replay_self_match_beats_other_matches",
    "test_cross_batch_near_dup_detection",
    "test_cdc_survives_retention_window",
    "test_history_metadata_table",
    "test_clustered_merge_parity_with_plain",
    "test_second_dimension_prunes_files",
    "test_precomputed_tree_reused_across_consumers",
    "test_recall_ladder_on_unstructured_embeddings",
    "test_rerank_lifts_unstructured_recall",
    "test_backward_preserves_matched_nulls",
    "test_lsh_nan_policy_sql_matches_pure_sql",
    "test_funnel_composes",
}

# names that collide across files: mark only the slow instance
_SLOW_FILE_TESTS = {
    ("test_two_level.py", "test_deterministic_across_runs"),
    # test_merge_durability.py: its commit-fence race tests (two
    # writers, one next version) stay in the default tier except the
    # slowest, without which they take under 60 s; the crash replays,
    # the state-machine fuzz and the rest run in the full tier
    *(
        ("test_merge_durability.py", name)
        for name in (
            "test_concurrent_writer_loses_cleanly_and_retry_converges",
            "test_crash_before_manifest_flip_loses_nothing",
            "test_schema_commits_atomically_with_manifest",
            "test_restart_after_mid_commit_crash_never_reinitializes",
            "test_watermark_survives_mid_commit_crash_and_reader_races",
            "test_exact_tie_deterministic_with_tiebreakers",
            "test_compact_reduces_files_preserves_contents",
            "test_stats_counts",
            "test_sorted_by_orders_rows_within_files",
            "test_no_global_conf_mutation",
            "test_bloom_filter_cols_write_and_read",
            "test_schema_drift_type_widening",
            "test_time_travel_reads_and_expiry",
            "test_crash_replay_state_machine_fuzz",
            "test_adaptive_vacuum_on_snapshot_debt",
        )
    ),
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        base = item.fspath.basename
        name = item.name.split("[", 1)[0]
        if (
            base in _SLOW_FILES
            or name in _SLOW_TESTS
            or (base, name) in _SLOW_FILE_TESTS
        ):
            item.add_marker(pytest.mark.slow)
