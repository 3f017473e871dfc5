from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

from realtime_datawarehouse_spark.session import build_session
from realtime_datawarehouse_spark.tables import TABLE_NAMES

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MID = "/root/testdata/sf0.01"

# Two-tier suite: everything that measured >=7 s in a full run
# (`pytest tests/ -q --durations=60`) carries @slow and is skipped by
# default (the tier switch below). Bare names mark every parametrization;
# bracketed names mark one. Regenerate from --durations when the profile
# shifts (the slow-tier report below lists newcomers) — membership is
# measured, never guessed.
SLOW_TESTS = {
    "test_quality_refresh_on_bucketed_table_then_merge_rebuckets",
    "test_bpe_ingest_bucketed_encodings_match_flat",
    "test_concurrent_bpe_vocab_installs_race_cleanly",
    "test_refresh_eval_oracles_agree_on_non_ascii",
    "test_query_matches_oracle[bpe_vocab_refresh_eval]",
    "test_two_concurrent_composed_loop_writers[local]",
    "test_two_concurrent_composed_loop_writers[object-faulted]",
    "test_bpe_vocab_refresh_trigger_and_old_rows_stay_valid",
    "test_bpe_batch0_trigger_does_not_collide_with_day0_vocab",
    "test_embedded_cache_invalidates_on_table_recreation",
    "test_bpe_corpus_pipeline_stream_matches_step_replay",
    "test_quality_refresh_policy_triggers_on_planted_drift_only",
    "test_quality_embedded_model_serves_and_swap_is_atomic",
    "test_composed_loop_quality_refresh_measure_act",
    "test_compaction_gate_uses_persisted_bucket_spec",
    "test_no_row_python_udfs_anywhere",
    # r14: full-registry analyzed-plan sweep (285 query builds, ~8 min)
    "test_no_query_explodes_a_stored_array",
    "test_sql_view_surface",
    "test_full_stream_topology_restarts_from_checkpoints",
    "test_full_stream_topology_both_columns_shared_store",
    "test_streaming_split_assignments_track_batch_cc",
    "test_incremental_split_maintenance_stepwise_parity",
    "test_stream_stream_left_outer_holds_until_watermark",
    "test_bpe_encode_vocab_matches_regexp_form",
    "test_trade_stream_graph_three_hop_parity",
    "test_layered_pipeline_end_to_end",
    "test_traffic_stream_graph_three_hop_parity",
    "test_cart_add_uu_pipeline",
    "test_semdedup_lsh_multiprobe_recall_lift",
    "test_multiprocess_concurrent_writers",
    "test_semdedup_eval_recall_on_planted_near_dups",
    "test_threaded_concurrent_writers",
    "test_query_matches_oracle[pipeline_corpus_curation_v4]",
    "test_query_matches_oracle[embed_pca_residual_eval]",
    "test_first_per_user_day_state_is_evicted",
    "test_keyword_window_pipeline",
    "test_pca_residual_eval_flags_flip_without_training",
    "test_bpe_encode_vocab_eval_matches_regexp_eval",
    "test_multiprocess_writer_killed_mid_merge_heals",
    "test_dim_router_stream_hot_reload",
    "test_curation_v4_split_respects_components_and_drops",
    "test_auto_buckets_rule_and_router_autosizing",
    "test_hash64_matches_duckdb",
    "test_dim_router_stream_bucketed_parity",
    "test_incremental_ingest_loop_n_steps_cumulative_parity_flat_cost",
    "test_bpe_eval_oracles_agree_on_non_ascii",
    "test_dim_router_restart_resumes_merge_state",
    "test_commit_stall_steal_interleave",
    "test_streaming_corpus_ingest_parity",
    "test_cdc_snapshot_then_tail",
    "test_query_runs[embed_pca_top_component]",
    "test_pca_matches_numpy_eigenvector",
    "test_hash64_pair_matches_duckdb",
    "test_asof_join_matches_duckdb_asof",
    "test_cdc_chunks_reconstruct_property",
    "test_ivf_trained_recall_eval_flag_is_measured",
    "test_mix_split_incremental_eval_matches_batch_query",
    "test_incremental_pairs_equal_full_pair_increment",
    "test_bpe_encode_dispatches_to_vocab_kernel_past_regexp_max",
    "test_ivf_incremental_index_matches_batch",
    "test_threaded_merge_upsert_on_both_backends",
    # r13: ~7 s quiet-host call (two full exact-Jaccard pair runs at the
    # membership bar; flagged by the guard on a mid-session slow phase)
    "test_jaccard_prefix_matches_full_inverted_index",
    # round-9 additions (measured via the slow-tier report below)
    "test_bpe_train_matches_rounds",
    "test_production_corpus_pipeline_stream_matches_replay",
    "test_hot_band_spanning_pairs_bound_and_cc_parity",
    "test_query_matches_oracle[mix_split_incremental_eval]",
    "test_query_matches_oracle[pipeline_production_ingest_eval]",
    "test_production_ingest_step_replay_is_idempotent",
    "test_classifier_training_is_partition_invariant",
    "test_classifier_learns_planted_separation",
    # round-10 additions (measured via the slow-tier report below)
    "test_query_matches_oracle[pipeline_production_ingest_trained_eval]",
    "test_ivf_refresh_atomic_swap_trained_path_and_post_refresh_ingest",
    "test_query_matches_oracle[ann_ivf_refresh_eval]",
    "test_ivf_refresh_policy_triggers_on_planted_drift_only",
    "test_production_ingest_bucketed_matches_flat",
    "test_v3_stream_matches_replay_through_all_three_refreshes",
    "test_query_matches_oracle[pipeline_production_ingest_v3_eval]",
    "test_query_matches_oracle[pipeline_loop_consistency_eval]",
    "test_crash_between_tables_reader_never_sees_mixed_frontier",
    "test_two_writers_race_across_quality_and_vocab_refreshes",
    "test_http_lag_reports_torn_frontier_and_heals",
    "test_consistent_read_survives_fired_refresh_double_commit",
    "test_concurrent_different_content_installs_converge",
    "test_unmanifested_head_maps_to_none_not_stale_pick",
    "test_v3_replay_bucketed_matches_flat_through_refreshes",
    "test_ivf_refresh_on_bucketed_index_then_merge_rebuckets",
}


# Slow-tier report: SLOW_TESTS is a measured, hand-regenerated list, so a
# new >=7 s test can land in the quick tier unnoticed. Every passed test
# outside SLOW_TESTS whose CALL phase (fixture setup excluded) runs over
# this fixed budget is listed at the end of the run, naming the fix; the
# exit status is left alone. The budget sits above the >=7 s membership
# bar so ordinary host noise rarely lists a test.
SLOW_DRIFT_BUDGET_S = 12.0

_OVER_BUDGET = pytest.StashKey[list]()


def _in_slow_tests(name: str) -> bool:
    return name in SLOW_TESTS or name.split("[", 1)[0] in SLOW_TESTS


@pytest.hookimpl(wrapper=True)
def pytest_runtest_makereport(item, call):
    rep = yield
    if (
        rep.when == "call"
        and rep.passed
        and call.duration > SLOW_DRIFT_BUDGET_S
        and not _in_slow_tests(item.name)
    ):
        item.config.stash.setdefault(_OVER_BUDGET, []).append(
            (item.name, call.duration)
        )
    return rep


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    over = config.stash.get(_OVER_BUDGET, [])
    if not over:
        return
    terminalreporter.section("SLOW-TIER DRIFT (report only)")
    for name, dur in over:
        terminalreporter.write_line(
            f"{name}: {dur:.1f}s > {SLOW_DRIFT_BUDGET_S:.0f}s budget and not "
            "in SLOW_TESTS — if this reproduces, add it (regenerate "
            "membership from `pytest --durations=60`)."
        )


# Driver-budget tier: the DEFAULT run (no env) is the quick tier, so the
# driver's plain `pytest tests/` fits its time budget: SLOW_TESTS are
# skipped with a reason naming the opt-in. RDW_FULL_SUITE=1 runs
# everything — the full tier is the local gate before any commit that
# touches operator internals. Assertions are identical in both tiers; the
# quick tier still covers every operator and oracle family (the slow tier
# is dominated by multi-loop replay/concurrency soaks and the heaviest
# parametrizations).
def full_suite_enabled(env_val: str | None) -> bool:
    """Tier switch: unset/empty/"0" = quick tier (driver budget), anything
    else = full suite. Pinned by test_registry.py so the driver-facing
    default can't silently flip."""
    return (env_val or "") not in ("", "0")


FULL_SUITE = full_suite_enabled(os.environ.get("RDW_FULL_SUITE"))

_SKIP_SLOW = pytest.mark.skip(
    reason="slow tier: set RDW_FULL_SUITE=1 to run (driver-budget tier)"
)


def pytest_collection_modifyitems(config, items):
    for item in items:
        if _in_slow_tests(item.name):
            item.add_marker(pytest.mark.slow)
            if not FULL_SUITE:
                item.add_marker(_SKIP_SLOW)


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="rdw-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def assert_matches_oracle(
    spark_df, duck_con, oracle: str, atol: float = 1e-6
) -> None:
    """Replicates the driver's t2 compare: sort columns by name, check row
    count and values order-insensitively (rows sorted by every column)."""
    got = spark_df.toPandas()
    exp = duck_con.execute(oracle).fetchdf()
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    assert list(got.columns) == list(exp.columns), (
        f"column mismatch: {list(got.columns)} vs {list(exp.columns)}"
    )
    assert len(got) == len(exp), f"row count {len(got)} != {len(exp)}"
    if len(exp) == 0:
        return
    got = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    exp = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
    for c in exp.columns:
        e = exp[c]
        g = got[c]
        if pd.api.types.is_float_dtype(e) or pd.api.types.is_float_dtype(g):
            pd.testing.assert_series_equal(
                g.astype("float64"),
                e.astype("float64"),
                check_names=False,
                rtol=0,
                atol=atol,
            )
        else:
            assert g.astype(str).tolist() == e.astype(str).tolist(), (
                f"value mismatch in column {c}"
            )
