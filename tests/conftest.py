from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# ---------------------------------------------------------------------------
# Fast-gate policy (verdict r11 item 1): the default run (`-m "not slow"`,
# pytest.ini) must finish inside the external verifier's budget (<15 min);
# the full suite grew past 2h and was killed unfinished in round 11. The
# heavy unit BATTERIES below (measured per-file on a quiet box, round 12:
# each 60-100s+ of property differentials / recall fits / streaming replays)
# move to the slow tier wholesale, except for a small allowlist of tests
# that guard THIS round's changes or are cheap planted-case differentials.
# Functional end-to-end coverage in the fast gate comes from the
# oracle/edge differential cores (driver window + bench headline) and the
# full plan-invariant sweep. Everything still runs under `-m ""`.
# ---------------------------------------------------------------------------

_SLOW_FILES: dict[str, set[str]] = {
    # file -> allowlist of test functions that STAY in the fast gate
    "test_editjoin.py": set(),            # naive-crossJoin oracles, slow by design
    "test_graph_ingest.py": set(),        # streaming ANN ingest battery
    "test_nndescent.py": {
        # graph-ANN recall fits stay slow; these cheap cases cover the
        # build and search loops that read their counts off checkpoints
        "test_empty_corpus",
        "test_zero_norm_never_pairs",
        "test_rounds_read_counts_off_checkpoints",
    },
    "test_graph_pq.py": set(),            # PQ/IVF recall fits
    "test_fit_sampling.py": set(),        # sampled-fit recall batteries
    "test_fuzz_expressions.py": set(),    # randomized expression battery
    "test_streaming_incremental.py": {
        # the one fold body: store match, intra-batch pairs, survivorship
        "test_cross_batch_planted_dup",
        "test_batch_retry_is_exactly_once",
        "test_longest_text_policy_intra_batch",
        "test_fold_signs_batch_once",
        "test_fold_measures_signatures_once",
    },
    "test_streaming_incremental_perceptual.py": {
        "test_cross_batch_planted_dup_hamming",
        "test_batch_retry_is_exactly_once_hamming",
        "test_fold_signs_batch_once_hamming",
        "test_fold_checkpoints_signatures_once_hamming",
    },
    "test_streaming_heavyhitters.py": set(),
    "test_streaming_recovery.py": set(),
    "test_streaming_late.py": set(),
    "test_quantile.py": {
        # the grouped refinement loop, which reads its counts off the
        # bounds checkpoints; the rest is covered by agg_*median oracle rows
        "test_grouped_quantile_matches_reference",
        "test_grouped_quantile_string_groups_and_null_only_group",
        "test_grouped_quantiles_multi_matches_singles",
        "test_grouped_refinement_is_distributed_no_big_collects",
        "test_grouped_refinement_reads_counts_off_checkpoints",
    },
    "test_zorder.py": {
        # the Morton order compact(zorder_by=...) writes into each file
        "test_tickstore_compact_zorder",
    },
    "test_operators.py": {
        # connected-components differentials + the pagerank/numpy pin —
        # both operators were rewritten this round
        "test_connected_components_chain_and_islands",
        "test_connected_components_path_graph_high_diameter",
        "test_connected_components_random_vs_union_find",
        "test_connected_components_raises_without_fixpoint",
        "test_pagerank_matches_numpy_power_iteration",
        "test_operators_accept_empty_inputs",
        # every loop round and measured build side reads its stats off its
        # own checkpoint job (ckpt.materialize)
        "test_connected_components_rounds_read_stats_off_checkpoints",
        "test_pagerank_tol_read_rides_the_checkpoint",
        # the driver-local graph loops: id types, NULL endpoints, the one
        # edge-list checkpoint, and the dangling tol test on both routes
        "test_connected_components_string_long_and_null_ids",
        "test_connected_components_local_route_runs_one_checkpoint",
        "test_pagerank_string_long_and_null_ids",
        "test_pagerank_local_route_runs_one_checkpoint",
        "test_pagerank_tol_early_exit_matches_fixpoint_local",
        "test_pagerank_tol_early_exit_matches_fixpoint",
        # with sized checkpoints AQE picks the loops' joins: shuffled and
        # broadcast runs agree
        "test_distributed_loops_shuffle_path_matches_broadcast_path",
        "test_minhash_pairs_runs_no_action",
        "test_hamming_band_join_runs_no_action",
        # the TickStore battery: its read path and schema sidecar changed
        "test_tickstore_roundtrip_and_overlap",
        "test_tickstore_per_write_metadata",
        "test_tickstore_schema_evolution_merge_read",
        "test_tickstore_compact_preserves_layout",
        "test_tickstore_date_partitioning_prunes",
        "test_tickstore_bucketed_uids_prunes_partitions",
        "test_tickstore_streaming_append_and_source",
        "test_tickstore_compact_after_streaming",
        "test_tickstore_vacuum_both_paths",
        "test_tickstore_upsert_and_delete",
        "test_tickstore_streaming_merge_ingestion",
        "test_tickstore_full_lifecycle_integration",
        # the payload operators: every one now maps its payloads through
        # the single per-payload row map (multimodal._map_payloads)
        "test_multimodal_stub_contract",
        "test_decode_image_meta_real_headers",
        "test_wav_header_parse_and_decode",
        "test_resize_images_null_propagates",
        "test_phash_pairs_auto_routes_both_widths",
        "test_video_pairs_auto_routes_both_widths",
        "test_audio_pairs_auto_routes_both_widths",
        # the near-dup band join: shared band keys, exchange sizing and
        # verification behind the MinHash and Hamming tiers
        "test_minhash_lsh_finds_planted_near_duplicates",
        "test_incremental_minhash_dedup",
        "test_hamming_pairs_multiword_signature",
        "test_hamming_join_bipartite_differential",
        "test_hamming_pairs_combination_banding_differential",
        "test_simhash_flags_identical_and_near",
        "test_simhash_words_lanes_and_pairs",
    },
    "test_snapshots.py": {
        # append_split landed this round (stream_cdf_partitioned path)
        "test_append_split_equals_sequential_appends",
        "test_append_split_empty_value_is_plain_append",
        "test_append_split_enforces_constraints",
        # footer bounds: _dir_entries now reads them through footer_entries,
        # shared with the TickStore manifest
        "test_merge_upserts_and_prunes_disjoint_files",
        "test_read_where_prunes_and_is_exact",
        "test_read_where_empty_range_and_no_stats",
        "test_stage_files_skip_giant_string_stats",
    },
    "test_ckpt_release.py": {
        # the scope contracts and the 20-run sf0.001 long session; the
        # 30-run long session at TEST_SF_DIR is the slow one
        "test_materialize_stats_equal_a_separate_agg",
        "test_materialize_runs_the_jobs_of_a_bare_checkpoint",
        "test_materialize_empty_frame_counts_zero_sums_null",
        "test_materialize_releases_only_after_materializing",
        "test_materialize_shares_one_listener",
        "test_materialize_sizes_the_checkpoint_by_its_rows",
        "test_pagerank_checkpoints_stay_sized_over_dangling_rounds",
        "test_nndescent_round_checkpoints_stay_sized",
        "test_scope_releases_rdds_persisted_inside",
        "test_scope_keeps_cache_persisted_before",
        "test_nested_scopes_release_only_their_own",
        "test_scope_survives_bad_rdd",
        "test_scope_releases_nothing_while_stream_active",
        "test_long_session_scoped_runs_fast",
        "test_worker_spawn_flake_matcher",
    },
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        fname = os.path.basename(str(item.fspath))
        if fname in _SLOW_FILES:
            base = item.name.split("[")[0]
            if base not in _SLOW_FILES[fname]:
                item.add_marker(pytest.mark.slow)

# Default to the smallest SF for fast iteration; CI/driver-parity runs can set
# TEST_SF_DIR=/root/testdata/sf0.01 to match the driver's correctness gate.
SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def spark():
    from corintick_spark.session import get_spark

    s = get_spark(app_name="corintick-spark-tests", master="local[8]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck(sf_dir):
    from tests.oracle import duck_connection

    con = duck_connection(sf_dir)
    yield con
    con.close()
