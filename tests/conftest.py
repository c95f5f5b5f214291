from __future__ import annotations

import os
import sys

import pytest

# the checkout this conftest lives in, so a copy of the repo tests its own package
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"

# Round-16 (VERDICT r15 #1): the heavy integration tier, deselected by the
# default profile (pytest.ini: -m "not slow") so the driver's verify gate
# (`python -m pytest tests/ -x -q`) finishes inside its window instead of
# timing out mid-run and reading as dark. Membership = every test that
# measured ≥ ~9 s in this round's full-suite baseline (371 passed in
# 37:50; these 60 calls alone were 1498 s of it — streaming drains,
# persisted-index lifecycle/remediation probes, registry-wide subprocess
# scans, adversarial-partition invariants). The tier stays green and
# runnable: `pytest tests/ -m slow` (or `-m ""` for everything).
# Five equivalence guards stay in the default gate despite their cost,
# because they guard the riskiest rewrites: IVF-PQ equals brute force,
# BM25 stream equals batch, persisted BM25 equals in-query, the
# concurrent star build equals the serial one, and materialization with
# a checkpoint directory equals the default local checkpoints.
SLOW_TESTS = {
    "test_no_partition_defined_warnings_registry_wide",
    "test_continuous_dedup_ingest_stream",
    "test_driver_window_spark_schemas_are_scalar",
    "test_round10_debuts_invariant_under_adversarial_partitions",
    "test_continuous_dedup_stream_resumes_from_checkpoint",
    "test_classify_stream_matches_batch_and_is_idempotent",
    "test_nb_maintenance_stream_equals_monolithic_and_replay_safe",
    "test_ivfpq_append_is_encode_only_and_validated",
    "test_bm25_federated_exactness_random_splits",
    "test_dedup_clusters_star_equals_label_propagation",
    "test_watermark_drops_late_data_in_append",
    "test_rrf_fusion_invariant_under_adversarial_partitions",
    "test_drop_duplicates_within_watermark_bounds_state",
    "test_ivfpq_maintenance_stream_equals_batch_appends_and_replay_safe",
    "test_ivfpq_content_fingerprint_refresh_cycle",
    "test_dedup_stream_collapses_and_rejects_exact_copies",
    "test_dims_have_default_member_and_unique_sks",
    "test_maintenance_refuses_batch_built_artifacts",
    "test_ann_stream_matches_batch_and_is_idempotent",
    "test_bm25_content_fingerprint_refresh_cycle",
    "test_txtable_delete_where_rewrites_only_hit_files",
    "test_bm25_maintenance_stream_matches_monolithic_and_replay_safe",
    "test_ivfpq_persisted_search_has_no_training_job",
    "test_ivfpq_compact_index_bit_equal_and_one_file_per_cell",
    "test_results_invariant_under_adversarial_shuffle_partitions",
    "test_txtable_update_where_copy_on_write",
    "test_ivfpq_maintenance_real_stream_drain",
    "test_federated_freshness_raises_naming_stale_shard",
    "test_txtable_data_skipping_prunes_files",
    "test_auc_and_ap_drop_null_scores_consistently",
    "test_bm25_compact_maintained_index_roundtrip",
    "test_range_partitioned_cumsum_fuzz",
    "test_bm25_federated_equals_monolithic_and_validates",
    "test_retire_refusals",
    "test_bm25_append_preserves_content_fingerprint",
    "test_retire_bm25_maintained_lifecycle",
    "test_incremental_lsh_dedup_with_persisted_index",
    "test_federated_refresh_rebuilds_only_stale_shards",
    "test_bm25_maintenance_batch_id_regression_guarded",
    "test_bm25_topk_ranks_by_relevance",
    "test_ivfpq_plan_shape",
    "test_bm25_prf_persisted_equals_inquery_and_reads_no_corpus",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.name.split("[")[0] in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    from data_warehouse_punta_fina_spark import get_spark

    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
