from __future__ import annotations

import pytest

SF_DIR_SMALL = "/root/testdata/sf0.001"
SF_DIR_MEDIUM = "/root/testdata/sf0.01"

# Long-tail integration tests excluded from the default run (pytest.ini
# addopts `-m "not slow"`) so the suite fits the driver's verify budget
# (VERDICT r11 #2). Selected here centrally, by measured duration (the
# r12 full-suite run: every test that took >= ~6 s of the 28:43 wall;
# together ~917 s of it). The set is the SAME tests, unweakened — run
# them with `python -m pytest tests/ -q -m slow`. Keyed by
# "<file basename>::<test name>" so the selection is stable regardless
# of the invocation directory.
SLOW_TESTS = frozenset({
    "test_plan_budgets.py::test_no_scale_killer_plan_shapes",
    "test_tableformat.py::test_cdc_replication_holds_across_random_op_sequences",
    "test_operator_invariants.py::test_emb_cosine_oracle_tracks_adaptive_width",
    "test_parity.py::test_query_matches_oracle[parts_kcore]",
    "test_operator_invariants.py::test_emb_dedup_band_width_adapts",
    "test_operator_invariants.py::test_emb_cosine_oracle_tracks_adaptive_bands",
    "test_tableformat.py::test_cdc_sees_change_confined_to_evolved_column",
    "test_tableformat.py::test_merge_upserts_and_skips_disjoint_files",
    "test_tableformat.py::test_read_changes_emits_logical_changes_only",
    "test_tableformat.py::test_snapshot_diff_classifies_changes_and_skips_shared_files",
    "test_operator_invariants.py::test_embedding_lsh_is_subset_of_bruteforce_and_recall_consistent",
    "test_parity.py::test_query_matches_oracle[dedup_method_agreement]",
    "test_streaming.py::test_watermark_actually_drops_late_rows",
    "test_tableformat.py::test_read_changes_is_a_sufficient_replication_feed",
    "test_tableformat.py::test_cdc_null_key_rows_use_presence_markers",
    "test_tableformat.py::test_merge_version_col_higher_wins",
    "test_checks.py::test_reference_suite",
    "test_parity.py::test_query_matches_oracle[ann_recall_report]",
    "test_parity.py::test_query_matches_oracle[docs_split_leakage]",
    "test_parity.py::test_query_matches_oracle[docs_dedup_cluster_purity]",
    "test_tableformat.py::test_delete_where_rewrites_only_touched_files",
    "test_tableformat.py::test_snapshot_diff_overwrite_and_delete",
    "test_global_helpers.py::test_global_row_number_matches_window",
    "test_parity.py::test_query_matches_oracle[dedup_embedding_cosine]",
    "test_tableformat.py::test_diff_rejects_reversed_or_unknown_versions",
    "test_operator_invariants.py::test_emb_hot_bucket_valve_drops_degenerate_buckets",
    "test_tableformat.py::test_snapshot_diff_across_schema_evolution",
    "test_tableformat.py::test_vacuum_removes_only_unreferenced",
    "test_operators.py::test_ann_recall_report_orders_variants_sanely",
    "test_parity.py::test_query_matches_oracle[docs_quality_by_dup_status]",
    "test_parity.py::test_query_matches_oracle[dedup_doc_labels]",
    "test_parity.py::test_query_matches_oracle[docs_split_by_cluster]",
    "test_parity.py::test_query_matches_oracle[dedup_clusters]",
    "test_parity.py::test_query_matches_oracle[docs_shard_by_cluster]",
    "test_parity.py::test_query_matches_oracle[docs_quality_survivors]",
    "test_operator_invariants.py::test_silhouette_sample_is_bounded_and_in_range",
    "test_streaming.py::test_stateful_accumulates_across_microbatches",
    "test_parity.py::test_query_matches_oracle[embeddings_pca_variance]",
    "test_parity.py::test_query_matches_oracle[kmeans_silhouette_sample]",
    "test_global_helpers.py::test_global_ntile_matches_ntile_window",
    "test_determinism_properties.py::test_dsum_order_independent_and_cross_engine",
    "test_parity.py::test_query_matches_oracle[dedup_lsh_recall_report]",
    "test_tableformat.py::test_zorder_skips_files_on_two_dim_predicate",
    "test_operator_invariants.py::test_emb_extension_band_planes_parity",
    "test_parity.py::test_query_matches_oracle[embeddings_kcenter_sample]",
    # kept in the default run on purpose (operators touched this round):
    # test_parity.py::test_query_matches_oracle[dedup_ppjoin]
    # test_parity.py::test_query_matches_oracle[dedup_multibatch_txn]
})


def pytest_collection_modifyitems(config, items):
    for item in items:
        key = f"{item.fspath.basename}::{item.name}"
        if key in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    from dbt_tpch_spark.session import get_spark

    s = get_spark("dbt-tpch-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR_SMALL


@pytest.fixture(autouse=True)
def _release_barriers(request):
    """Free the barrier blocks a Spark test left behind, so block storage
    stays bounded over a long session. Only tests that requested ``spark``
    touch a JVM; pure-Python tests start none."""
    spark = (
        request.getfixturevalue("spark")
        if "spark" in request.fixturenames
        else None
    )
    yield
    if spark is not None:
        from dbt_tpch_spark.functions import release_barriers

        release_barriers(spark)
