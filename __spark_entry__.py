"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (TPC-H Q1, reference:
models/wh/rpt_pricing_summary.sql) at sf0.001. ``queries()`` exposes every
implemented model/operator; ``oracle_sql()`` the DuckDB-equivalent SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from dbt_tpch_spark.plans import MODELS, Context, import_all_models
from dbt_tpch_spark.models import oracle as _oracle

import_all_models()

#: model layers exposed as driver queries (base is ephemeral feedstock).
_QUERY_LAYERS = {
    "ods",
    "wh",
    "intermediate",
    "metrics",
    "reports",
    "extended",
    "operators",
    "streaming",
}

#: queries with no SQL-expressible oracle (driver records rows-only checks).
NO_ORACLE: tuple[str, ...] = ()


def _eligible() -> list[str]:
    return [n for n, spec in MODELS.items() if spec.layer in _QUERY_LAYERS]


#: The driver's correctness record caps at the first 50 ``queries()``
#: entries, so these 50 lead the registry order: one or more per operator
#: family (tests/test_driver_window.py pins the stratification). The set is
#: frozen: rotating it across rounds is no longer an aim (ROADMAP north
#: star), and the driver re-witnesses this fixed set each round. New
#: queries join after it in registry order.
_DRIVER_WINDOW: tuple[str, ...] = (
    "ods_orders",
    "fct_orders",
    "rpt_pricing_summary",
    "int_market_basket",
    "customer_churn_risk",
    "dedup_minhash_lsh",
    "events_sampled_quantiles",
    "lineitem_corr_matrix",
    "events_mutual_information",
    "events_bottomk_merge_check",
    "events_tumbling_10m",
    "events_sliding_10m_5m",
    "events_json_props",
    "events_props_schema",
    "events_value_histogram",
    "orders_rollup_revenue",
    "lm_heldout_perplexity",
    "bpe_train_merges",
    "dedup_embedding_cosine",
    "dedup_embedding_lsh_recall",
    "embeddings_xlabel_margin",
    "embeddings_dup_threshold_curve",
    "source_loo_impact",
    "docs_quality_survivors",
    "txn_snapshot_diff",
    "user_survival_km",
    "events_mad_anomaly",
    "parts_degree_assortativity",
    "events_ks_test",
    "events_mannwhitney",
    "events_benford",
    "customer_gini",
    "order_trimmed_mean",
    "doc_quality_auc",
    "doc_quality_calibration",
    "vocab_zipf_fit",
    "events_user_spearman",
    "doc_quality_pr_auc",
    "vocab_heaps_fit",
    "doc_quality_mcnemar",
    "doc_langid_kappa",
    "events_hll_sliding_users",
    "dedup_lsh_recall_report",
    "events_ab_welch",
    "events_ab_cuped",
    "events_ab_srm_check",
    "order_mean_jackknife_ci",
    "tpch_q06_forecast_revenue",
    "parts_pagerank",
    "kmeans_silhouette_sample",
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    ctx = Context(spark, "/root/testdata/sf0.001")
    return ctx.ref("rpt_pricing_summary")


def _model_query(name: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return Context(spark, sf_dir).ref(name)

    run.__name__ = f"query_{name}"
    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    eligible = _eligible()
    window = list(_DRIVER_WINDOW)
    ordered = window + [n for n in eligible if n not in set(window)]
    return {name: _model_query(name) for name in ordered}


def oracle_sql() -> dict[str, str]:
    rendered = _oracle.all_rendered()
    return {name: rendered[name] for name in queries() if name in rendered}
