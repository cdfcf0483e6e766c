"""Registry/materializer behavior (the engine's dbt-DAG equivalent)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_tpch_spark.plans import MODELS, Context, import_all_models

import_all_models()


def test_registry_covers_all_layers():
    layers = {spec.layer for spec in MODELS.values()}
    assert {"base", "ods", "wh", "intermediate", "metrics", "reports",
            "operators", "streaming"} <= layers
    # base models are ephemeral like the reference (dbt_project.yml:29-30)
    assert all(
        spec.materialization == "ephemeral"
        for spec in MODELS.values()
        if spec.layer == "base"
    )


def test_ref_memoizes(spark, sf_dir):
    ctx = Context(spark, sf_dir)
    assert ctx.ref("fct_orders") is ctx.ref("fct_orders")


def test_config_var_drives_q1_cutoff(spark, sf_dir):
    """The reference's var('max_ship_date') (dbt_project.yml:42-43) is an
    engine config: moving it changes the Q1 filter window."""
    base = Context(spark, sf_dir).ref("rpt_pricing_summary")
    moved = Context(
        spark, sf_dir, variables={"max_ship_date": "1997-06-01"}
    ).ref("rpt_pricing_summary")
    n_base = base.agg(F.sum("order_item_count")).collect()[0][0]
    n_moved = moved.agg(F.sum("order_item_count")).collect()[0][0]
    assert n_moved < n_base


def test_global_agg_rewrite_is_window_free(spark, sf_dir):
    """order_revenue_share must plan with NO Window node and no
    single-partition exchange on the fact path — the whole point of the
    scalar-agg + broadcast rewrite (PLANS.md note 2)."""
    from dbt_tpch_spark.plans import Context

    df = Context(spark, sf_dir).ref("order_revenue_share")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "SinglePartition" not in plan.replace(
        "Exchange SinglePartition", "", 1
    ), plan  # the one legal single-partition exchange is the 1-row scalar agg


def test_tpch_classic_plan_shapes(spark, sf_dir):
    """Q6's filters must reach the parquet scan (PushedFilters) and Q5's
    nation/region joins must broadcast — the scan-pushdown and
    dim-broadcast invariants of the classic suite."""
    ctx = Context(spark, sf_dir)
    q6 = ctx.ref("tpch_q06_forecast_revenue")
    q6_plan = q6._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in q6_plan
    assert "IsNotNull(l_shipdate)" in q6_plan or "GreaterThanOrEqual(l_shipdate" in q6_plan, q6_plan
    q5 = ctx.ref("tpch_q05_local_supplier_volume")
    q5_plan = q5._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in q5_plan
    assert "Cartesian" not in q5_plan


def test_fct_orders_is_order_grain(spark, sf_dir):
    """order_key is unique in fct_orders (ods_orders PK 1:1-joined to its
    per-order rollup) — the invariant that lets downstream per-group
    order counts use count(*) instead of COUNT(DISTINCT order_key)
    (customer_rfm_segments.frequency, monthly_revenue_kpis.order_count,
    customer_concentration_risk.order_count)."""
    from dbt_tpch_spark.plans import Context

    df = Context(spark, sf_dir).ref("fct_orders")
    total = df.count()
    assert total > 0
    assert df.select("order_key").distinct().count() == total
