"""The ad-hoc SQL surface (Context.sql): reference users speak SQL to their
warehouse, so the engine exposes the model catalog to Spark SQL directly.
Views are registered lazily from the query text and stay unexecuted plans —
Catalyst must still prune columns and push filters THROUGH a model boundary
referenced by name, exactly as with ref() composition."""

from __future__ import annotations

from dbt_tpch_spark.plans import Context, import_all_models

import_all_models()


def test_sql_over_raw_source(spark, sf_dir):
    ctx = Context(spark, sf_dir)
    got = {
        r["o_orderstatus"]: r["c"]
        for r in ctx.sql(
            "SELECT o_orderstatus, COUNT(*) AS c FROM orders GROUP BY 1"
        ).collect()
    }
    want = {
        r["o_orderstatus"]: r["c"]
        for r in ctx.source("orders")
        .groupBy("o_orderstatus")
        .count()
        .withColumnRenamed("count", "c")
        .collect()
    }
    assert got == want and got


def test_sql_over_model_matches_ref(spark, sf_dir):
    ctx = Context(spark, sf_dir)
    n_sql = ctx.sql("SELECT COUNT(*) AS n FROM fct_orders").collect()[0]["n"]
    assert n_sql == ctx.ref("fct_orders").count()


def test_sql_join_model_with_source(spark, sf_dir):
    ctx = Context(spark, sf_dir)
    df = ctx.sql(
        """
        SELECT c.c_mktsegment, COUNT(*) AS n_orders
        FROM fct_orders f
        JOIN customer c ON f.customer_key = c.c_custkey
        GROUP BY 1
        """
    )
    rows = df.collect()
    assert rows and sum(r["n_orders"] for r in rows) == ctx.ref("fct_orders").count()


def test_sql_prunes_columns_through_model_boundary(spark, sf_dir):
    """Selecting one column from a wide model must narrow the parquet scan:
    the temp view is a named lazy plan, not a materialization fence."""
    # Spark's CacheManager matches plan fragments session-wide: any plan
    # another test cached would be substituted here as an InMemoryRelation
    # (all columns) and mask the pruning under test. Clearing the cache
    # isolates the lazy-plan property.
    spark.catalog.clearCache()
    ctx = Context(spark, sf_dir)
    plan = (
        ctx.sql("SELECT order_key FROM fct_orders_items")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scans
    for ln in scans:
        cols = ln.split("FileScan parquet [")[1].split("]")[0]
        # lineitem contributes only its key columns, never the full row
        assert "l_extendedprice" not in cols and "l_comment" not in cols


def test_audit_api_reports_plan_facts(spark, sf_dir):
    rep = Context(spark, sf_dir).audit("rpt_pricing_summary")
    from dbt_tpch_spark.plans.audit import format_audit

    assert rep["n_shuffles"] <= 1
    assert rep["scans"], rep
    cols = {c for s in rep["scans"] for c in s["columns"]}
    assert "l_shipdate" in cols and "l_comment" not in cols
    assert any(s["pushed_filters"] for s in rep["scans"])
    assert rep["unpartitioned_window_offenders"] == []
    assert "shuffle" in format_audit(rep)


def test_sql_literal_mention_does_not_build_model(spark, sf_dir):
    """A model name inside a string literal/comment must NOT trigger a
    build (checkpoint-eager models would run real Spark jobs just from
    being mentioned) — resolution is analyzer-driven, not a token scan."""
    ctx = Context(spark, sf_dir)
    df = ctx.sql(
        "SELECT 'docs_winnow_dups' AS s  -- fct_orders in a comment"
    )
    assert df.collect()[0]["s"] == "docs_winnow_dups"
    assert "docs_winnow_dups" not in ctx._built
    assert "fct_orders" not in ctx._built


def test_sql_does_not_clobber_user_temp_view(spark, sf_dir):
    """A user temp view sharing a model name resolves first — Context.sql
    must not silently replace it session-wide."""
    ctx = Context(spark, sf_dir)
    spark.range(3).toDF("z").createOrReplaceTempView("fct_orders")
    try:
        assert ctx.sql("SELECT COUNT(*) AS n FROM fct_orders").collect()[0]["n"] == 3
    finally:
        spark.catalog.dropTempView("fct_orders")


def test_sql_unknown_relation_still_raises(spark, sf_dir):
    import pytest
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        Context(spark, sf_dir).sql("SELECT * FROM definitely_not_a_table")


def test_sql_second_context_rebinds_engine_views(spark):
    """An engine view registered by one Context (one sf_dir) must not pin a
    later Context's resolution — the second context rebinds to ITS data."""
    n1 = (
        Context(spark, "/root/testdata/sf0.001")
        .sql("SELECT COUNT(*) AS n FROM orders")
        .collect()[0]["n"]
    )
    n2 = (
        Context(spark, "/root/testdata/sf0.01")
        .sql("SELECT COUNT(*) AS n FROM orders")
        .collect()[0]["n"]
    )
    assert n2 > n1 > 0
