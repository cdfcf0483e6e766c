"""Table-level lineage API (dbt_tpch_spark/lineage.py) — driver-side
metadata only, no SparkSession needed."""

from __future__ import annotations

import pytest

from dbt_tpch_spark import lineage


def test_upstream_of_fct_orders():
    up = lineage.upstream("fct_orders")
    assert "orders" in up["sources"] and "lineitem" in up["sources"]
    assert "orders_items" in up["models"]


def test_downstream_impact_of_a_source():
    down = lineage.downstream("lineitem")
    # everything fact-derived reads lineitem transitively
    for m in ("fct_orders", "fct_orders_items", "rpt_pricing_summary",
              "customer_rfm_segments", "parts_pagerank"):
        assert m in down


def test_downstream_impact_of_a_model():
    down = lineage.downstream("fct_orders")
    assert "customer_rfm_segments" in down
    assert "fct_orders" not in down  # strict descendants only


def test_unknown_model_raises():
    with pytest.raises(KeyError):
        lineage.upstream("not_a_model")


def test_dot_neighborhood_contains_edges():
    dot = lineage.to_dot("fct_orders")
    assert '"orders_items" -> "fct_orders"' in dot
    assert "digraph lineage" in dot
