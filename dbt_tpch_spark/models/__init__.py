"""Model modules. ``load_all()`` imports every layer so the registries
(:data:`dbt_tpch_spark.plans.MODELS`, :data:`.oracle.ORACLE`) are populated.
"""

from __future__ import annotations

import importlib

_LAYER_MODULES = (
    "dbt_tpch_spark.models.base",
    "dbt_tpch_spark.models.ods",
    "dbt_tpch_spark.models.wh",
    "dbt_tpch_spark.models.intermediate",
    "dbt_tpch_spark.models.metrics",
    "dbt_tpch_spark.models.reports",
    "dbt_tpch_spark.models.extended",
    "dbt_tpch_spark.models.quality",
    "dbt_tpch_spark.models.tpch_classic",
    "dbt_tpch_spark.models.reliability",
    "dbt_tpch_spark.models.catalog",
    # extension surfaces (operators/ and streaming/ register models too)
    "dbt_tpch_spark.operators.text",
    "dbt_tpch_spark.operators.dedup",
    "dbt_tpch_spark.operators.similarity",
    "dbt_tpch_spark.operators.multimodal",
    "dbt_tpch_spark.operators.pipeline",
    "dbt_tpch_spark.operators.temporal",
    "dbt_tpch_spark.operators.sampling",
    "dbt_tpch_spark.operators.kmeans",
    "dbt_tpch_spark.operators.retrieval",
    "dbt_tpch_spark.operators.timeseries",
    "dbt_tpch_spark.operators.graph",
    "dbt_tpch_spark.operators.rankstats",
    "dbt_tpch_spark.operators.modeleval",
    "dbt_tpch_spark.operators.pq",
    "dbt_tpch_spark.operators.pca",
    "dbt_tpch_spark.operators.sketches",
    "dbt_tpch_spark.operators.skew",
    "dbt_tpch_spark.operators.winnow",
    "dbt_tpch_spark.operators.simjoin",
    "dbt_tpch_spark.operators.stats",
    "dbt_tpch_spark.operators.lshplan",
    "dbt_tpch_spark.streaming.windows",
)


def load_all() -> None:
    for mod in _LAYER_MODULES:
        importlib.import_module(mod)
