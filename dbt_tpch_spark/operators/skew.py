"""Join-key skew diagnostics for hot keys at scale.

AQE's skew-join splitting (enabled in session.py) handles skewed joins at
runtime (tests/test_skew.py proves it engages on a pathological key);
``lineitem_skew_report`` measures how skewed each lineitem join key is.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_tpch_spark.functions import rnd
from dbt_tpch_spark.models.oracle import oracle, rnd_sql
from dbt_tpch_spark.plans import model

SKEW_KEYS = ("l_orderkey", "l_partkey", "l_suppkey")


@model("lineitem_skew_report", layer="operators", materialization="view")
def lineitem_skew_report(ctx):
    """Join-key skew diagnostics for every lineitem join key: distinct
    count, heaviest-key weight, mean weight, and the max/mean skew factor
    — the number that decides whether a join needs salting or can rely
    on AQE's skew splitting. One aggregation per key, unioned; each is map-side
    combined before its shuffle."""
    li = ctx.source("lineitem")
    out = None
    for key in SKEW_KEYS:
        per_key = li.groupBy(F.col(key).alias("k")).agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
        stats = per_key.agg(
            F.lit(key).alias("join_key"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.max("n").alias("max_rows"),
            rnd(
                F.sum(F.col("n").cast("decimal(27,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_rows"),
        )
        out = stats if out is None else out.unionByName(stats)
    return out.withColumn(
        "skew_factor", rnd(F.col("max_rows") / F.col("mean_rows"), 6)
    )


def _skew_oracle() -> str:
    parts = []
    for key in SKEW_KEYS:
        parts.append(
            f"""SELECT '{key}' AS join_key,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       MAX(n) AS max_rows,
       {rnd_sql('CAST(SUM(CAST(n AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*)', 6)} AS mean_rows
FROM (SELECT {key} AS k, CAST(COUNT(*) AS BIGINT) AS n FROM lineitem GROUP BY 1)"""
        )
    union = "\nUNION ALL\n".join(parts)
    return f"""WITH stats AS (
{union}
)
SELECT *, {rnd_sql('max_rows / mean_rows', 6)} AS skew_factor FROM stats"""


oracle("lineitem_skew_report", (), _skew_oracle())
