"""Reports layer, part 2 (see reports.py for the determinism addenda notes).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from dbt_tpch_spark.functions import (
    barrier,
    bucketed_windows,
    davg,
    days_between,
    dsum,
    dsum_over,
    global_ntile,
    global_ntiles,
    month_of,
    rnd,
)
from dbt_tpch_spark.plans import model
from dbt_tpch_spark.models.oracle import (
    davg_sql,
    days_between_sql,
    dsum_sql,
    month_sql,
    oracle,
    rnd_sql,
    wsum_sql,
)

_ROWS_ALL = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"


@model("customer_churn_risk", layer="reports", materialization="table")
def customer_churn_risk(ctx):
    """Churn flags from order recency vs cadence. Reference:
    models/reports/customer_churn_risk.sql:1-51.

    Scale note: the global reference date is a scalar aggregate attached via
    crossJoin (J7) — Spark plans it as a 1-row broadcast, not a shuffle.
    """
    o = ctx.ref("fct_orders")
    c = ctx.ref("dim_customer")
    w = Window.partitionBy("customer_key").orderBy("order_date", "order_key")
    gaps = o.select(
        "customer_key",
        "order_date",
        days_between(F.col("order_date"), F.lag("order_date").over(w)).alias(
            "days_between_orders"
        ),
    )
    cadence = gaps.groupBy("customer_key").agg(
        F.count(F.lit(1)).alias("total_orders"),
        F.avg("days_between_orders").alias("avg_days_between_orders"),
        F.max("order_date").alias("last_order_date"),
    )
    reference = o.agg(F.max("order_date").alias("reference_date"))
    days_since = days_between(F.col("reference_date"), F.col("last_order_date"))
    return (
        cadence.crossJoin(F.broadcast(reference))
        .join(
            F.broadcast(
                c.select(
                    "customer_key",
                    "customer_name",
                    "customer_nation_name",
                    "customer_market_segment_name",
                )
            ),
            "customer_key",
        )
        .select(
            "customer_key",
            "customer_name",
            "customer_nation_name",
            "customer_market_segment_name",
            "total_orders",
            "last_order_date",
            days_since.alias("days_since_last_order"),
            rnd(F.col("avg_days_between_orders"), 1).alias("avg_days_between_orders"),
            F.when(F.col("total_orders") <= 1, F.lit(None).cast("double"))
            .otherwise(
                rnd(
                    days_since.cast("double")
                    / F.nullif(F.col("avg_days_between_orders"), F.lit(0.0)),
                    2,
                )
            )
            .alias("recency_ratio"),
            F.when(F.col("total_orders") <= 1, "insufficient_data")
            .when(days_since <= F.col("avg_days_between_orders"), "active")
            .when(days_since <= F.col("avg_days_between_orders") * 2, "at_risk")
            .otherwise("churned")
            .alias("churn_status"),
        )
    )


oracle(
    "customer_churn_risk",
    ("fct_orders", "dim_customer"),
    f"""WITH order_gaps AS (
    SELECT
        customer_key,
        order_date,
        {days_between_sql('order_date', 'LAG(order_date) OVER (PARTITION BY customer_key ORDER BY order_date, order_key)')} AS days_between_orders
    FROM fct_orders
),
customer_cadence AS (
    SELECT
        customer_key,
        COUNT(*) AS total_orders,
        AVG(days_between_orders) AS avg_days_between_orders,
        MAX(order_date) AS last_order_date
    FROM order_gaps
    GROUP BY 1
),
reference AS (
    SELECT MAX(order_date) AS reference_date FROM fct_orders
)
SELECT
    cc.customer_key,
    c.customer_name,
    c.customer_nation_name,
    c.customer_market_segment_name,
    cc.total_orders,
    cc.last_order_date,
    {days_between_sql('r.reference_date', 'cc.last_order_date')} AS days_since_last_order,
    {rnd_sql('cc.avg_days_between_orders', 1)} AS avg_days_between_orders,
    CASE
        WHEN cc.total_orders <= 1 THEN NULL
        ELSE {rnd_sql(f"CAST({days_between_sql('r.reference_date', 'cc.last_order_date')} AS DOUBLE) / NULLIF(cc.avg_days_between_orders, 0.0)", 2)}
    END AS recency_ratio,
    CASE
        WHEN cc.total_orders <= 1 THEN 'insufficient_data'
        WHEN {days_between_sql('r.reference_date', 'cc.last_order_date')} <= cc.avg_days_between_orders THEN 'active'
        WHEN {days_between_sql('r.reference_date', 'cc.last_order_date')} <= cc.avg_days_between_orders * 2 THEN 'at_risk'
        ELSE 'churned'
    END AS churn_status
FROM customer_cadence cc
CROSS JOIN reference r
JOIN dim_customer c ON cc.customer_key = c.customer_key""",
)


@model("supplier_revenue_ranking", layer="reports", materialization="table")
def supplier_revenue_ranking(ctx):
    """Supplier rank by revenue, global and in-nation. Reference:
    models/reports/supplier_revenue_ranking.sql:1-40."""
    i = ctx.ref("fct_orders_items")
    s = ctx.ref("dim_supplier")
    rev = (
        i.join(
            F.broadcast(
                s.select(
                    "supplier_key",
                    "supplier_name",
                    "supplier_nation_name",
                    "supplier_region_name",
                )
            ),
            "supplier_key",
        )
        .groupBy(
            "supplier_key",
            "supplier_name",
            "supplier_nation_name",
            "supplier_region_name",
        )
        .agg(
            dsum(F.col("gross_item_sales_amount")).alias("total_revenue"),
            F.countDistinct("order_key").alias("order_count"),
            F.countDistinct("part_key").alias("parts_sold"),
        )
    )
    nation_totals = rev.groupBy("supplier_nation_name").agg(
        dsum(F.col("total_revenue")).alias("nation_total_revenue")
    )
    # Scale: supplier-grain frame (SF-linear) — bucketed exact ranks, not
    # unpartitioned/25-way windows. rank() == row_number() here because the
    # ordering ends in the unique supplier_key (no peer rows). The nation
    # rank buckets WITHIN each nation (offset frame = nations×32 rows), so
    # per-nation cardinality growth never funnels through one task either.
    ranked = bucketed_windows(
        rev,
        "total_revenue",
        ["supplier_key"],
        ascending=False,
        rank_out="global_rank",
        grand_sum=("total_revenue", "global_total"),
    )
    ranked = bucketed_windows(
        ranked,
        "total_revenue",
        ["supplier_key"],
        ascending=False,
        partition_cols=["supplier_nation_name"],
        rank_out="nation_rank",
    )
    return (
        ranked.join(F.broadcast(nation_totals), "supplier_nation_name")
        .select(
            "supplier_key",
            "supplier_name",
            "supplier_nation_name",
            "supplier_region_name",
            "total_revenue",
            "order_count",
            "parts_sold",
            "global_rank",
            "nation_rank",
            "nation_total_revenue",
            rnd(F.col("total_revenue") / F.col("nation_total_revenue") * 100, 2).alias(
                "nation_market_share_pct"
            ),
            rnd(F.col("total_revenue") / F.col("global_total") * 100, 4).alias(
                "global_market_share_pct"
            ),
        )
    )


oracle(
    "supplier_revenue_ranking",
    ("fct_orders_items", "dim_supplier"),
    f"""WITH supplier_revenue AS (
    SELECT
        i.supplier_key,
        s.supplier_name,
        s.supplier_nation_name,
        s.supplier_region_name,
        {dsum_sql('i.gross_item_sales_amount')} AS total_revenue,
        COUNT(DISTINCT i.order_key) AS order_count,
        COUNT(DISTINCT i.part_key) AS parts_sold
    FROM fct_orders_items i
    JOIN dim_supplier s ON i.supplier_key = s.supplier_key
    GROUP BY 1, 2, 3, 4
),
nation_totals AS (
    SELECT supplier_nation_name, {dsum_sql('total_revenue')} AS nation_total_revenue
    FROM supplier_revenue
    GROUP BY 1
)
SELECT
    sr.supplier_key,
    sr.supplier_name,
    sr.supplier_nation_name,
    sr.supplier_region_name,
    sr.total_revenue,
    sr.order_count,
    sr.parts_sold,
    CAST(RANK() OVER (ORDER BY sr.total_revenue DESC, sr.supplier_key) AS BIGINT) AS global_rank,
    CAST(RANK() OVER (PARTITION BY sr.supplier_nation_name ORDER BY sr.total_revenue DESC, sr.supplier_key) AS BIGINT) AS nation_rank,
    nt.nation_total_revenue,
    {rnd_sql('sr.total_revenue / nt.nation_total_revenue * 100', 2)} AS nation_market_share_pct,
    {rnd_sql(f"sr.total_revenue / {wsum_sql('sr.total_revenue', '')} * 100", 4)} AS global_market_share_pct
FROM supplier_revenue sr
JOIN nation_totals nt ON sr.supplier_nation_name = nt.supplier_nation_name""",
)


@model("customer_purchase_frequency_bands", layer="reports", materialization="table")
def customer_purchase_frequency_bands(ctx):
    """Purchase-frequency segmentation. Reference:
    models/reports/customer_purchase_frequency_bands.sql:1-36."""
    o = ctx.ref("fct_orders")
    per_cust = o.groupBy("customer_key").agg(
        F.countDistinct("order_key").alias("order_count"),
        dsum(F.col("gross_item_sales_amount")).alias("total_revenue"),
    )
    banded = per_cust.withColumn(
        "frequency_band",
        F.when(F.col("order_count") == 1, "one_time")
        .when(F.col("order_count").between(2, 5), "occasional")
        .when(F.col("order_count").between(6, 15), "regular")
        .when(F.col("order_count") > 15, "power_buyer"),
    )
    agg = banded.groupBy("frequency_band").agg(
        F.count(F.lit(1)).alias("customer_count"),
        dsum(F.col("total_revenue")).alias("band_total_revenue"),
        rnd(davg(F.col("total_revenue")), 2).alias("avg_revenue_per_customer"),
        F.avg("order_count").alias("avg_orders_per_customer"),
        F.min("order_count").alias("min_orders"),
        F.max("order_count").alias("max_orders"),
    )
    w_all = Window.partitionBy()
    return agg.withColumns(
        {
            "pct_of_customers": rnd(
                F.col("customer_count").cast("double")
                / F.sum("customer_count").over(w_all)
                * 100,
                2,
            ),
            "pct_of_revenue": rnd(
                F.col("band_total_revenue")
                / dsum_over(F.col("band_total_revenue"), w_all)
                * 100,
                2,
            ),
        }
    ).select(
        "frequency_band",
        "customer_count",
        "pct_of_customers",
        "band_total_revenue",
        "pct_of_revenue",
        "avg_revenue_per_customer",
        "avg_orders_per_customer",
        "min_orders",
        "max_orders",
    )


oracle(
    "customer_purchase_frequency_bands",
    ("fct_orders",),
    f"""WITH customer_orders AS (
    SELECT
        o.customer_key,
        COUNT(DISTINCT o.order_key) AS order_count,
        {dsum_sql('o.gross_item_sales_amount')} AS total_revenue
    FROM fct_orders o
    GROUP BY 1
),
banded AS (
    SELECT
        *,
        CASE
            WHEN order_count = 1 THEN 'one_time'
            WHEN order_count BETWEEN 2 AND 5 THEN 'occasional'
            WHEN order_count BETWEEN 6 AND 15 THEN 'regular'
            WHEN order_count > 15 THEN 'power_buyer'
        END AS frequency_band
    FROM customer_orders
)
SELECT
    frequency_band,
    COUNT(*) AS customer_count,
    {rnd_sql('CAST(COUNT(*) AS DOUBLE) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE) * 100', 2)} AS pct_of_customers,
    {dsum_sql('total_revenue')} AS band_total_revenue,
    {rnd_sql(f"{dsum_sql('total_revenue')} / {wsum_sql(dsum_sql('total_revenue'), '')} * 100", 2)} AS pct_of_revenue,
    {rnd_sql(davg_sql('total_revenue'), 2)} AS avg_revenue_per_customer,
    AVG(order_count) AS avg_orders_per_customer,
    MIN(order_count) AS min_orders,
    MAX(order_count) AS max_orders
FROM banded
GROUP BY 1""",
)


@model("monthly_order_trends", layer="reports", materialization="table")
def monthly_order_trends(ctx):
    """Monthly trends with new/returning split. Reference:
    models/reports/monthly_order_trends.sql:1-39."""
    o = ctx.ref("fct_orders")
    first = o.groupBy("customer_key").agg(F.min("order_date").alias("first_order_date"))
    enriched = o.join(first, "customer_key").withColumn(
        "customer_type",
        F.when(
            month_of(F.col("order_date")) == month_of(F.col("first_order_date")), "new"
        ).otherwise("returning"),
    )
    monthly = enriched.groupBy(
        month_of(F.col("order_date")).alias("order_month")
    ).agg(
        F.countDistinct("order_key").alias("total_orders"),
        F.countDistinct("customer_key").alias("unique_customers"),
        F.countDistinct(
            F.when(F.col("customer_type") == "new", F.col("customer_key"))
        ).alias("new_customers"),
        F.countDistinct(
            F.when(F.col("customer_type") == "returning", F.col("customer_key"))
        ).alias("returning_customers"),
        dsum(F.col("gross_item_sales_amount")).alias("total_revenue"),
        dsum(
            F.when(
                F.col("customer_type") == "new", F.col("gross_item_sales_amount")
            ).otherwise(F.lit(0.0))
        ).alias("new_customer_revenue"),
        dsum(
            F.when(
                F.col("customer_type") == "returning", F.col("gross_item_sales_amount")
            ).otherwise(F.lit(0.0))
        ).alias("returning_customer_revenue"),
        rnd(davg(F.col("gross_item_sales_amount")), 2).alias("avg_order_value"),
    )
    w = Window.partitionBy().orderBy("order_month")
    return monthly.withColumn(
        "prev_month_revenue", F.lag("total_revenue").over(w)
    ).withColumn(
        "revenue_mom_growth_pct",
        rnd(
            (F.col("total_revenue") - F.col("prev_month_revenue"))
            / F.nullif(F.col("prev_month_revenue"), F.lit(0.0))
            * 100,
            2,
        ),
    )


oracle(
    "monthly_order_trends",
    ("fct_orders",),
    f"""WITH customer_first AS (
    SELECT customer_key, MIN(order_date) AS first_order_date
    FROM fct_orders
    GROUP BY 1
),
orders_t AS (
    SELECT
        o.*,
        CASE
            WHEN {month_sql('o.order_date')} = {month_sql('cf.first_order_date')} THEN 'new'
            ELSE 'returning'
        END AS customer_type
    FROM fct_orders o
    JOIN customer_first cf ON o.customer_key = cf.customer_key
),
monthly AS (
    SELECT
        {month_sql('order_date')} AS order_month,
        COUNT(DISTINCT order_key) AS total_orders,
        COUNT(DISTINCT customer_key) AS unique_customers,
        COUNT(DISTINCT CASE WHEN customer_type = 'new' THEN customer_key END) AS new_customers,
        COUNT(DISTINCT CASE WHEN customer_type = 'returning' THEN customer_key END) AS returning_customers,
        {dsum_sql('gross_item_sales_amount')} AS total_revenue,
        {dsum_sql("CASE WHEN customer_type = 'new' THEN gross_item_sales_amount ELSE 0.0 END")} AS new_customer_revenue,
        {dsum_sql("CASE WHEN customer_type = 'returning' THEN gross_item_sales_amount ELSE 0.0 END")} AS returning_customer_revenue,
        {rnd_sql(davg_sql('gross_item_sales_amount'), 2)} AS avg_order_value
    FROM orders_t
    GROUP BY 1
)
SELECT
    *,
    LAG(total_revenue) OVER (ORDER BY order_month) AS prev_month_revenue,
    {rnd_sql('(total_revenue - LAG(total_revenue) OVER (ORDER BY order_month)) / NULLIF(LAG(total_revenue) OVER (ORDER BY order_month), 0.0) * 100', 2)} AS revenue_mom_growth_pct
FROM monthly""",
)


@model("order_status_funnel", layer="reports", materialization="table")
def order_status_funnel(ctx):
    """Order distribution by status. Reference:
    models/reports/order_status_funnel.sql:1-18."""
    o = ctx.ref("fct_orders")
    agg = o.groupBy("order_status_code").agg(
        F.countDistinct("order_key").alias("order_count"),
        dsum(F.col("gross_item_sales_amount")).alias("total_revenue"),
        rnd(davg(F.col("gross_item_sales_amount")), 2).alias("avg_order_value"),
        F.countDistinct("customer_key").alias("unique_customers"),
    )
    w_all = Window.partitionBy()
    return agg.withColumns(
        {
            "pct_of_orders": rnd(
                F.col("order_count").cast("double")
                / F.sum("order_count").over(w_all)
                * 100,
                2,
            ),
            "pct_of_revenue": rnd(
                F.col("total_revenue")
                / dsum_over(F.col("total_revenue"), w_all)
                * 100,
                2,
            ),
        }
    ).select(
        "order_status_code",
        "order_count",
        "pct_of_orders",
        "total_revenue",
        "pct_of_revenue",
        "avg_order_value",
        "unique_customers",
    )


oracle(
    "order_status_funnel",
    ("fct_orders",),
    f"""SELECT
    order_status_code,
    COUNT(DISTINCT order_key) AS order_count,
    {rnd_sql('CAST(COUNT(DISTINCT order_key) AS DOUBLE) / CAST(SUM(COUNT(DISTINCT order_key)) OVER () AS DOUBLE) * 100', 2)} AS pct_of_orders,
    {dsum_sql('gross_item_sales_amount')} AS total_revenue,
    {rnd_sql(f"{dsum_sql('gross_item_sales_amount')} / {wsum_sql(dsum_sql('gross_item_sales_amount'), '')} * 100", 2)} AS pct_of_revenue,
    {rnd_sql(davg_sql('gross_item_sales_amount'), 2)} AS avg_order_value,
    COUNT(DISTINCT customer_key) AS unique_customers
FROM fct_orders
GROUP BY 1""",
)


@model("monthly_revenue_kpis", layer="reports", materialization="table")
def monthly_revenue_kpis(ctx):
    """Monthly KPI dashboard: MoM growth, rolling avg, cumulative. Reference:
    models/reports/monthly_revenue_kpis.sql:1-33."""
    o = ctx.ref("fct_orders")
    monthly = o.groupBy(month_of(F.col("order_date")).alias("order_month")).agg(
        # round-11: fct_orders is order-grain (order_key unique per row),
        # so plain count == COUNT(DISTINCT order_key); with one distinct
        # set left (customer_key) the planner drops the 2-set Expand that
        # doubled every shuffled row
        F.count(F.lit(1)).alias("order_count"),
        F.countDistinct("customer_key").alias("unique_customers"),
        dsum(F.col("gross_item_sales_amount")).alias("gross_revenue"),
        dsum(F.col("net_item_sales_amount")).alias("net_revenue"),
        dsum(F.col("item_discount_amount")).alias("total_discounts"),
        rnd(davg(F.col("gross_item_sales_amount")), 2).alias("avg_order_value"),
    )
    w = Window.partitionBy().orderBy("order_month")
    w_3m = w.rowsBetween(-2, Window.currentRow)
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return monthly.select(
        "order_month",
        "order_count",
        "unique_customers",
        "gross_revenue",
        "net_revenue",
        "total_discounts",
        "avg_order_value",
        F.lag("gross_revenue").over(w).alias("prev_month_revenue"),
        rnd(
            (F.col("gross_revenue") - F.lag("gross_revenue").over(w))
            / F.nullif(F.lag("gross_revenue").over(w), F.lit(0.0))
            * 100,
            2,
        ).alias("revenue_mom_growth_pct"),
        rnd(
            dsum_over(F.col("gross_revenue"), w_3m)
            / F.count("gross_revenue").over(w_3m),
            2,
        ).alias("rolling_3m_avg_revenue"),
        dsum_over(F.col("gross_revenue"), w_cum).alias("cumulative_revenue"),
    )


_KPI_W3 = f"ORDER BY order_month ROWS BETWEEN 2 PRECEDING AND CURRENT ROW"
oracle(
    "monthly_revenue_kpis",
    ("fct_orders",),
    f"""WITH monthly AS (
    SELECT
        {month_sql('order_date')} AS order_month,
        COUNT(DISTINCT order_key) AS order_count,
        COUNT(DISTINCT customer_key) AS unique_customers,
        {dsum_sql('gross_item_sales_amount')} AS gross_revenue,
        {dsum_sql('net_item_sales_amount')} AS net_revenue,
        {dsum_sql('item_discount_amount')} AS total_discounts,
        {rnd_sql(davg_sql('gross_item_sales_amount'), 2)} AS avg_order_value
    FROM fct_orders
    GROUP BY 1
)
SELECT
    order_month,
    order_count,
    unique_customers,
    gross_revenue,
    net_revenue,
    total_discounts,
    avg_order_value,
    LAG(gross_revenue) OVER (ORDER BY order_month) AS prev_month_revenue,
    {rnd_sql('(gross_revenue - LAG(gross_revenue) OVER (ORDER BY order_month)) / NULLIF(LAG(gross_revenue) OVER (ORDER BY order_month), 0.0) * 100', 2)} AS revenue_mom_growth_pct,
    {rnd_sql(f"{wsum_sql('gross_revenue', _KPI_W3)} / COUNT(gross_revenue) OVER ({_KPI_W3})", 2)} AS rolling_3m_avg_revenue,
    {wsum_sql('gross_revenue', f'ORDER BY order_month {_ROWS_ALL}')} AS cumulative_revenue
FROM monthly""",
)


@model("discount_depth_analysis", layer="reports", materialization="table")
def discount_depth_analysis(ctx):
    """Behavior across discount bands. Reference:
    models/reports/discount_depth_analysis.sql:1-29."""
    i = ctx.ref("fct_orders_items").withColumn(
        "discount_band",
        F.when(F.col("discount_percentage") == 0, "0_no_discount")
        .when(F.col("discount_percentage") <= 0.03, "1_low_1_3pct")
        .when(F.col("discount_percentage") <= 0.06, "2_medium_4_6pct")
        .when(F.col("discount_percentage") <= 0.08, "3_high_7_8pct")
        .otherwise("4_deep_9pct_plus"),
    )
    agg = i.groupBy("discount_band").agg(
        F.count(F.lit(1)).alias("line_item_count"),
        dsum(F.col("quantity")).alias("total_quantity"),
        dsum(F.col("gross_item_sales_amount")).alias("gross_revenue"),
        dsum(F.col("discounted_item_sales_amount")).alias("discounted_revenue"),
        dsum(F.abs(F.col("item_discount_amount"))).alias("total_discount_given"),
        rnd(davg(F.col("quantity")), 2).alias("avg_quantity_per_item"),
        rnd(davg(F.col("gross_item_sales_amount")), 2).alias("avg_item_revenue"),
        F.countDistinct("order_key").alias("distinct_orders"),
        F.countDistinct("customer_key").alias("distinct_customers"),
    )
    w_all = Window.partitionBy()
    return agg.withColumn(
        "pct_of_items",
        rnd(
            F.col("line_item_count").cast("double")
            / F.sum("line_item_count").over(w_all)
            * 100,
            2,
        ),
    ).select(
        "discount_band",
        "line_item_count",
        "pct_of_items",
        "total_quantity",
        "gross_revenue",
        "discounted_revenue",
        "total_discount_given",
        "avg_quantity_per_item",
        "avg_item_revenue",
        "distinct_orders",
        "distinct_customers",
    )


oracle(
    "discount_depth_analysis",
    ("fct_orders_items",),
    f"""WITH items AS (
    SELECT
        *,
        CASE
            WHEN discount_percentage = 0 THEN '0_no_discount'
            WHEN discount_percentage <= 0.03 THEN '1_low_1_3pct'
            WHEN discount_percentage <= 0.06 THEN '2_medium_4_6pct'
            WHEN discount_percentage <= 0.08 THEN '3_high_7_8pct'
            ELSE '4_deep_9pct_plus'
        END AS discount_band
    FROM fct_orders_items
)
SELECT
    discount_band,
    COUNT(*) AS line_item_count,
    {rnd_sql('CAST(COUNT(*) AS DOUBLE) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE) * 100', 2)} AS pct_of_items,
    {dsum_sql('quantity')} AS total_quantity,
    {dsum_sql('gross_item_sales_amount')} AS gross_revenue,
    {dsum_sql('discounted_item_sales_amount')} AS discounted_revenue,
    {dsum_sql('ABS(item_discount_amount)')} AS total_discount_given,
    {rnd_sql(davg_sql('quantity'), 2)} AS avg_quantity_per_item,
    {rnd_sql(davg_sql('gross_item_sales_amount'), 2)} AS avg_item_revenue,
    COUNT(DISTINCT order_key) AS distinct_orders,
    COUNT(DISTINCT customer_key) AS distinct_customers
FROM items
GROUP BY 1""",
)


@model("customer_rfm_segments", layer="reports", materialization="table")
def customer_rfm_segments(ctx):
    """RFM segmentation with ntile(5) scores. Reference:
    models/reports/customer_rfm_segments.sql:1-59. Tie-break addendum:
    every ntile ordering extended with customer_key (recency/frequency ties
    are pervasive)."""
    o = ctx.ref("fct_orders")
    c = ctx.ref("dim_customer")
    om = o.groupBy("customer_key").agg(
        F.max("order_date").alias("last_order_date"),
        # round-11: fct_orders is order-grain (ods_orders PK 1:1-joined to
        # its per-order rollup), so order_key is unique per row and a plain
        # count equals COUNT(DISTINCT order_key) — dropping the
        # distinct-aggregate machinery from the shuffle
        F.count(F.lit(1)).alias("frequency"),
        dsum(F.col("gross_item_sales_amount")).alias("monetary"),
    )
    # round-11: the reference date used to re-aggregate fct_orders — a
    # SECOND build of the whole fact chain for one scalar. max(order_date)
    # over the facts == max(per-customer max) over om (every fact row
    # belongs to exactly one customer group), so derive it from om behind
    # a lazy barrier: one chain build feeds both consumers.
    om = barrier(om, eager=False)
    ref = om.agg(F.max("last_order_date").alias("reference_date"))
    scored = (
        om.crossJoin(F.broadcast(ref))
        .withColumn(
            "recency_days",
            days_between(F.col("reference_date"), F.col("last_order_date")),
        )
    )
    # Scale: three exact global NTILEs over the customer-grain frame
    # (SF-linear) via bucketed exact ranks + NTILE remainder arithmetic —
    # no unpartitioned ntile() window moves the frame through one task.
    # Fused (round-11): one barrier + ONE quantile-sketch action for all
    # three scores instead of three cascaded materializations — the
    # scores are independent columns over the same frame, and exact ranks
    # make the fused form bit-identical to the cascade.
    scored = global_ntiles(
        scored,
        5,
        [
            ("recency_days", ["customer_key"], "r_score", False),
            ("frequency", ["customer_key"], "f_score", True),
            ("monetary", ["customer_key"], "m_score", True),
        ],
    )
    seg = (
        F.when(
            (F.col("r_score") >= 4) & (F.col("f_score") >= 4) & (F.col("m_score") >= 4),
            "champion",
        )
        .when(
            (F.col("r_score") >= 3) & (F.col("f_score") >= 3) & (F.col("m_score") >= 3),
            "loyal",
        )
        .when((F.col("r_score") >= 4) & (F.col("f_score") <= 2), "new_customer")
        .when(
            (F.col("r_score") >= 3) & (F.col("f_score") >= 3) & (F.col("m_score") <= 2),
            "potential_loyalist",
        )
        .when(
            (F.col("r_score") <= 2) & (F.col("f_score") >= 3) & (F.col("m_score") >= 3),
            "at_risk",
        )
        .when(
            (F.col("r_score") <= 2) & (F.col("f_score") >= 4) & (F.col("m_score") >= 4),
            "cant_lose_them",
        )
        .when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), "hibernating")
        .otherwise("need_attention")
    )
    return scored.join(
        F.broadcast(
            c.select(
                "customer_key",
                "customer_name",
                "customer_nation_name",
                "customer_market_segment_name",
            )
        ),
        "customer_key",
    ).select(
        "customer_key",
        "customer_name",
        "customer_nation_name",
        "customer_market_segment_name",
        "last_order_date",
        "recency_days",
        "frequency",
        "monetary",
        "r_score",
        "f_score",
        "m_score",
        (F.col("r_score") + F.col("f_score") + F.col("m_score")).alias("rfm_total"),
        seg.alias("rfm_segment"),
    )


oracle(
    "customer_rfm_segments",
    ("fct_orders", "dim_customer"),
    f"""WITH order_metrics AS (
    SELECT
        customer_key,
        MAX(order_date) AS last_order_date,
        COUNT(DISTINCT order_key) AS frequency,
        {dsum_sql('gross_item_sales_amount')} AS monetary
    FROM fct_orders
    GROUP BY 1
),
max_date AS (
    SELECT MAX(order_date) AS reference_date FROM fct_orders
),
rfm_scores AS (
    SELECT
        om.customer_key,
        om.last_order_date,
        {days_between_sql('md.reference_date', 'om.last_order_date')} AS recency_days,
        om.frequency,
        om.monetary,
        CAST(NTILE(5) OVER (ORDER BY {days_between_sql('md.reference_date', 'om.last_order_date')} DESC, om.customer_key) AS BIGINT) AS r_score,
        CAST(NTILE(5) OVER (ORDER BY om.frequency, om.customer_key) AS BIGINT) AS f_score,
        CAST(NTILE(5) OVER (ORDER BY om.monetary, om.customer_key) AS BIGINT) AS m_score
    FROM order_metrics om
    CROSS JOIN max_date md
)
SELECT
    r.customer_key,
    c.customer_name,
    c.customer_nation_name,
    c.customer_market_segment_name,
    r.last_order_date,
    r.recency_days,
    r.frequency,
    r.monetary,
    r.r_score,
    r.f_score,
    r.m_score,
    (r.r_score + r.f_score + r.m_score) AS rfm_total,
    CASE
        WHEN r.r_score >= 4 AND r.f_score >= 4 AND r.m_score >= 4 THEN 'champion'
        WHEN r.r_score >= 3 AND r.f_score >= 3 AND r.m_score >= 3 THEN 'loyal'
        WHEN r.r_score >= 4 AND r.f_score <= 2 THEN 'new_customer'
        WHEN r.r_score >= 3 AND r.f_score >= 3 AND r.m_score <= 2 THEN 'potential_loyalist'
        WHEN r.r_score <= 2 AND r.f_score >= 3 AND r.m_score >= 3 THEN 'at_risk'
        WHEN r.r_score <= 2 AND r.f_score >= 4 AND r.m_score >= 4 THEN 'cant_lose_them'
        WHEN r.r_score <= 2 AND r.f_score <= 2 THEN 'hibernating'
        ELSE 'need_attention'
    END AS rfm_segment
FROM rfm_scores r
JOIN dim_customer c ON r.customer_key = c.customer_key""",
)


@model("tax_and_discount_leakage", layer="reports", materialization="table")
def tax_and_discount_leakage(ctx):
    """Revenue waterfall by nation. Reference:
    models/reports/tax_and_discount_leakage.sql:1-26."""
    i = ctx.ref("fct_orders_items")
    c = ctx.ref("dim_customer")
    gross = dsum(F.col("gross_item_sales_amount"))
    return (
        i.join(
            F.broadcast(
                c.select("customer_key", "customer_region_name", "customer_nation_name")
            ),
            "customer_key",
        )
        .groupBy(
            F.col("customer_region_name").alias("region_name"),
            F.col("customer_nation_name").alias("nation_name"),
        )
        .agg(
            F.count(F.lit(1)).alias("line_item_count"),
            gross.alias("gross_revenue"),
            dsum(F.abs(F.col("item_discount_amount"))).alias("total_discounts"),
            dsum(F.col("item_tax_amount")).alias("total_tax"),
            dsum(F.col("net_item_sales_amount")).alias("net_revenue"),
            rnd(
                dsum(F.abs(F.col("item_discount_amount")))
                / F.nullif(gross, F.lit(0.0))
                * 100,
                2,
            ).alias("discount_rate_pct"),
            rnd(
                dsum(F.col("item_tax_amount")) / F.nullif(gross, F.lit(0.0)) * 100, 2
            ).alias("effective_tax_rate_pct"),
            rnd(
                dsum(F.col("net_item_sales_amount"))
                / F.nullif(gross, F.lit(0.0))
                * 100,
                2,
            ).alias("net_retention_pct"),
        )
    )


oracle(
    "tax_and_discount_leakage",
    ("fct_orders_items", "dim_customer"),
    f"""SELECT
    c.customer_region_name AS region_name,
    c.customer_nation_name AS nation_name,
    COUNT(*) AS line_item_count,
    {dsum_sql('i.gross_item_sales_amount')} AS gross_revenue,
    {dsum_sql('ABS(i.item_discount_amount)')} AS total_discounts,
    {dsum_sql('i.item_tax_amount')} AS total_tax,
    {dsum_sql('i.net_item_sales_amount')} AS net_revenue,
    {rnd_sql(f"{dsum_sql('ABS(i.item_discount_amount)')} / NULLIF({dsum_sql('i.gross_item_sales_amount')}, 0.0) * 100", 2)} AS discount_rate_pct,
    {rnd_sql(f"{dsum_sql('i.item_tax_amount')} / NULLIF({dsum_sql('i.gross_item_sales_amount')}, 0.0) * 100", 2)} AS effective_tax_rate_pct,
    {rnd_sql(f"{dsum_sql('i.net_item_sales_amount')} / NULLIF({dsum_sql('i.gross_item_sales_amount')}, 0.0) * 100", 2)} AS net_retention_pct
FROM fct_orders_items i
JOIN dim_customer c ON i.customer_key = c.customer_key
GROUP BY 1, 2""",
)
