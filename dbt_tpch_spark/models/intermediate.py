"""Intermediate layer (reference: models/intermediate/*.sql, materialized as
views — dbt_project.yml:35-36). Only the models runnable on the driver corpus
are implemented (SURVEY §2.12 ✓ rows); the partsupp/receipt-date-dependent
ones are blocked on fuller fixtures (FIXTURES.md).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_tpch_spark.functions import (
    barrier,
    davg,
    days_between,
    dsum,
    explode_sorted_pairs,
    gated_broadcast,
    isum,
    rnd,
)
from dbt_tpch_spark.plans import model
from dbt_tpch_spark.models.oracle import (
    davg_sql,
    days_between_sql,
    dsum_sql,
    isum_sql,
    oracle,
    rnd_sql,
)


@model("int_customer_orders_summary", layer="intermediate", materialization="view")
def int_customer_orders_summary(ctx):
    """Order count/value/status breakdown per customer. Reference:
    models/intermediate/int_customer_orders_summary.sql:1-30.

    Scale note: LEFT JOIN keeps zero-order customers; groupBy key is the
    customer grain so the join and agg share partitioning on customer_key.
    """
    c = ctx.ref("dim_customer")
    o = ctx.ref("fct_orders")
    return (
        c.join(o, "customer_key", "left")
        .groupBy(
            "customer_key",
            "customer_name",
            "customer_nation_name",
            "customer_region_name",
            "customer_market_segment_name",
        )
        .agg(
            F.countDistinct("order_key").alias("order_count"),
            dsum(F.col("gross_item_sales_amount")).alias("total_revenue"),
            dsum(F.col("net_item_sales_amount")).alias("total_net_revenue"),
            davg(F.col("gross_item_sales_amount")).alias("avg_order_value"),
            F.min("order_date").alias("first_order_date"),
            F.max("order_date").alias("last_order_date"),
            F.countDistinct(
                F.when(F.col("order_status_code") == "F", F.col("order_key"))
            ).alias("fulfilled_orders"),
            F.countDistinct(
                F.when(F.col("order_status_code") == "O", F.col("order_key"))
            ).alias("open_orders"),
            F.countDistinct(
                F.when(F.col("order_status_code") == "P", F.col("order_key"))
            ).alias("partial_orders"),
        )
    )


oracle(
    "int_customer_orders_summary",
    ("dim_customer", "fct_orders"),
    f"""SELECT
    c.customer_key,
    c.customer_name,
    c.customer_nation_name,
    c.customer_region_name,
    c.customer_market_segment_name,
    COUNT(DISTINCT o.order_key) AS order_count,
    {dsum_sql('o.gross_item_sales_amount')} AS total_revenue,
    {dsum_sql('o.net_item_sales_amount')} AS total_net_revenue,
    {davg_sql('o.gross_item_sales_amount')} AS avg_order_value,
    MIN(o.order_date) AS first_order_date,
    MAX(o.order_date) AS last_order_date,
    COUNT(DISTINCT CASE WHEN o.order_status_code = 'F' THEN o.order_key END) AS fulfilled_orders,
    COUNT(DISTINCT CASE WHEN o.order_status_code = 'O' THEN o.order_key END) AS open_orders,
    COUNT(DISTINCT CASE WHEN o.order_status_code = 'P' THEN o.order_key END) AS partial_orders
FROM dim_customer c
LEFT JOIN fct_orders o ON c.customer_key = o.customer_key
GROUP BY 1, 2, 3, 4, 5""",
)


@model("int_customer_lifetime_value", layer="intermediate", materialization="view")
def int_customer_lifetime_value(ctx):
    """Lifetime revenue/orders/tenure per customer. Reference:
    models/intermediate/int_customer_lifetime_value.sql:1-29."""
    c = ctx.ref("dim_customer")
    o = ctx.ref("fct_orders")
    return (
        c.join(o, "customer_key", "left")
        .groupBy(
            "customer_key",
            "customer_name",
            "customer_nation_name",
            "customer_region_name",
            "customer_market_segment_name",
            "customer_account_balance",
        )
        .agg(
            F.countDistinct("order_key").alias("lifetime_orders"),
            dsum(F.col("gross_item_sales_amount")).alias("lifetime_revenue"),
            dsum(F.col("net_item_sales_amount")).alias("lifetime_net_revenue"),
            F.min("order_date").alias("first_order_date"),
            F.max("order_date").alias("last_order_date"),
            days_between(F.max("order_date"), F.min("order_date")).alias(
                "customer_tenure_days"
            ),
            rnd(
                dsum(F.col("gross_item_sales_amount"))
                / F.nullif(F.countDistinct("order_key"), F.lit(0)),
                2,
            ).alias("avg_order_value"),
        )
    )


oracle(
    "int_customer_lifetime_value",
    ("dim_customer", "fct_orders"),
    f"""SELECT
    c.customer_key,
    c.customer_name,
    c.customer_nation_name,
    c.customer_region_name,
    c.customer_market_segment_name,
    c.customer_account_balance,
    COUNT(DISTINCT o.order_key) AS lifetime_orders,
    {dsum_sql('o.gross_item_sales_amount')} AS lifetime_revenue,
    {dsum_sql('o.net_item_sales_amount')} AS lifetime_net_revenue,
    MIN(o.order_date) AS first_order_date,
    MAX(o.order_date) AS last_order_date,
    {days_between_sql('MAX(o.order_date)', 'MIN(o.order_date)')} AS customer_tenure_days,
    {rnd_sql(dsum_sql('o.gross_item_sales_amount') + ' / NULLIF(COUNT(DISTINCT o.order_key), 0)', 2)} AS avg_order_value
FROM dim_customer c
LEFT JOIN fct_orders o ON c.customer_key = o.customer_key
GROUP BY 1, 2, 3, 4, 5, 6""",
)


@model("int_regional_trade_flows", layer="intermediate", materialization="view")
def int_regional_trade_flows(ctx):
    """Nation-to-nation shipping volumes/revenue. Reference:
    models/intermediate/int_regional_trade_flows.sql:1-36.

    Scale note: dim joins are broadcast (dims are tiny); the wide agg keys
    are low-cardinality (nation x nation x year), so the shuffle is small
    after map-side partial aggregation.
    """
    i = ctx.ref("fct_orders_items")
    c = ctx.ref("dim_customer")
    s = ctx.ref("dim_supplier")
    joined = i.join(
        F.broadcast(c.select("customer_key", "customer_nation_name", "customer_region_name")),
        "customer_key",
    ).join(
        F.broadcast(s.select("supplier_key", "supplier_nation_name", "supplier_region_name")),
        "supplier_key",
    )
    trade_type = (
        F.when(
            F.col("supplier_nation_name") == F.col("customer_nation_name"), "domestic"
        )
        .when(
            F.col("supplier_region_name") == F.col("customer_region_name"),
            "intra_regional",
        )
        .otherwise("inter_regional")
    )
    return (
        joined.withColumn("ship_year", F.year("ship_date").cast("long"))
        .withColumn("trade_type", trade_type)
        .groupBy(
            F.col("supplier_nation_name").alias("supplier_nation"),
            F.col("supplier_region_name").alias("supplier_region"),
            F.col("customer_nation_name").alias("customer_nation"),
            F.col("customer_region_name").alias("customer_region"),
            "ship_year",
            "trade_type",
        )
        .agg(
            F.count(F.lit(1)).alias("total_shipments"),
            dsum(F.col("quantity")).alias("total_quantity"),
            dsum(F.col("gross_item_sales_amount")).alias("total_revenue"),
            dsum(F.col("net_item_sales_amount")).alias("total_net_revenue"),
        )
        .select(
            "supplier_nation",
            "supplier_region",
            "customer_nation",
            "customer_region",
            "ship_year",
            "total_shipments",
            "total_quantity",
            "total_revenue",
            "total_net_revenue",
            "trade_type",
        )
    )


oracle(
    "int_regional_trade_flows",
    ("fct_orders_items", "dim_customer", "dim_supplier"),
    f"""SELECT
    s.supplier_nation_name AS supplier_nation,
    s.supplier_region_name AS supplier_region,
    c.customer_nation_name AS customer_nation,
    c.customer_region_name AS customer_region,
    EXTRACT(year FROM i.ship_date) AS ship_year,
    COUNT(*) AS total_shipments,
    {dsum_sql('i.quantity')} AS total_quantity,
    {dsum_sql('i.gross_item_sales_amount')} AS total_revenue,
    {dsum_sql('i.net_item_sales_amount')} AS total_net_revenue,
    CASE
        WHEN s.supplier_nation_name = c.customer_nation_name THEN 'domestic'
        WHEN s.supplier_region_name = c.customer_region_name THEN 'intra_regional'
        ELSE 'inter_regional'
    END AS trade_type
FROM fct_orders_items i
JOIN dim_customer c ON i.customer_key = c.customer_key
JOIN dim_supplier s ON i.supplier_key = s.supplier_key
GROUP BY 1, 2, 3, 4, 5, 10""",
)


@model("int_seasonal_demand", layer="intermediate", materialization="view")
def int_seasonal_demand(ctx):
    """Order volume/revenue by year/quarter/month. Reference:
    models/intermediate/int_seasonal_demand.sql:1-18."""
    o = ctx.ref("fct_orders")
    return (
        o.groupBy(
            F.year("order_date").cast("long").alias("order_year"),
            F.quarter("order_date").cast("long").alias("order_quarter"),
            F.month("order_date").cast("long").alias("order_month"),
        )
        .agg(
            F.countDistinct("order_key").alias("order_count"),
            dsum(F.col("gross_item_sales_amount")).alias("total_revenue"),
            dsum(F.col("net_item_sales_amount")).alias("total_net_revenue"),
            davg(F.col("gross_item_sales_amount")).alias("avg_order_value"),
            dsum(F.col("item_discount_amount")).alias("total_discounts"),
        )
    )


oracle(
    "int_seasonal_demand",
    ("fct_orders",),
    f"""SELECT
    EXTRACT(year FROM o.order_date) AS order_year,
    EXTRACT(quarter FROM o.order_date) AS order_quarter,
    EXTRACT(month FROM o.order_date) AS order_month,
    COUNT(DISTINCT o.order_key) AS order_count,
    {dsum_sql('o.gross_item_sales_amount')} AS total_revenue,
    {dsum_sql('o.net_item_sales_amount')} AS total_net_revenue,
    {davg_sql('o.gross_item_sales_amount')} AS avg_order_value,
    {dsum_sql('o.item_discount_amount')} AS total_discounts
FROM fct_orders o
GROUP BY 1, 2, 3""",
)


@model("int_discount_impact", layer="intermediate", materialization="view")
def int_discount_impact(ctx):
    """Per-order discount impact. Reference:
    models/intermediate/int_discount_impact.sql:1-24."""
    i = ctx.ref("fct_orders_items")
    return (
        i.groupBy("order_key", "order_date", "customer_key")
        .agg(
            F.count(F.lit(1)).alias("line_item_count"),
            dsum(F.col("quantity")).alias("total_quantity"),
            dsum(F.col("gross_item_sales_amount")).alias("revenue_before_discount"),
            dsum(F.col("discounted_item_sales_amount")).alias("revenue_after_discount"),
            dsum(F.col("item_discount_amount")).alias("total_discount_amount"),
            dsum(F.col("net_item_sales_amount")).alias("net_revenue"),
            rnd(
                F.abs(dsum(F.col("item_discount_amount")))
                / F.nullif(dsum(F.col("gross_item_sales_amount")), F.lit(0.0))
                * 100,
                2,
            ).alias("effective_discount_pct"),
            davg(F.col("discount_percentage")).alias("avg_line_discount_pct"),
            isum(F.when(F.col("discount_percentage") > 0, 1).otherwise(0)).alias(
                "discounted_line_items"
            ),
            isum(F.when(F.col("discount_percentage") == 0, 1).otherwise(0)).alias(
                "full_price_line_items"
            ),
        )
    )


oracle(
    "int_discount_impact",
    ("fct_orders_items",),
    f"""SELECT
    i.order_key,
    i.order_date,
    i.customer_key,
    COUNT(*) AS line_item_count,
    {dsum_sql('i.quantity')} AS total_quantity,
    {dsum_sql('i.gross_item_sales_amount')} AS revenue_before_discount,
    {dsum_sql('i.discounted_item_sales_amount')} AS revenue_after_discount,
    {dsum_sql('i.item_discount_amount')} AS total_discount_amount,
    {dsum_sql('i.net_item_sales_amount')} AS net_revenue,
    {rnd_sql(f"ABS({dsum_sql('i.item_discount_amount')}) / NULLIF({dsum_sql('i.gross_item_sales_amount')}, 0.0) * 100", 2)} AS effective_discount_pct,
    {davg_sql('i.discount_percentage')} AS avg_line_discount_pct,
    {isum_sql('CASE WHEN i.discount_percentage > 0 THEN 1 ELSE 0 END')} AS discounted_line_items,
    {isum_sql('CASE WHEN i.discount_percentage = 0 THEN 1 ELSE 0 END')} AS full_price_line_items
FROM fct_orders_items i
GROUP BY 1, 2, 3""",
)


@model("int_market_basket", layer="intermediate", materialization="view")
def int_market_basket(ctx):
    """Co-purchased part pairs. Reference:
    models/intermediate/int_market_basket.sql:1-47.

    Scale note (round-11): the reference's order_key self-join (J8) is
    expanded IN-ROW from each order's sorted distinct part set instead —
    the same co-purchase shape as operators/graph._edges. Pair fan-out is
    bounded by basket size squared (TPC-H orders hold ≤ 7 lineitems), and
    no join node exists to mis-plan as a nested loop.
    """
    # round-11: the order_key self-join is the graph-family co-purchase
    # expansion (see operators/graph._edges) — collapse each order to its
    # sorted distinct part set ONCE (collect_set dedups, so the old
    # distinct() shuffle is absorbed into this aggregate) and expand every
    # x < y pair IN-ROW from the basket with compiled generators
    # (functions.explode_sorted_pairs): the self-join (two probe-side
    # exchanges + join machinery) disappears and the per-order expansion
    # is bounded by basket size (TPC-H orders hold ≤ 7 lineitems).
    # The basket frame is order-grain and feeds both the pair expansion
    # and the per-part totals — materialize it once.
    baskets = (
        ctx.ref("fct_orders_items")
        .select("order_key", "part_key")
        .groupBy("order_key")
        .agg(F.sort_array(F.collect_set("part_key")).alias("ps"))
        .transform(barrier)
    )
    pairs = (
        explode_sorted_pairs(baskets, "ps", "part_a", "part_b")
        .groupBy("part_a", "part_b")
        .agg(
            # one in-row pair per (order, part pair) — the same unique-
            # order-per-pair property the joined distinct rows had, so
            # plain count == count distinct orders
            F.count(F.lit(1)).alias("co_occurrence_count")
        )
    )
    totals = baskets.select(F.explode("ps").alias("part_key")).groupBy(
        "part_key"
    ).agg(
        # ps is the deduped per-order part set, so one exploded row per
        # (order, part): plain count == count distinct orders
        F.count(F.lit(1)).alias("order_count")
    )
    pa = totals.withColumnsRenamed({"part_key": "part_a", "order_count": "part_a_orders"})
    pb = totals.withColumnsRenamed({"part_key": "part_b", "order_count": "part_b_orders"})
    # per-part totals are part-grain — SF-linear, so the enrichment joins
    # broadcast only under the shared row gate (part count is a parquet
    # metadata read); above it the pair table shuffle-hash-joins instead
    n_parts = ctx.source("part").count()
    return (
        pairs.join(gated_broadcast(pa, n_parts), "part_a")
        .join(gated_broadcast(pb, n_parts), "part_b")
        .filter(F.col("co_occurrence_count") >= 5)
        .select(
            "part_a",
            "part_b",
            "co_occurrence_count",
            "part_a_orders",
            "part_b_orders",
            rnd(
                F.col("co_occurrence_count").cast("double")
                / F.nullif(F.col("part_a_orders"), F.lit(0))
                * 100,
                2,
            ).alias("pct_of_part_a_orders"),
            rnd(
                F.col("co_occurrence_count").cast("double")
                / F.nullif(F.col("part_b_orders"), F.lit(0))
                * 100,
                2,
            ).alias("pct_of_part_b_orders"),
        )
    )


oracle(
    "int_market_basket",
    ("fct_orders_items",),
    f"""WITH order_parts AS (
    SELECT order_key, part_key
    FROM fct_orders_items
    GROUP BY 1, 2
),
part_pairs AS (
    SELECT
        a.part_key AS part_a,
        b.part_key AS part_b,
        COUNT(DISTINCT a.order_key) AS co_occurrence_count
    FROM order_parts a
    JOIN order_parts b
        ON a.order_key = b.order_key
        AND a.part_key < b.part_key
    GROUP BY 1, 2
),
part_totals AS (
    SELECT part_key, COUNT(DISTINCT order_key) AS order_count
    FROM order_parts
    GROUP BY 1
)
SELECT
    pp.part_a,
    pp.part_b,
    pp.co_occurrence_count,
    pa.order_count AS part_a_orders,
    pb.order_count AS part_b_orders,
    {rnd_sql('CAST(pp.co_occurrence_count AS DOUBLE) / NULLIF(pa.order_count, 0) * 100', 2)} AS pct_of_part_a_orders,
    {rnd_sql('CAST(pp.co_occurrence_count AS DOUBLE) / NULLIF(pb.order_count, 0) * 100', 2)} AS pct_of_part_b_orders
FROM part_pairs pp
JOIN part_totals pa ON pp.part_a = pa.part_key
JOIN part_totals pb ON pp.part_b = pb.part_key
WHERE pp.co_occurrence_count >= 5""",
)


@model("int_nation_economics", layer="intermediate", materialization="view")
def int_nation_economics(ctx):
    """Economic indicators by nation. Reference:
    models/intermediate/int_nation_economics.sql:1-53."""
    c = ctx.ref("dim_customer")
    s = ctx.ref("dim_supplier")
    o = ctx.ref("fct_orders")

    customer_stats = c.groupBy(
        F.col("customer_nation_name").alias("nation_name"),
        F.col("customer_region_name").alias("region_name"),
    ).agg(
        F.countDistinct("customer_key").alias("customer_count"),
        dsum(F.col("customer_account_balance")).alias("total_customer_balance"),
        davg(F.col("customer_account_balance")).alias("avg_customer_balance"),
    )

    supplier_stats = s.groupBy(
        F.col("supplier_nation_name").alias("nation_name")
    ).agg(
        F.countDistinct("supplier_key").alias("supplier_count"),
        dsum(F.col("supplier_account_balance")).alias("total_supplier_balance"),
        davg(F.col("supplier_account_balance")).alias("avg_supplier_balance"),
    )

    order_stats = (
        o.join(
            F.broadcast(c.select("customer_key", "customer_nation_name")),
            "customer_key",
        )
        .groupBy(F.col("customer_nation_name").alias("nation_name"))
        .agg(
            dsum(F.col("gross_item_sales_amount")).alias("total_order_revenue"),
            dsum(F.col("net_item_sales_amount")).alias("total_net_revenue"),
            F.countDistinct("order_key").alias("total_orders"),
        )
    )

    return (
        customer_stats.alias("cs")
        .join(supplier_stats.alias("ss"), "nation_name", "left")
        .join(order_stats.alias("os"), "nation_name", "left")
        .select(
            "nation_name",
            "region_name",
            "customer_count",
            F.coalesce(F.col("supplier_count"), F.lit(0)).alias("supplier_count"),
            "total_customer_balance",
            "avg_customer_balance",
            F.coalesce(F.col("total_supplier_balance"), F.lit(0.0)).alias(
                "total_supplier_balance"
            ),
            F.coalesce(F.col("avg_supplier_balance"), F.lit(0.0)).alias(
                "avg_supplier_balance"
            ),
            F.coalesce(F.col("total_order_revenue"), F.lit(0.0)).alias(
                "total_order_revenue"
            ),
            F.coalesce(F.col("total_net_revenue"), F.lit(0.0)).alias(
                "total_net_revenue"
            ),
            F.coalesce(F.col("total_orders"), F.lit(0)).alias("total_orders"),
            rnd(
                F.coalesce(F.col("total_order_revenue"), F.lit(0.0))
                / F.nullif(F.col("customer_count"), F.lit(0)),
                2,
            ).alias("revenue_per_customer"),
        )
    )


oracle(
    "int_nation_economics",
    ("dim_customer", "dim_supplier", "fct_orders"),
    f"""WITH customer_stats AS (
    SELECT
        c.customer_nation_name AS nation_name,
        c.customer_region_name AS region_name,
        COUNT(DISTINCT c.customer_key) AS customer_count,
        {dsum_sql('c.customer_account_balance')} AS total_customer_balance,
        {davg_sql('c.customer_account_balance')} AS avg_customer_balance
    FROM dim_customer c
    GROUP BY 1, 2
),
supplier_stats AS (
    SELECT
        s.supplier_nation_name AS nation_name,
        COUNT(DISTINCT s.supplier_key) AS supplier_count,
        {dsum_sql('s.supplier_account_balance')} AS total_supplier_balance,
        {davg_sql('s.supplier_account_balance')} AS avg_supplier_balance
    FROM dim_supplier s
    GROUP BY 1
),
order_stats AS (
    SELECT
        c.customer_nation_name AS nation_name,
        {dsum_sql('o.gross_item_sales_amount')} AS total_order_revenue,
        {dsum_sql('o.net_item_sales_amount')} AS total_net_revenue,
        COUNT(DISTINCT o.order_key) AS total_orders
    FROM fct_orders o
    JOIN dim_customer c ON o.customer_key = c.customer_key
    GROUP BY 1
)
SELECT
    cs.nation_name,
    cs.region_name,
    cs.customer_count,
    COALESCE(ss.supplier_count, 0) AS supplier_count,
    cs.total_customer_balance,
    cs.avg_customer_balance,
    COALESCE(ss.total_supplier_balance, 0.0) AS total_supplier_balance,
    COALESCE(ss.avg_supplier_balance, 0.0) AS avg_supplier_balance,
    COALESCE(os.total_order_revenue, 0.0) AS total_order_revenue,
    COALESCE(os.total_net_revenue, 0.0) AS total_net_revenue,
    COALESCE(os.total_orders, 0) AS total_orders,
    {rnd_sql('COALESCE(os.total_order_revenue, 0.0) / NULLIF(cs.customer_count, 0)', 2)} AS revenue_per_customer
FROM customer_stats cs
LEFT JOIN supplier_stats ss ON cs.nation_name = ss.nation_name
LEFT JOIN order_stats os ON cs.nation_name = os.nation_name""",
)
