"""Skew handling: AQE must split a pathological join key, and the in-row
pair expansion must survive a giant-basket tail."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_aqe_splits_skewed_join(spark):
    """AQE's skew-join handling must engage on a pathological key: one key
    carrying ~all left rows against a uniform right side. Thresholds are
    lowered so the local corpus triggers the same OptimizeSkewedJoin rule
    a 100 TB run relies on; broadcast is disabled to force the sort-merge
    path where skew splitting applies."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(0, 200_000).select(
            # 99% of rows land on key 0; the tail spreads over 1000 keys
            F.when(F.col("id") % 100 < 99, F.lit(0))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.concat(F.lit("payload-"), F.col("id")).alias("pl"),
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), F.lit("dim").alias("d")
        )
        joined = left.join(right, "k")
        # materialize THIS DataFrame's own plan (count() would execute a
        # different QueryExecution and leave this one isFinalPlan=false)
        assert len(joined.collect()) == 200_000
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final
        assert "skew=true" in final, final
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_inrow_pair_expansion_handles_giant_basket_tail(spark):
    """VERDICT r11 #8: the int_market_basket in-row pair expansion under a
    planted basket tail far beyond the TPC-H ≤7-lineitem bound (60- and
    500-item baskets). The expansion must equal the order-key self-join it
    replaced — same pair set, one row per (order, x<y pair) — and emit
    exactly C(n,2) structs per basket."""
    from dbt_tpch_spark.functions import explode_sorted_pairs

    rows = []
    # normal TPC-H-shaped baskets plus the planted skew tail
    for o, n in [(1, 1), (2, 2), (3, 7), (4, 60), (5, 500)]:
        rows += [(o, 1000 * o + p) for p in range(n)]
    items = spark.createDataFrame(rows, "order_key long, part_key long")
    baskets = items.groupBy("order_key").agg(
        F.sort_array(F.collect_set("part_key")).alias("ps")
    )
    expanded = explode_sorted_pairs(baskets, "ps", "part_a", "part_b", "order_key")
    # the self-join reference the rewrite replaced
    a = items.withColumnsRenamed({"part_key": "part_a"})
    b = items.withColumnsRenamed({"part_key": "part_b"})
    ref = (
        a.join(b, "order_key")
        .filter(F.col("part_a") < F.col("part_b"))
        .distinct()
        .select("order_key", "part_a", "part_b")
    )
    assert expanded.exceptAll(ref).count() == 0
    assert ref.exceptAll(expanded).count() == 0
    got_counts = {
        r["order_key"]: r["n"]
        for r in expanded.groupBy("order_key").agg(F.count("*").alias("n")).collect()
    }
    expect = {o: n * (n - 1) // 2 for o, n in [(2, 2), (3, 7), (4, 60), (5, 500)]}
    assert got_counts == expect
