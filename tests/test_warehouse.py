"""Physical-layout checks: partition pruning must reach the scan, bucketed
joins must be exchange-free — the two properties that decide whether the
plan survives a 100x scale-up."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from dbt_tpch_spark.plans import Context, import_all_models
from dbt_tpch_spark.warehouse import read_partitioned, write_bucketed, write_partitioned

import_all_models()


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_partition_pruning_reaches_scan(spark, sf_dir):
    ctx = Context(spark, sf_dir)
    fct = ctx.ref("fct_orders")
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/fct_orders_by_month"
        write_partitioned(fct, path, "order_month", source_col="order_date")
        back = read_partitioned(spark, path)
        one_month = back.filter(F.col("order_month") == "1998-01")
        plan = _physical_plan(one_month)
        # the partition predicate must appear as a partition filter on the
        # scan, not a post-scan Filter
        assert "PartitionFilters" in plan and "1998-01" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
        n_total = back.count()
        n_month = one_month.count()
        assert 0 < n_month < n_total


@pytest.mark.usefixtures("spark")
def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        ctx = Context(spark, sf_dir)
        orders = ctx.ref("ods_orders")
        items = ctx.ref("orders_items").select(
            "order_key", "quantity", "gross_item_sales_amount"
        )
        write_bucketed(orders, spark, "b_orders", "order_key", 8)
        write_bucketed(items, spark, "b_items", "order_key", 8)
        j = spark.table("b_orders").join(spark.table("b_items"), "order_key")
        plan = _physical_plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan[:2000]
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_items")


def test_build_warehouse_concurrent(spark, sf_dir, tmp_path):
    from dbt_tpch_spark.warehouse import build_warehouse

    timings: dict = {}
    paths = build_warehouse(
        spark, sf_dir, str(tmp_path / "wh"), parallelism=4, layers=("ods", "wh"),
        timings=timings,
    )
    # one build row: the whole ready-queue run
    assert [l["n_tables"] for l in timings["levels"]] == [len(paths)]
    # every table-model of those layers materialized
    assert {"ods_orders", "orders_items", "fct_orders", "fct_orders_items",
            "dim_customer", "dim_part", "dim_supplier",
            "rpt_pricing_summary"} <= set(paths)
    # artifacts equal the lazy computation
    ctx = Context(spark, sf_dir)
    lazy = {tuple(r) for r in ctx.ref("rpt_pricing_summary").collect()}
    built = {tuple(r) for r in spark.read.parquet(paths["rpt_pricing_summary"]).collect()}
    assert lazy == built


def test_build_warehouse_starts_tables_when_their_upstream_is_written(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A table starts as soon as the target tables it reads are written,
    not when its whole topological level is. ``customers`` (whose only
    downstream table in ods/wh is dim_customer) holds its lane until
    ``fct_orders_items`` (which reads only orders_items) starts; a level
    barrier would keep fct_orders_items waiting on customers."""
    import threading

    from dbt_tpch_spark import lineage, warehouse

    real = warehouse.write_table
    fct_started = threading.Event()
    events: list[tuple[str, str]] = []
    waited: list[bool] = []

    def write_table(df, path):
        name = os.path.basename(path)
        events.append(("start", name))
        if name == "fct_orders_items":
            fct_started.set()
        if name == "customers":
            waited.append(fct_started.wait(timeout=30))
        out = real(df, path)
        events.append(("return", name))
        return out

    monkeypatch.setattr(warehouse, "write_table", write_table)
    paths = warehouse.build_warehouse(
        spark, sf_dir, str(tmp_path / "wh"), parallelism=4, layers=("ods", "wh")
    )
    assert waited == [True]
    # every write starts after all its upstream target tables returned
    pos = {e: i for i, e in enumerate(events)}
    for name in paths:
        for up in lineage.upstream(name)["models"] & set(paths):
            assert pos[("return", up)] < pos[("start", name)], (up, name)


def test_write_incremental(spark, sf_dir, tmp_path):
    from dbt_tpch_spark.warehouse import write_incremental

    ctx = Context(spark, sf_dir)
    daily = ctx.ref("metrics_daily_revenue")
    cutoff = "1998-01-01"
    old = daily.filter(F.col("order_date") < cutoff)
    path = str(tmp_path / "daily")

    n1 = write_incremental(old, spark, path, "order_date")
    assert n1 == old.count() > 0
    # second run with the full frame appends only the new dates
    n2 = write_incremental(daily, spark, path, "order_date")
    assert n2 == daily.count() - old.count() > 0
    # incremental result == full rebuild
    final = {tuple(r) for r in spark.read.parquet(path).collect()}
    full = {tuple(r) for r in daily.collect()}
    assert final == full
    # idempotent third run
    assert write_incremental(daily, spark, path, "order_date") == 0


def test_merge_upsert(spark, sf_dir, tmp_path):
    from dbt_tpch_spark.warehouse import merge_upsert

    def rows(*values):
        # a local relation, not a parallelized Python RDD: on local[N] each
        # action over a createDataFrame(list) input runs N tasks
        sql = ", ".join(f"({k}, '{v}', {ver})" for k, v, ver in values)
        return spark.sql(f"SELECT * FROM VALUES {sql} AS t(k, v, ver)")

    path = str(tmp_path / "state")
    base = rows((1, "a", 1), (2, "b", 1), (3, "c", 1))
    r1 = merge_upsert(spark, path, base, ["k"])
    assert r1 == {"inserted": 3, "updated": 0}

    updates = rows((2, "B", 2), (4, "d", 2))
    r2 = merge_upsert(spark, path, updates, ["k"])
    assert r2 == {"inserted": 1, "updated": 1}
    got = {(r.k, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}

    # versioned merge: replaying an OLD batch must not clobber newer rows
    stale = rows((2, "old", 1))
    merge_upsert(spark, path, stale, ["k"], version_col="ver")
    got = {(r.k, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}

    # EQUAL-version collision: the update side must win deterministically
    # (replaying a corrected same-version batch converges on the new value)
    tie = rows((2, "B2", 2))
    merge_upsert(spark, path, tie, ["k"], version_col="ver")
    got = {(r.k, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a"), (2, "B2"), (3, "c"), (4, "d")}
    # and replaying the same batch again is a no-op fixed point
    merge_upsert(spark, path, tie, ["k"], version_col="ver")
    got = {(r.k, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a"), (2, "B2"), (3, "c"), (4, "d")}


def test_insert_overwrite_replaces_only_touched_partitions(spark, tmp_path):
    """dbt insert_overwrite semantics: re-running a batch for one
    partition restates that partition and leaves the others byte-for-byte
    alone — a plain overwrite would truncate the whole table."""
    from dbt_tpch_spark.warehouse import write_insert_overwrite

    path = str(tmp_path / "fact")
    batch1 = spark.createDataFrame(
        [("2026-01", 1, 10.0), ("2026-01", 2, 20.0), ("2026-02", 3, 30.0)],
        "month string, id int, v double",
    )
    rep = write_insert_overwrite(batch1, spark, path, "month")
    assert rep["partitions_written"] == ["2026-01", "2026-02"]
    assert rep["rows_written"] == 3

    # restate Feb (different rows) and add Mar; Jan must be untouched
    batch2 = spark.createDataFrame(
        [("2026-02", 30, 300.0), ("2026-03", 4, 40.0)],
        "month string, id int, v double",
    )
    rep2 = write_insert_overwrite(batch2, spark, path, "month")
    assert rep2["partitions_written"] == ["2026-02", "2026-03"]

    got = {
        (r["month"], r["id"], r["v"])
        for r in spark.read.parquet(path).collect()
    }
    assert got == {
        ("2026-01", 1, 10.0),
        ("2026-01", 2, 20.0),
        ("2026-02", 30, 300.0),
        ("2026-03", 4, 40.0),
    }
    # conf restored to its prior value
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode").lower()
        != "dynamic"
    )


def test_insert_overwrite_rejects_high_cardinality_partition_col(
    spark, tmp_path, monkeypatch
):
    """A high-cardinality partition column must fail loudly BEFORE the
    distinct-value collect lands unbounded rows on the driver (and before
    a million-directory partitionBy write)."""
    import pytest

    import dbt_tpch_spark.warehouse as wh

    monkeypatch.setattr(wh, "MAX_OVERWRITE_PARTITIONS", 5)
    df = spark.range(100).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="not a partition grain"):
        wh.write_insert_overwrite(df, spark, str(tmp_path / "t"), "k")


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _files(path: str) -> int:
    return sum(f.endswith(".parquet") for f in os.listdir(path))


def test_reread_under_written_schema_launches_no_job(spark, tmp_path):
    """Re-reading a table the engine just wrote takes the schema from the
    frame it wrote, so no schema-inference job runs, and the schema still
    equals the inferred one — nullability included, since a file-source
    read forces every field nullable."""
    import dbt_tpch_spark.warehouse as wh

    df = spark.sql(
        "SELECT id, CAST(id AS INT) AS i, CAST(id AS DECIMAL(38, 18)) AS d,"
        " timestamp_seconds(id) AS ts"
        " FROM range(5)"
    )
    assert not any(f.nullable for f in df.schema.fields)
    path = str(tmp_path / "t")
    back = wh.write_table(df, path)
    before = _next_job_id(spark)
    again = wh._reread(df, path)
    assert _next_job_id(spark) == before
    inferred = spark.read.parquet(path).schema
    assert back.schema == again.schema == inferred
    assert sorted(back.collect()) == sorted(df.collect())


def test_write_table_one_file_only_when_planner_bounds_it(spark, tmp_path, monkeypatch):
    """A small frame becomes one file; a plan with a Generate or a Python
    map operator (their estimates ignore the rows they fan out to) or an
    estimate above the bound keeps one file per partition."""
    import dbt_tpch_spark.warehouse as wh

    small = spark.range(0, 40, 1, 4)
    wh.write_table(small, str(tmp_path / "small"))
    assert _files(str(tmp_path / "small")) == 1

    exploded = small.select(F.explode(F.array("id", "id")).alias("id"))
    back = wh.write_table(exploded, str(tmp_path / "exploded"))
    assert _files(str(tmp_path / "exploded")) == 4
    assert back.count() == 80

    def twice(batches):
        for b in batches:
            yield b
            yield b

    mapped = small.mapInPandas(twice, schema=small.schema)
    wh.write_table(mapped, str(tmp_path / "mapped"))
    assert _files(str(tmp_path / "mapped")) == 4

    monkeypatch.setattr(wh, "ONE_FILE_BYTES", 1)
    wh.write_table(small, str(tmp_path / "over"))
    assert _files(str(tmp_path / "over")) == 4
