"""Physical table layout for the 100 TB posture (SURVEY §4.4):

* **date-partitioned facts** — `write_partitioned` lays facts out by month
  so date filters become partition pruning at the scan (verified in
  tests/test_warehouse.py via the plan's partition filters);
* **bucketed tables** — `write_bucketed` pre-shuffles a table on its join
  key so repeated key-joins are exchange-free (the engine's equivalent of
  the reference's CTAS table boundaries, which DuckDB re-sorts internally).

Both produce ordinary catalog tables readable by name. The simple
unpartitioned case — dbt's CTAS — is `write_table`, which `build_warehouse`
runs for every table model: it writes a table the planner bounds below
`ONE_FILE_BYTES` as one file, and re-reads it under the schema it just
wrote, so downstream models read the written artifact without a
schema-inference job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: cap on the driver-side distinct-partition collect in
#: write_insert_overwrite (≈27 years of daily partitions; a legitimate
#: date/month grain never approaches it, a mistaken key column blows
#: straight past it)
MAX_OVERWRITE_PARTITIONS = 10_000

#: largest planner estimate `write_table` writes as one file. Measured on
#: 4 vCPU with no other write competing for the cores, a scan-rooted write
#: as one file instead of four saves 0.16-0.57 s of process CPU at any size
#: and gives up wall: +0.05-0.08 s at 4 MiB, +0.12-0.19 s at 8 MiB,
#: +0.33-0.45 s at 16 MiB, +3.3 s at 126 MiB. Up to 8 MiB the wall given
#: up stays below the CPU saved.
ONE_FILE_BYTES = 8 * 1024 * 1024


def _reread(df: DataFrame, path: str) -> DataFrame:
    """Read back what ``df`` just wrote to ``path``, under ``df``'s schema.
    A file-source read forces every field nullable, so this equals the
    inferred schema — without the 1-task inference job per read."""
    return df.sparkSession.read.schema(df.schema).parquet(path)


def _fits_one_file(df: DataFrame) -> bool:
    """True when the planner bounds ``df`` below `ONE_FILE_BYTES`.
    Projections, filters and aggregates never add rows to the estimate,
    Expand scales by its projection count and a join estimates the
    product of its inputs, so none of them undercounts. Two kinds of
    operator can emit more rows than the estimate allows and disqualify
    the plan: Generate (explode) and the Python map operators
    (``mapInPandas``, ``applyInPandas``), whose estimate scales by row
    width only; any Python UDF in the plan is treated as one."""
    plan = df._jdf.queryExecution().optimizedPlan()
    patterns = df.sparkSession._jvm.org.apache.spark.sql.catalyst.trees.TreePattern
    return plan.stats().sizeInBytes() <= ONE_FILE_BYTES and not any(
        plan.containsPattern(p) for p in (patterns.GENERATE(), patterns.PYTHON_UDF())
    )


def write_table(df: DataFrame, path: str) -> DataFrame:
    """CTAS to parquet at ``path``; returns the written table re-read.

    An output the planner bounds below `ONE_FILE_BYTES` is written as
    one file: ``coalesce(1)`` merges the final stage's tasks and adds no
    shuffle, so a 5-row table is not four files with four write tasks.
    Anything larger keeps its partitions."""
    if _fits_one_file(df):
        df = df.coalesce(1)
    df.write.mode("overwrite").parquet(path)
    return _reread(df, path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_col: str,
    source_col: str | None = None,
    granularity: str = "month",
) -> None:
    """Write parquet partitioned by a time bucket of ``source_col`` (e.g.
    order month). The partition column is a plain string (e.g. '1998-01')
    so directory names stay portable."""
    if source_col is not None:
        df = df.withColumn(
            partition_col,
            F.date_format(F.date_trunc(granularity, F.col(source_col)), "yyyy-MM"),
        )
    df.write.mode("overwrite").partitionBy(partition_col).parquet(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_bucketed(
    df: DataFrame,
    spark: SparkSession,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 16,
) -> None:
    """Persist as a bucketed catalog table: co-locates rows by hash of the
    join key so subsequent equi-joins between tables bucketed the same way
    need no shuffle exchange."""
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table_name)
    )


# --------------------------------------------------------------------------
# full-DAG warehouse build (dbt's threads-N runner equivalent)
# --------------------------------------------------------------------------


def build_warehouse(
    spark: SparkSession,
    sf_dir: str,
    warehouse_dir: str,
    parallelism: int = 4,
    layers: tuple[str, ...] = ("ods", "wh", "metrics", "reports"),
    timings: dict | None = None,
) -> dict[str, str]:
    """Materialize every table-model of the given layers to parquet with
    `write_table`, dbt's ``threads: 4`` runner (reference profiles.yml:8):
    a table starts as soon as every target table it reads is written, with
    at most ``parallelism`` writes in flight. Downstream models read the
    written artifacts, re-read under the schema each write just produced,
    exactly like dbt's CTAS boundaries. Ready tables dispatch by how many
    target tables are downstream of them (most first), then by name.
    Spark's scheduler accepts concurrent job submission from threads, so
    each write is an independent job. A failed write fails the build.
    Returns {model: artifact_path}.

    ``timings``: pass a dict to receive the build's wall decomposition —
    ``timings["tables"][model]`` is the per-table wall (plan + write,
    INCLUDING scheduler contention from the other concurrent writes) and
    ``timings["levels"]`` one row, ``{"n_tables": N, "sec": <build
    wall>}``.
    """
    import time
    from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
    from graphlib import TopologicalSorter

    from dbt_tpch_spark.lineage import upstream
    from dbt_tpch_spark.plans import MODELS, Context

    ctx = Context(spark, sf_dir)
    targets = {
        n
        for n, s in MODELS.items()
        if s.materialization == "table" and s.layer in layers
    }
    deps = {n: upstream(n)["models"] & targets for n in targets}
    fanout = {n: sum(n in ds for ds in deps.values()) for n in targets}
    graph = TopologicalSorter(deps)
    graph.prepare()

    def write(name: str) -> DataFrame:
        t0 = time.perf_counter()
        df = write_table(MODELS[name].fn(ctx), f"{warehouse_dir}/{name}")
        if timings is not None:
            timings.setdefault("tables", {})[name] = round(
                time.perf_counter() - t0, 3
            )
        return df

    t0 = time.perf_counter()
    ready: list[str] = []
    running: dict = {}
    with ThreadPoolExecutor(max_workers=parallelism) as pool:
        while graph.is_active():
            ready = sorted([*ready, *graph.get_ready()], key=lambda n: (-fanout[n], n))
            while ready and len(running) < parallelism:
                name = ready.pop(0)
                running[pool.submit(write, name)] = name
            done, _ = wait(running, return_when=FIRST_COMPLETED)
            for fut in done:
                name = running.pop(fut)
                df = fut.result()
                # downstream tables must read the written artifact
                with ctx._lock:
                    ctx._built[name] = df
                graph.done(name)
    if timings is not None:
        timings["levels"] = [
            {"n_tables": len(targets), "sec": round(time.perf_counter() - t0, 3)}
        ]
    return {n: f"{warehouse_dir}/{n}" for n in sorted(targets)}


# --------------------------------------------------------------------------
# incremental materialization
# --------------------------------------------------------------------------


def write_incremental(df: DataFrame, spark: SparkSession, path: str, watermark_col: str) -> int:
    """Append-only incremental build keyed on a monotone watermark column
    (dbt's incremental materialization; the reference declares event_time
    metadata for this but never uses it — SURVEY §2.10). First run writes
    everything; later runs append only rows past the stored high-water mark.
    Returns the number of rows written."""
    import os

    if os.path.exists(path):
        high = (
            spark.read.parquet(path).agg(F.max(watermark_col).alias("h")).first().h
        )
        fresh = df.filter(F.col(watermark_col) > F.lit(high))
        n = fresh.count()
        if n:
            fresh.write.mode("append").parquet(path)
        return n
    df.write.mode("overwrite").parquet(path)
    return _reread(df, path).count()


def write_insert_overwrite(
    df: DataFrame, spark: SparkSession, path: str, partition_col: str
) -> dict:
    """dbt's ``insert_overwrite`` incremental strategy on a
    date-partitioned table: replace EXACTLY the partitions present in the
    batch, leave every other partition untouched — the idempotent
    backfill/restatement materialization (re-running a day restates that
    day; it never truncates the table the way a plain overwrite would).

    Uses Spark's dynamic partitionOverwriteMode, so the file commit only
    rewrites directories named in the batch — at 100 TB that is the month
    being restated, not the fact table. The session conf is restored
    afterwards (static mode is the safer default for ad-hoc writes).

    Returns {"partitions_written": [...], "rows_written": n}.
    """
    # the distinct partition list lands on the DRIVER: fine for the
    # date/month partitions this strategy exists for (thousands), unbounded
    # if a caller passes a high-cardinality column — fail loudly instead of
    # OOMing the driver (and a >MAX_PARTITIONS partitionBy would be a
    # small-files disaster on the write path anyway)
    parts = [
        r[0]
        for r in df.select(partition_col)
        .distinct()
        .limit(MAX_OVERWRITE_PARTITIONS + 1)
        .collect()
    ]
    if len(parts) > MAX_OVERWRITE_PARTITIONS:
        raise ValueError(
            f"insert_overwrite: partition column {partition_col!r} has more "
            f"than {MAX_OVERWRITE_PARTITIONS} distinct values — that is not "
            "a partition grain; partition on a bounded column (day/month) "
            "or raise MAX_OVERWRITE_PARTITIONS explicitly"
        )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(partition_col).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return {
        "partitions_written": sorted(str(p) for p in parts),
        "rows_written": df.count(),
    }


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    version_col: str | None = None,
) -> dict:
    """Keyed MERGE (upsert) into a parquet table without a table format:
    the update set wins on key collision; with ``version_col`` set, the
    higher version wins regardless of which side it came from (idempotent
    replay of late/duplicate batches). Returns insert/update counts.

    Mechanics: full-outer-join-free — the target's colliding keys are
    dropped via LEFT ANTI against the (broadcast-sized) update key set,
    then updates append. At 100 TB with a partitioned target the anti join
    + rewrite touch only the partitions the updates land in (here: whole
    table, the corpus is unpartitioned); for the table-format version —
    versioned snapshots, copy-on-write MERGE that rewrites only key-range-
    overlapping files, time travel — see dbt_tpch_spark.tableformat.TxnTable
    (same logical plan, file-skipping on top).

    Writes to a temp sibling, parks the old target aside, then promotes —
    a failed WRITE never touches the target, and a crash mid-swap leaves
    the previous state recoverable at ``<path>__merge_old``."""
    import os
    import shutil

    if not os.path.exists(path):
        updates.write.mode("overwrite").parquet(path)
        return {"inserted": _reread(updates, path).count(), "updated": 0}

    target = spark.read.parquet(path)
    if version_col is not None:
        # keep the max-version row per key across both sides
        from pyspark.sql.window import Window

        # __side breaks equal-version ties deterministically in favor of
        # the update row, so replaying a near-duplicate batch converges
        # instead of picking a nondeterministic window winner
        merged = target.withColumn("__side", F.lit(0)).unionByName(
            updates.withColumn("__side", F.lit(1))
        )
        w = Window.partitionBy(*key_cols).orderBy(
            F.col(version_col).desc(), F.col("__side").desc()
        )
        result = (
            merged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__side")
        )
    else:
        keys = updates.select(*key_cols).distinct()
        result = target.join(F.broadcast(keys), key_cols, "left_anti").unionByName(
            updates
        )

    n_target = target.count()
    n_updates = updates.count()
    tmp = f"{path}__merge_tmp"
    result.write.mode("overwrite").parquet(tmp)
    n_result = _reread(result, tmp).count()
    # park-then-promote: never rmtree the only copy before the new one is
    # in place — a crash between the renames leaves `old` recoverable
    old = f"{path}__merge_old"
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    updated = n_target + n_updates - n_result
    return {"inserted": n_updates - updated, "updated": updated}
