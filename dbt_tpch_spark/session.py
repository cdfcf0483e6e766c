"""SparkSession factory tuned for the engine.

Local test posture is ``local[$SPARK_GRAFT_CPUS]``; the same settings are the
ones we would ship for a multi-executor cluster (AQE on, adaptive partition
coalescing, broadcast threshold) — only memory/shuffle sizing changes with
scale.

Stream checkpoints (offsets, commits, state-store deltas, sink logs) are
committed through ``FileSystemBasedCheckpointFileManager``: its atomic
create writes a temp file and calls the two-argument ``FileSystem.rename``,
which forks no process on a local path. Spark's default FileContext manager
resolves links on every rename, and without libhadoop the local file
system resolves each one by forking a ``readlink`` process (four per
rename, two more for the ``.crc`` sidecar). The cluster difference: on
HDFS the two-argument rename refuses an existing destination, so
``createAtomic(..., overwriteIfPossible=True)`` keeps the first complete
copy (for example, a retried state-store delta) instead of replacing it.
Spark has the same behaviour on every file system it falls back to this
manager for, and Hadoop's checksummed local file system refuses the same
rename, so local runs keep the first copy too.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "dbt-tpch-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # UTC so timestamp->date casts agree with the (timezone-naive) DuckDB
        # oracle regardless of host timezone.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalescing of small shuffle partitions, dynamic
        # broadcast conversion, and skew-join splitting — all required at the
        # 100 TB posture and harmless locally.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # Arrow for any pandas_udf / toPandas path (extension operators).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # keep every stage's metrics in the app status store for the whole
        # run: bench.py reads per-query executor CPU as a stage-sum delta,
        # and the default 1000-stage retention would evict early stages
        # mid-bench, corrupting the deltas
        .config("spark.ui.retainedStages", "50000")
        # commit stream checkpoint files with FileSystem.rename: the default
        # FileContext manager forks a readlink per link lookup on a local
        # path without libhadoop. An overwrite of an existing checkpoint
        # file keeps the first copy, on HDFS as locally (module docstring)
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    spark = builder.getOrCreate()
    _quiet_benign_window_warnings(spark)
    return spark


def _quiet_benign_window_warnings(spark: SparkSession) -> None:
    """Silence WindowExec's "No Partition Defined" WARN.

    Every unpartitioned window left in the engine runs over a
    post-aggregation (report-cardinality) frame — a CI invariant walks all
    query plans and rejects any unpartitioned Window over non-aggregated
    input (tests/test_plan_budgets.py::test_no_unpartitioned_window_over_raw_data)
    — so the per-batch WARN is pure noise that drowns bench logs. Scoped to
    the one logger; every other WARN still surfaces."""
    try:
        jvm = spark._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:  # non-log4j2 deployments: keep the warning
        pass
