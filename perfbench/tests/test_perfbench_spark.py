"""Tests of the benchmark's Spark-facing measurement code: digest
invariance and job-id-range attribution on a live local session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from perfbench import checks  # noqa: E402
from perfbench import metrics as M  # noqa: E402
from perfbench import trace as T  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    yield s
    s.stop()


def _frame(spark):
    return spark.range(0, 500).select(
        F.col("id"),
        (F.col("id") % 7).cast("string").alias("k"),
        (F.col("id") / 3.0).alias("x"),
        F.array(F.col("id"), F.col("id") + 1).alias("arr"),
        F.create_map(F.lit("a"), F.col("id"), F.lit("b"), F.col("id") * 2).alias("m"),
    )


def test_digest_is_invariant_under_row_permutation_and_partitioning(spark):
    df = _frame(spark)
    base = checks.digest_frame(df)
    shuffled = df.orderBy(F.rand(seed=11)).repartition(7)
    assert checks.digest_frame(shuffled) == base
    assert checks.digest_frame(df.select(*reversed(df.columns))) == base
    assert base[0] == 500


def test_digest_sees_a_changed_value_and_normalizes_signed_zero(spark):
    df = _frame(spark)
    changed = df.withColumn("x", F.when(F.col("id") == 42, F.lit(-1.0)).otherwise(F.col("x")))
    assert checks.digest_frame(changed) != checks.digest_frame(df)
    zeros = spark.createDataFrame([(0.0,), (-0.0,)], "z double")
    pos = spark.createDataFrame([(0.0,), (0.0,)], "z double")
    assert checks.digest_frame(zeros) == checks.digest_frame(pos)


def test_digest_frames_matches_one_by_one(spark):
    frames = {"a": _frame(spark), "b": spark.range(3)}
    many = checks.digest_frames(frames)
    assert many == {n: checks.digest_frame(df) for n, df in frames.items()}


def test_span_job_range_holds_jobs_from_worker_threads(spark):
    tracer = T.Tracer(spark, "t", detailed=True)
    with tracer.span("outer", "op") as sp:
        spark.range(10).count()
        with ThreadPoolExecutor(max_workers=3) as pool:
            list(pool.map(lambda n: spark.range(n).count(), [5, 6, 7]))
    spark.range(4).count()  # after the span: must not be attributed
    jobs, stages = T.dump_status(spark)
    a = M.attribute(sp["job_lo"], sp["job_hi"], jobs, stages)
    assert sp["job_hi"] - sp["job_lo"] == a["jobs"] >= 4
    assert a["stages"] >= 4
