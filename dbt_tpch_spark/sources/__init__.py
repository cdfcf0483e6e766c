"""Schema-checked parquet source readers.

The reference declares its sources in models/_source/source_tpch.yml:8-20 and
enforces schemas warehouse-side (scripts/generate_data_postgres.py:23-119).
Here each table is read from ``{sf_dir}/{name}.parquet`` and normalized:

* date-valued timestamps (``l_shipdate``, ``o_orderdate``) are kept as
  midnight TIMESTAMPs: the reference schema declares them DATE, but the test
  corpus stores timestamps (TESTDATA.md) and the oracle comparison is
  type-sensitive — date functions (datediff/date_trunc/extract) treat a
  midnight timestamp identically on both engines.
* everything else is kept at its parquet-native type; money stays DOUBLE (the
  ``money()`` macro handles 4-dp rounding downstream).

At 100 TB these readers are where partition pruning starts: facts would be
laid out partitioned by month of the date column, and every model filter on
dates prunes at the scan. The readers stay declarative (``spark.read``) so
Catalyst keeps pushdown/pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: all tables the driver corpus ships (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown source table {name!r}; expected one of {TABLES}")
    if name == "events":
        # The corpus has shipped events.ts both as parquet TIMESTAMP(NANOS)
        # (which Spark 4 rejects by default — PARQUET_TYPE_ILLEGAL, so it is
        # surfaced as LONG via nanosAsLong) and as plain TIMESTAMP(MICROS).
        # Adapt to whichever this corpus has instead of assuming one.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # pin UTC so wall-clock values match the timezone-naive DuckDB oracle
        # even when the caller's session wasn't built by session.get_spark()
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            # nanos-as-long -> truncate to micros, like DuckDB's ns->us coerce
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type.startswith("timestamp"):
            # normalize TIMESTAMP_NTZ to session-TZ TIMESTAMP so downstream
            # window/watermark ops and the oracle see identical wall clocks
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# auxiliary source/sink formats (reference S7: bulk CSV load path,
# scripts/generate_data_postgres.py:152-168 — not on the correctness path)
# --------------------------------------------------------------------------


def write_csv(df: DataFrame, path: str) -> None:
    """CSV sink with header; one directory of part files (S7 equivalent)."""
    df.write.mode("overwrite").option("header", "true").csv(path)


def read_csv(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Schema-enforced CSV source (no inference jobs at scale)."""
    return spark.read.schema(schema).option("header", "true").csv(path)


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink (columnar alternative to parquet, built into Spark) —
    same overwrite contract as the parquet layer."""
    df.write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)
