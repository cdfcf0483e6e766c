"""Correctness checks that cost no oracle run per measurement.

* ``digest_frame`` — the timed action of ``llm_ops`` and the check of
  ``dag_build``: an order-insensitive digest over every column (row count,
  decimal sum and xor of a per-row xxhash64), compared against digests
  stored in ``perfbench/digests.json``. ``verify.py`` proves each stored
  digest once against the DuckDB oracle SQL.
* ``TxnReplay`` — the ``txn_ingest`` check: DuckDB replays the same seeded
  operation log and answers every read the engine answers.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS = os.path.join(HERE, "digests.json")


def _canon(field: T.StructField):
    c = F.col(f"`{field.name}`")
    if isinstance(field.dataType, (T.DoubleType, T.FloatType)):
        # one NULL for NaN and one zero for +-0.0, like the parity harness
        return F.when(F.isnan(c), F.lit(None)).when(c == 0, F.lit(0.0)).otherwise(c)
    if isinstance(field.dataType, T.MapType):
        # xxhash64 rejects maps; sorted entries are the order-free form
        return F.array_sort(F.map_entries(c))
    return c


def digest_cols(df: DataFrame):
    """Aggregate columns (n, s, x) of the order-insensitive digest."""
    fields = sorted(df.schema.fields, key=lambda f: f.name)
    h = F.xxhash64(*[_canon(f) for f in fields])
    return [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(h.cast("decimal(38,0)")), F.lit(0).cast("decimal(38,0)")).alias("s"),
        F.coalesce(F.bit_xor(h), F.lit(0).cast("long")).alias("x"),
    ]


def _as_list(row) -> list:
    return [int(row["n"]), str(row["s"]), int(row["x"])]


def digest_frame(df: DataFrame) -> list:
    """[rows, hash sum, hash xor] of ``df`` — one Spark job; invariant
    under row order and physical layout."""
    return _as_list(df.agg(*digest_cols(df)).collect()[0])


def digest_frames(frames: dict) -> dict:
    """Digests of many frames in ONE action: the per-frame one-row
    aggregates are unioned and collected together."""
    parts = [
        df.agg(F.lit(name).alias("name"), *digest_cols(df)) for name, df in frames.items()
    ]
    if not parts:
        return {}
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return {r["name"]: _as_list(r) for r in u.collect()}


def load_digests() -> dict:
    if not os.path.exists(DIGESTS):
        return {}
    with open(DIGESTS) as fh:
        return json.load(fh)


# ------------------------------------------------------------ txn replay

#: the read digest both engines compute: rows, key sum, price in cents,
#: rows with status 'F'
TXN_AGG_SQL = (
    "count(*), coalesce(sum(o_orderkey), 0), "
    "coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT)), 0), "
    "count(*) FILTER (WHERE o_orderstatus = 'F')"
)


def txn_digest(df: DataFrame) -> list:
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("o_orderkey"), F.lit(0)).alias("keys"),
        F.coalesce(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")), F.lit(0)).alias("cents"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("f"),
    ).collect()[0]
    return [int(r["n"]), int(r["keys"]), int(r["cents"]), int(r["f"])]


class TxnReplay:
    """DuckDB replay of the txn_ingest operation log: the expected table
    state after every operation and the expected stream output."""

    def __init__(self, txn_dir: str):
        import duckdb

        self.dir = txn_dir
        self.con = duckdb.connect()
        self.con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{self._f('initial')}')")
        self.con.execute(
            f"CREATE TABLE ev AS SELECT event_id FROM read_parquet('{self._f('events_0')}')"
        )

    def _f(self, name: str) -> str:
        return os.path.join(self.dir, f"{name}.parquet")

    def append(self, i: int) -> None:
        self.con.execute(f"INSERT INTO t SELECT * FROM read_parquet('{self._f(f'append_{i}')}')")

    def merge(self, i: int) -> None:
        u = f"read_parquet('{self._f(f'update_{i}')}')"
        self.con.execute(f"DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM {u})")
        self.con.execute(f"INSERT INTO t SELECT * FROM {u}")

    def delete(self, lo: int, hi: int) -> None:
        self.con.execute(f"DELETE FROM t WHERE o_orderkey BETWEEN {lo} AND {hi}")

    def land_events(self, i: int) -> None:
        self.con.execute(
            f"INSERT INTO ev SELECT event_id FROM read_parquet('{self._f(f'events_{i}')}')"
        )

    def digest(self, lo: int | None = None, hi: int | None = None) -> list:
        where = "" if lo is None else f" WHERE o_orderkey BETWEEN {lo} AND {hi}"
        return [int(v) for v in self.con.execute(f"SELECT {TXN_AGG_SQL} FROM t{where}").fetchone()]

    def stream_rows(self) -> int:
        """Rows an exactly-once dedup on event_id has emitted so far."""
        return int(self.con.execute("SELECT count(DISTINCT event_id) FROM ev").fetchone()[0])

    def close(self) -> None:
        self.con.close()
