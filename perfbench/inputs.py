"""Seeded input generation from the vendored source corpus.

The source corpus (``perfbench/corpus``) is the sf0.01 TPC-H-style test
corpus: one single-row-group parquet file per table. For a workload seed
this module writes the files the engine is given:

* every table as a directory of ``FILES_PER_TABLE`` parquet files, rows
  permuted and cut points jittered by the seed — a different physical
  layout per seed with the same logical content, so every query answer
  (and every stored digest) is seed-independent;
* for ``txn_ingest``, the operation log: key-ordered append batches,
  late-update batches for already-loaded keys, delete ranges and the
  events files each step lands for the stream.

Pure pyarrow + numpy; the same seed gives byte-identical files.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CORPUS = os.path.join(HERE, "corpus")

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

#: files per generated table (tables smaller than this get one per row)
FILES_PER_TABLE = 4
#: cut points move by up to this share of an even file's row count
CUT_JITTER = 0.25


def _rng(seed: int, *salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, *salt])


def _cuts(n: int, k: int, rng: np.random.Generator) -> list[int]:
    """k-1 interior cut points near the even split of n rows."""
    k = max(1, min(k, n))
    even = n / k
    cuts = [0]
    for i in range(1, k):
        c = int(round(i * even + rng.uniform(-CUT_JITTER, CUT_JITTER) * even))
        cuts.append(min(max(c, cuts[-1] + 1), n - (k - i)))
    return cuts + [n]


def write_split(table: pa.Table, out_dir: str, rng: np.random.Generator) -> None:
    """Write ``table`` as FILES_PER_TABLE parquet files under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    cuts = _cuts(table.num_rows, FILES_PER_TABLE, rng)
    for i, (a, b) in enumerate(zip(cuts, cuts[1:])):
        pq.write_table(
            table.slice(a, b - a), os.path.join(out_dir, f"part-{i:05d}.parquet")
        )


def read_source(name: str) -> pa.Table:
    return pq.read_table(os.path.join(CORPUS, f"{name}.parquet"))


def generate_corpus(seed: int, out_dir: str) -> None:
    """Seeded permutation and multi-file split of every source table into
    ``out_dir/<table>.parquet/``."""
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    for i, name in enumerate(TABLES):
        t = read_source(name)
        rng = _rng(seed, i)
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        write_split(t, os.path.join(out_dir, f"{name}.parquet"), rng)


# ------------------------------------------------------------ txn_ingest

#: ingest steps per pass, and a compaction after every COMPACT_EVERY steps
TXN_STEPS = 3
COMPACT_EVERY = 2
#: late updates per step, as a share of the rows loaded so far
UPDATE_SHARE = 0.01
#: keys covered by one delete range, as a share of the rows loaded so far
DELETE_SHARE = 0.005
#: events rows that land per step, and the share of them redelivered
EVENTS_PER_STEP = 1000
REDELIVER_SHARE = 0.05


def generate_txn_log(seed: int, out_dir: str) -> dict:
    """Write the seeded ``txn_ingest`` operation log under ``out_dir`` and
    return it. Files: ``initial`` (the key-ordered first half of orders),
    per step ``append_<i>`` (the next key-ordered batch), ``update_<i>``
    (late updates to keys loaded before the step: new price and status)
    and ``events_<i>`` (a time-ordered events slice plus redelivered
    copies of some of its rows). ``log.json`` holds the steps."""
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    rng = _rng(seed, 1000)
    orders = read_source("orders").sort_by("o_orderkey")
    n = orders.num_rows
    half = n // 2
    cuts = [half + c for c in _cuts(n - half, TXN_STEPS, rng)]

    def put(name: str, t: pa.Table) -> str:
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path)
        return path

    put("initial", orders.slice(0, half))
    events = read_source("events").sort_by([("ts", "ascending"), ("event_id", "ascending")])
    ev_cuts = [i * EVENTS_PER_STEP for i in range(TXN_STEPS + 2)]
    put("events_0", events.slice(0, EVENTS_PER_STEP))
    keys = orders.column("o_orderkey").to_numpy()
    steps = []
    for i in range(TXN_STEPS):
        a, b = cuts[i], cuts[i + 1]
        put(f"append_{i}", orders.slice(a, b - a))
        loaded = b  # rows [0, b) are loaded once this step's batch lands
        # late updates: keys that were loaded BEFORE this step's batch
        pick = np.sort(rng.choice(a, size=max(1, int(UPDATE_SHARE * loaded)), replace=False))
        upd = orders.take(pa.array(pick))
        cents = rng.integers(-5000, 5000, size=len(pick))
        price = pc.round(
            pc.add(upd.column("o_totalprice"), pa.array(cents / 100.0)), 2
        )
        status = pa.array(rng.choice(["F", "O", "P"], size=len(pick)))
        upd = upd.set_column(
            upd.schema.get_field_index("o_totalprice"), "o_totalprice", price
        ).set_column(
            upd.schema.get_field_index("o_orderstatus"), "o_orderstatus", status
        )
        put(f"update_{i}", upd)
        # delete range over already-loaded keys
        width = max(1, int(DELETE_SHARE * loaded))
        lo = int(rng.integers(0, a - width))
        del_lo, del_hi = int(keys[lo]), int(keys[lo + width - 1])
        # events for the stream leg: the next time slice + redeliveries
        sl = events.slice(ev_cuts[i + 1], EVENTS_PER_STEP)
        dup = sl.take(
            pa.array(np.sort(rng.choice(sl.num_rows, size=int(REDELIVER_SHARE * sl.num_rows), replace=False)))
        )
        put(f"events_{i + 1}", pa.concat_tables([sl, dup]))
        steps.append(
            {
                "append_keys": [int(keys[a]), int(keys[b - 1])],
                "delete_keys": [del_lo, del_hi],
                "compact": (i + 1) % COMPACT_EVERY == 0,
            }
        )
    log = {"seed": seed, "steps": steps}
    with open(os.path.join(out_dir, "log.json"), "w") as fh:
        json.dump(log, fh, indent=1)
    return log


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """All inputs of one workload for one seed: ``out_dir/corpus`` and,
    for txn_ingest, ``out_dir/txn``. Returns {"corpus": dir} plus, for
    txn_ingest, {"txn_dir": dir, "txn": operation log}."""
    corpus = os.path.join(out_dir, "corpus")
    generate_corpus(seed, corpus)
    out = {"corpus": corpus}
    if workload == "txn_ingest":
        out["txn_dir"] = os.path.join(out_dir, "txn")
        out["txn"] = generate_txn_log(seed, out["txn_dir"])
    return out
