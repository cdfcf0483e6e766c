"""The transactional table format (dbt_tpch_spark/tableformat.py):
snapshot reads, time travel, copy-on-write MERGE with file-stats
skipping, optimistic-concurrency commits, vacuum."""

from __future__ import annotations

import os
import uuid
from contextlib import contextmanager
from decimal import Decimal

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from dbt_tpch_spark.tableformat import CommitConflict, TxnTable, _norm


def _rows(df):
    return sorted((r["k"], r["v"]) for r in df.collect())


def _mk(spark, pairs):
    return spark.createDataFrame(pairs, "k long, v string")


@contextmanager
def _jobs(spark):
    """Count the Spark jobs the block launches: yields a list that holds
    the count once the block exits."""
    sc = spark.sparkContext
    group = uuid.uuid4().hex
    sc.setJobGroup(group, "job count")
    counted: list[int] = []
    try:
        yield counted
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        counted.append(len(sc.statusTracker().getJobIdsForGroup(group)))


def _grouped_query_jobs(spark) -> int:
    """Jobs one grouped aggregate query costs in this session (two under
    AQE: the shuffle map stage and the result)."""
    with _jobs(spark) as n:
        spark.range(0, 8, 1, 2).groupBy(F.col("id") % 2).agg(F.min("id")).collect()
    return n[0]


def test_create_append_overwrite_time_travel(spark, tmp_path):
    p = str(tmp_path / "t")
    t = TxnTable.create(spark, p, _mk(spark, [(1, "a"), (2, "b")]), ["k"])
    assert _rows(t.read()) == [(1, "a"), (2, "b")]

    v1 = t.append(_mk(spark, [(3, "c")]))
    assert v1 == 1
    assert _rows(t.read()) == [(1, "a"), (2, "b"), (3, "c")]

    t.overwrite(_mk(spark, [(9, "z")]))
    assert _rows(t.read()) == [(9, "z")]
    # time travel: every prior snapshot still reads exactly
    assert _rows(t.read(version=0)) == [(1, "a"), (2, "b")]
    assert _rows(t.read(version=1)) == [(1, "a"), (2, "b"), (3, "c")]
    ops = [c["operation"] for c in t.history()]
    assert ops == ["create", "append", "overwrite"]


def test_merge_upserts_and_skips_disjoint_files(spark, tmp_path):
    """Two appends with disjoint key ranges -> an update touching only the
    low range must rewrite the low file(s) and carry the high file(s) by
    reference (file-stats skipping — the property that keeps
    copy-on-write MERGE sublinear at scale)."""
    p = str(tmp_path / "t")
    low = _mk(spark, [(1, "a"), (2, "b")]).coalesce(1)
    high = _mk(spark, [(100, "x"), (200, "y")]).coalesce(1)
    t = TxnTable.create(spark, p, low, ["k"])
    t.append(high)

    rep = t.merge(_mk(spark, [(2, "B"), (3, "C")]).coalesce(1))
    assert rep["files_rewritten"] == 1 and rep["files_skipped"] == 1
    assert _rows(t.read()) == [
        (1, "a"),
        (2, "B"),
        (3, "C"),
        (100, "x"),
        (200, "y"),
    ]
    # pre-merge snapshot unchanged (time travel across a merge)
    assert _rows(t.read(version=1)) == [
        (1, "a"),
        (2, "b"),
        (100, "x"),
        (200, "y"),
    ]


def test_merge_version_col_higher_wins(spark, tmp_path):
    p = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "old", 5), (2, "keep", 9)], "k long, v string, ver long"
    ).coalesce(1)
    t = TxnTable.create(spark, p, base, ["k"])
    updates = spark.createDataFrame(
        [(1, "new", 7), (2, "stale", 3)], "k long, v string, ver long"
    ).coalesce(1)
    t.merge(updates, version_col="ver")
    got = sorted((r["k"], r["v"], r["ver"]) for r in t.read().collect())
    # k=1: update ver 7 > 5 wins; k=2: target ver 9 > 3 survives
    assert got == [(1, "new", 7), (2, "keep", 9)]


def test_commit_conflict_detected(spark, tmp_path):
    p = str(tmp_path / "t")
    t = TxnTable.create(spark, p, _mk(spark, [(1, "a")]), ["k"])
    # a second handle races to the same next version
    t2 = TxnTable(spark, p, ["k"])
    t.append(_mk(spark, [(2, "b")]))
    with pytest.raises(CommitConflict):
        t2._commit(1, "append", adds=[], removes=[])


def test_vacuum_removes_only_unreferenced(spark, tmp_path):
    p = str(tmp_path / "t")
    t = TxnTable.create(spark, p, _mk(spark, [(1, "a")]).coalesce(1), ["k"])
    t.overwrite(_mk(spark, [(2, "b")]).coalesce(1))
    removed = t.vacuum(retain_versions=1)
    assert removed  # version-0 file gone
    assert _rows(t.read()) == [(2, "b")]  # latest snapshot intact
    with pytest.raises(Exception):
        t.read(version=0).collect()  # time travel past retention is gone
    # all remaining files on disk are referenced
    live = {a["file"] for a in t.snapshot_files()}
    on_disk = set()
    for root, _d, fs in os.walk(os.path.join(p, "data")):
        for f in fs:
            if f.endswith(".parquet"):
                on_disk.add(os.path.relpath(os.path.join(root, f), p))
    assert on_disk == live


def test_merge_timestamp_keys_prune(spark, tmp_path):
    """Timestamp key stats serialize as ISO strings and still prune
    correctly (order-preserving); having no footer min/max, they cost one
    grouped query per write whatever the file count."""
    p = str(tmp_path / "t")
    jan = spark.sql(
        "SELECT timestamp'2026-01-15 00:00:00' AS k, 'a' AS v"
    ).coalesce(1)
    jun = spark.sql(
        "SELECT timestamp'2026-06-15 00:00:00' AS k, 'b' AS v"
    ).coalesce(1)
    t = TxnTable.create(spark, p, jan, ["k"])
    t.append(jun)
    upd = spark.sql(
        "SELECT timestamp'2026-06-15 00:00:00' AS k, 'B' AS v"
    ).coalesce(1)
    rep = t.merge(upd)
    assert rep["files_rewritten"] == 1 and rep["files_skipped"] == 1
    got = sorted((str(r["k"]), r["v"]) for r in t.read().collect())
    assert got == [
        ("2026-01-15 00:00:00", "a"),
        ("2026-06-15 00:00:00", "B"),
    ]
    # INT96 timestamps have no footer min/max: their stats cost the write
    # plus ONE grouped query, whatever the file count
    def batch(lo, n_files):
        return spark.range(lo, lo + 8, 1, n_files).select(
            F.timestamp_seconds(F.lit(1_800_000_000) + F.col("id") * 86_400).alias("k"),
            F.lit("c").alias("v"),
        )

    grouped = _grouped_query_jobs(spark)
    for lo, n_files in ((0, 1), (100, 4)):
        with _jobs(spark) as n:
            t.append(batch(lo, n_files))
        assert n[0] == 1 + grouped, (n_files, n[0])
        adds = t.history()[-1]["adds"]
        assert len(adds) == n_files
        for a in adds:
            part = spark.read.schema("k timestamp").parquet(os.path.join(p, a["file"]))
            want = part.agg(F.min("k"), F.max("k")).head()
            assert a["stats"]["k"] == [_norm(want[0]), _norm(want[1])]


def test_streaming_foreachbatch_merge_sink(spark, tmp_path, sf_dir):
    """Production shape: structured streaming upserts each micro-batch into
    the transactional table via foreachBatch + TxnTable.merge (the
    streaming MERGE-INTO sink). availableNow over the static corpus ->
    final snapshot must equal a batch upsert of the same rows (last state
    per user wins by event ts; ties break to higher event_id)."""
    from dbt_tpch_spark.streaming.windows import read_events_stream

    p = str(tmp_path / "user_state")
    # per-user latest state with a total order (ts, event_id): within and
    # across micro-batches the higher (ts, event_id) must win — encode the
    # pair into one monotone version number for version_col semantics
    # (seconds * 1e9 + id stays under the long limit; corpus ids << 1e9)
    ver = (
        F.unix_timestamp(F.col("ts")).cast("long") * F.lit(1_000_000_000)
        + F.col("event_id")
    )

    def latest_per_user(df):
        return (
            df.withColumn("ver", ver)
            .groupBy("user_id")
            .agg(F.max(F.struct("ver", "event_type", "value")).alias("s"))
            .select(
                "user_id",
                F.col("s.ver").alias("ver"),
                F.col("s.event_type").alias("event_type"),
                F.col("s.value").alias("value"),
            )
        )

    seed = spark.createDataFrame(
        [], "user_id long, ver long, event_type string, value double"
    ).coalesce(1)
    table = TxnTable.create(spark, p, seed, ["user_id"])

    def sink(batch_df, batch_id):
        table.merge(latest_per_user(batch_df), version_col="ver")

    q = (
        read_events_stream(spark, sf_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    from dbt_tpch_spark.plans import Context

    batch = latest_per_user(
        Context(spark, sf_dir).source("events")
    )
    got = sorted(map(tuple, table.read().collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want and got


def test_compact_bin_packs_small_files(spark, tmp_path):
    """Many small append files collapse into few packed files in one
    atomic commit; content is unchanged and the pre-compaction snapshot
    stays time-travel-readable."""
    import pyspark.sql.functions as F

    path = str(tmp_path / "t")
    mk = lambda lo, hi: (
        spark.range(lo, hi).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    )
    table = TxnTable.create(spark, path, mk(0, 100).coalesce(1), key_cols=["k"])
    for i in range(1, 6):
        table.append(mk(i * 100, (i + 1) * 100).coalesce(1))
    pre_version = table.latest_version()
    n_pre_files = len(table.snapshot_files())
    assert n_pre_files == 6
    rep = table.compact(target_bytes=1024 * 1024)
    assert rep["files_compacted"] == 6
    assert rep["groups"] < n_pre_files
    assert len(table.snapshot_files()) == rep["groups"]
    got = sorted(r["k"] for r in table.read().collect())
    assert got == list(range(600))
    # time travel to the pre-compaction layout still works
    assert len(table.snapshot_files(pre_version)) == n_pre_files
    assert table.read(pre_version).count() == 600


def test_zorder_skips_files_on_two_dim_predicate(spark, tmp_path):
    """A linear (x-sorted) layout prunes on its leading column only: a
    predicate on y alone must open EVERY file. After OPTIMIZE ZORDER BY
    (x, y) each file covers a tight box in BOTH dimensions, so the same
    y-only predicate skips most files from manifest stats — with
    identical query results."""
    import pyspark.sql.functions as F

    n, files = 40_000, 16
    base = (
        spark.range(n)
        .select(
            (F.col("id") % 200).alias("x"),
            (F.floor(F.col("id") / 200)).alias("y"),
            F.col("id").alias("payload"),
        )
    )
    y_slab = {"y": (10, 19)}

    # linear layout: range-sorted by x only
    lin_path = str(tmp_path / "linear")
    lin = TxnTable.create(
        spark,
        lin_path,
        base.repartitionByRange(files, "x").sortWithinPartitions("x"),
        key_cols=["x", "y"],
    )
    _, lin_read, lin_total = lin.pruned_read(y_slab)

    # z-ordered layout
    z_path = str(tmp_path / "zorder")
    zt = TxnTable.create(spark, z_path, base.coalesce(4), key_cols=["x", "y"])
    rep = zt.optimize_zorder(["x", "y"], n_files=files)
    assert rep["files_written"] == files
    zdf, z_read, z_total = zt.pruned_read(y_slab)

    assert lin_total == z_total == files
    # every x-sorted file spans all of y -> zero skipping on the linear
    # layout; the z-order layout must skip at least half the files for a
    # 5%-of-range y slab
    assert lin_read == files
    assert z_read <= files // 2
    want = sorted(
        (r["x"], r["y"], r["payload"])
        for r in base.filter((F.col("y") >= 10) & (F.col("y") <= 19)).collect()
    )
    got = sorted((r["x"], r["y"], r["payload"]) for r in zdf.collect())
    assert got == want
    # pruning never drops rows on the linear layout either
    lin_df, _, _ = lin.pruned_read(y_slab)
    assert sorted((r["x"], r["y"], r["payload"]) for r in lin_df.collect()) == want


def test_zorder_requires_stats_columns(spark, tmp_path):
    import pyspark.sql.functions as F
    import pytest as _pytest

    path = str(tmp_path / "t2")
    df = spark.range(10).select(F.col("id").alias("k"), F.col("id").alias("w"))
    table = TxnTable.create(spark, path, df, key_cols=["k"])
    with _pytest.raises(ValueError, match="carry no file stats"):
        table.optimize_zorder(["k", "w"])


def test_schema_evolution_add_column_and_reject_retype(spark, tmp_path):
    """Additive evolution: an append may introduce a new column (old rows
    read back as NULL under the log's recorded schema); dropping or re-typing
    an existing column is refused with SchemaMismatch."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from dbt_tpch_spark.tableformat import SchemaMismatch

    path = str(tmp_path / "evo")
    base = spark.range(5).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    table = TxnTable.create(spark, path, base, key_cols=["k"])
    assert [n for n, _ in table.table_schema()] == ["k", "v"]

    widened = spark.range(5, 10).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        F.lit("fresh").alias("note"),
    )
    table.append(widened)
    got = table.read().orderBy("k").collect()
    assert [r["note"] for r in got] == [None] * 5 + ["fresh"] * 5
    assert [n for n, _ in table.table_schema()] == ["k", "v", "note"]
    # time travel: version 0's schema is the original
    assert [n for n, _ in table.table_schema(0)] == ["k", "v"]

    with _pytest.raises(SchemaMismatch, match="DROPPED"):
        table.append(spark.range(3).select(F.col("id").alias("k")))
    with _pytest.raises(SchemaMismatch, match="v: "):
        table.append(
            spark.range(3).select(
                F.col("id").alias("k"), F.lit("oops").alias("v")
            )
        )

    # merge may also widen: new column rides the rewrite, old rows NULL
    upd = spark.range(2).select(
        F.col("id").alias("k"),
        F.lit(999).cast("long").alias("v"),
        F.lit("upd").alias("note"),
        F.lit(1).cast("long").alias("batch"),
    )
    table.merge(upd)
    rows = {r["k"]: (r["v"], r["note"], r["batch"]) for r in table.read().collect()}
    assert rows[0] == (999, "upd", 1) and rows[1] == (999, "upd", 1)
    assert rows[7][2] is None


def test_compact_and_merge_preserve_evolved_columns(spark, tmp_path):
    """Regression (review finding): compact() and merge() must read their
    input files under the table schema — a rewrite spanning a schema-
    evolution boundary used to silently drop the evolved column."""
    import pyspark.sql.functions as F

    path = str(tmp_path / "evo2")
    base = spark.range(3).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    table = TxnTable.create(spark, path, base.coalesce(1), key_cols=["k"])
    widened = spark.range(3, 6).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        F.lit("fresh").alias("note"),
    )
    table.append(widened.coalesce(1))

    # compact packs the pre- and post-evolution files into one group
    rep = table.compact(target_bytes=1024 * 1024)
    assert rep["files_compacted"] == 2 and rep["groups"] == 1
    got = {r["k"]: r["note"] for r in table.read().collect()}
    assert got == {0: None, 1: None, 2: None, 3: "fresh", 4: "fresh", 5: "fresh"}

    # merge whose hit set spans the (now single, mixed-origin) file must
    # keep 'note' for non-updated rows
    upd = spark.range(1).select(
        F.col("id").alias("k"),
        F.lit(111).cast("long").alias("v"),
        F.lit("upd").alias("note"),
    )
    table.merge(upd.coalesce(1))
    got = {r["k"]: (r["v"], r["note"]) for r in table.read().collect()}
    assert got[0] == (111, "upd")
    assert got[4] == (40, "fresh")  # evolved value survived the rewrite


def test_zorder_bit_budget_caps_at_sign_bit(spark, tmp_path):
    """Four z-order columns must still produce non-negative z-values
    (16 bits x 4 would have put the last column's MSB on bit 63)."""
    import pyspark.sql.functions as F

    path = str(tmp_path / "z4")
    base = spark.range(2000).select(
        (F.col("id") % 10).alias("a"),
        (F.col("id") % 7).alias("b"),
        (F.col("id") % 5).alias("c"),
        (F.col("id") % 3).alias("d"),
        F.col("id").alias("payload"),
    )
    t = TxnTable.create(spark, path, base.coalesce(2), key_cols=["a", "b", "c", "d"])
    z = t._zvalue_col(t.read(), ["a", "b", "c", "d"])
    neg = t.read().select(z.alias("z")).filter(F.col("z") < 0).count()
    assert neg == 0
    rep = t.optimize_zorder(["a", "b", "c", "d"], n_files=4)
    assert rep["files_written"] == 4
    assert t.read().count() == 2000


def test_delete_where_rewrites_only_touched_files(spark, tmp_path):
    """DELETE's find-touched-files pass must leave files with no matching
    rows carried by reference (same sublinearity property as MERGE), drop
    exactly the predicate-TRUE rows from touched files, and keep every
    prior snapshot time-travel-readable."""
    p = str(tmp_path / "t")
    low = _mk(spark, [(1, "a"), (2, "b")]).coalesce(1)
    high = _mk(spark, [(100, "x"), (200, "y")]).coalesce(1)
    t = TxnTable.create(spark, p, low, ["k"])
    t.append(high)

    rep = t.delete_where("k = 2")
    assert rep["files_rewritten"] == 1 and rep["files_skipped"] == 1
    assert rep["rows_deleted"] == 1
    assert _rows(t.read()) == [(1, "a"), (100, "x"), (200, "y")]
    # prior snapshot untouched (copy-on-write)
    assert _rows(t.read(version=1)) == [
        (1, "a"),
        (2, "b"),
        (100, "x"),
        (200, "y"),
    ]
    assert t.history()[-1]["operation"] == "delete"


def test_delete_where_no_match_is_metadata_noop(spark, tmp_path):
    p = str(tmp_path / "t")
    t = TxnTable.create(spark, p, _mk(spark, [(1, "a"), (2, "b")]), ["k"])
    v_before = t.latest_version()
    rep = t.delete_where("k = 999")
    assert rep["rows_deleted"] == 0 and rep["files_rewritten"] == 0
    assert t.latest_version() == v_before  # no commit written
    assert _rows(t.read()) == [(1, "a"), (2, "b")]


def test_delete_where_null_predicate_keeps_row(spark, tmp_path):
    """SQL DELETE semantics: a row where the predicate evaluates to NULL
    is NOT deleted (only TRUE deletes)."""
    p = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c")], "k long, v string"
    )
    t = TxnTable.create(spark, p, df, ["k"])
    rep = t.delete_where("v = 'c'")  # NULL for k=2 -> row kept
    assert rep["rows_deleted"] == 1
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2]


def test_delete_where_across_schema_evolution(spark, tmp_path):
    """Deleting with a predicate on an evolved column must not corrupt
    rows written before the column existed (the recorded schema on both
    the scan and the rewrite)."""
    p = str(tmp_path / "t")
    t = TxnTable.create(spark, p, _mk(spark, [(1, "a"), (2, "b")]), ["k"])
    evolved = spark.createDataFrame(
        [(3, "c", "new"), (4, "d", "drop-me")], "k long, v string, tag string"
    )
    t.append(evolved)
    rep = t.delete_where("tag = 'drop-me'")
    assert rep["rows_deleted"] == 1
    got = {r["k"]: r["tag"] for r in t.read().collect()}
    assert set(got) == {1, 2, 3}
    assert got[3] == "new" and got[1] is None  # backfilled NULL intact


def test_snapshot_diff_classifies_changes_and_skips_shared_files(
    spark, tmp_path
):
    """MERGE over two disjoint files rewrites only the touched one; the
    diff must classify inserted/deleted/updated/rewritten-unchanged rows
    correctly AND report the untouched file as shared (it cancels out of
    the scan — the sublinear-CDC property)."""
    p = str(tmp_path / "t")
    low = _mk(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1)
    high = _mk(spark, [(100, "x")]).coalesce(1)
    t = TxnTable.create(spark, p, low, ["k"])
    t.append(high)  # v1
    # v2: update k=2, insert k=5 — touches only the low file
    t.merge(_mk(spark, [(2, "B"), (5, "E")]).coalesce(1))

    d = t.snapshot_diff(1, 2)
    assert d["files_unchanged"] == 1  # the high file carried by reference
    assert d["files_removed"] == 1 and d["files_added"] >= 1
    assert d["rows_inserted"] == 1  # k=5
    assert d["rows_deleted"] == 0
    assert d["rows_updated"] == 1  # k=2 a->B
    # k=1 and k=3 live in the rewritten low file with identical bytes
    assert d["rows_rewritten_unchanged"] == 2


def test_snapshot_diff_overwrite_and_delete(spark, tmp_path):
    p = str(tmp_path / "t")
    t = TxnTable.create(
        spark, p, _mk(spark, [(1, "a"), (2, "b")]).coalesce(1), ["k"]
    )
    t.overwrite(_mk(spark, [(2, "b"), (9, "z")]).coalesce(1))  # v1
    d = t.snapshot_diff(0, 1)
    assert d["rows_inserted"] == 1  # k=9
    assert d["rows_deleted"] == 1  # k=1
    assert d["rows_updated"] == 0
    assert d["rows_rewritten_unchanged"] == 1  # k=2 rewritten identically

    t.delete_where("k = 9")  # v2
    d2 = t.snapshot_diff(1, 2)
    assert d2["rows_deleted"] == 1 and d2["rows_inserted"] == 0
    # identity diff is all-zero and reads no data
    d3 = t.snapshot_diff(2, 2)
    assert d3["files_added"] == d3["files_removed"] == 0
    assert d3["rows_inserted"] == d3["rows_deleted"] == 0
    assert d3["rows_updated"] == d3["rows_rewritten_unchanged"] == 0


def test_snapshot_diff_across_schema_evolution(spark, tmp_path):
    """An append that ADDS a column must diff cleanly: old-side rows
    lack the column (the recorded schema backfills NULL), and only the
    common columns participate in the updated/unchanged split."""
    p = str(tmp_path / "t")
    t = TxnTable.create(spark, p, _mk(spark, [(1, "a")]).coalesce(1), ["k"])
    wide = spark.createDataFrame([(2, "b", 7.5)], "k long, v string, w double")
    t.append(wide.coalesce(1))  # v1 adds column w
    d = t.snapshot_diff(0, 1)
    assert d["files_unchanged"] == 1  # the v0 file is shared
    assert d["rows_inserted"] == 1 and d["rows_deleted"] == 0
    assert d["rows_updated"] == 0 and d["rows_rewritten_unchanged"] == 0


def test_cdc_sees_change_confined_to_evolved_column(spark, tmp_path):
    """Regression: a MERGE that changes ONLY a column added by schema
    evolution must classify as 'updated' even when the old side's files
    predate the column (the recorded table schema, not the observed file
    columns, decides the comparison set — old side backfills typed NULL)."""
    p = str(tmp_path / "t")
    t = TxnTable.create(spark, p, _mk(spark, [(1, "a")]).coalesce(1), ["k"])
    wide = spark.createDataFrame([(2, "b", 7.5)], "k long, v string, w double")
    t.append(wide.coalesce(1))  # v1 adds column w
    # v2: merge touches only k=1's w (NULL -> 3.25); v unchanged
    t.merge(
        spark.createDataFrame([(1, "a", 3.25)], "k long, v string, w double")
        .coalesce(1)
    )
    d = t.snapshot_diff(1, 2)
    assert d["rows_updated"] == 1 and d["rows_rewritten_unchanged"] == 0
    ch = t.read_changes(1, 2).collect()
    assert len(ch) == 1
    r = ch[0]
    assert r["change_type"] == "updated" and r["k"] == 1
    assert r["old_w"] is None and r["new_w"] == 3.25
    assert r["old_v"] == "a" and r["new_v"] == "a"


def test_cdc_null_key_rows_use_presence_markers(spark, tmp_path):
    """Regression: a row whose (first) key column is NULL must still be
    classified by side presence — isNotNull() on the key would misreport
    it as absent from both sides and call an insert an update."""
    p = str(tmp_path / "t")
    df0 = spark.createDataFrame([(1, "a")], "k long, v string")
    t = TxnTable.create(spark, p, df0.coalesce(1), ["k"])
    df1 = spark.createDataFrame([(1, "a"), (None, "z")], "k long, v string")
    t.overwrite(df1.coalesce(1))  # v1: inserts the NULL-key row
    d = t.snapshot_diff(0, 1)
    assert d["rows_inserted"] == 1
    assert d["rows_updated"] == 0 and d["rows_deleted"] == 0
    assert d["rows_rewritten_unchanged"] == 1  # k=1 rewritten byte-equal
    ins = t.read_changes(0, 1).collect()
    assert len(ins) == 1
    assert ins[0]["change_type"] == "inserted" and ins[0]["k"] is None
    # and the reverse direction deletes it
    t.overwrite(df0.coalesce(1))  # v2
    dele = t.read_changes(1, 2).collect()
    assert len(dele) == 1
    assert dele[0]["change_type"] == "deleted" and dele[0]["k"] is None


def test_diff_rejects_reversed_or_unknown_versions(spark, tmp_path):
    """A reversed (v_from, v_to) silently swaps inserted/deleted semantics
    in an audit feed — must raise, as must versions not in the log."""
    import pytest

    p = str(tmp_path / "t")
    t = TxnTable.create(spark, p, _mk(spark, [(1, "a")]).coalesce(1), ["k"])
    t.append(_mk(spark, [(2, "b")]).coalesce(1))  # v1
    with pytest.raises(ValueError, match="reversed"):
        t.snapshot_diff(1, 0)
    with pytest.raises(ValueError, match="reversed"):
        t.read_changes(1, 0).collect()
    with pytest.raises(ValueError, match="not in commit log"):
        t.snapshot_diff(0, 99)


def test_read_changes_emits_logical_changes_only(spark, tmp_path):
    """The CDC feed must list exactly the logical changes with old/new
    values, and hide physical churn (carry-along rewrites, compaction)."""
    p = str(tmp_path / "t")
    low = _mk(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1)
    high = _mk(spark, [(100, "x")]).coalesce(1)
    t = TxnTable.create(spark, p, low, ["k"])
    t.append(high)  # v1
    t.merge(_mk(spark, [(2, "B"), (5, "E")]).coalesce(1))  # v2

    changes = {
        r["k"]: r for r in t.read_changes(1, 2).collect()
    }
    assert set(changes) == {2, 5}
    assert changes[2]["change_type"] == "updated"
    assert changes[2]["old_v"] == "b" and changes[2]["new_v"] == "B"
    assert changes[5]["change_type"] == "inserted"
    assert changes[5]["old_v"] is None and changes[5]["new_v"] == "E"

    t.delete_where("k = 100")  # v3
    ch = t.read_changes(2, 3).collect()
    assert len(ch) == 1
    assert ch[0]["change_type"] == "deleted" and ch[0]["k"] == 100
    # compaction is pure physical churn: zero logical changes
    t.compact(target_bytes=1)  # v4 (or no-op commit)
    assert t.read_changes(3).count() == 0


def test_read_changes_is_a_sufficient_replication_feed(spark, tmp_path):
    """Applying the CDC feed to the old snapshot must reconstruct the new
    snapshot exactly — delete the deleted/updated keys, insert the
    inserted/updated new values — across a merge, a delete, and a
    schema-evolving append (the downstream-replica use case CDC exists
    for)."""
    from dbt_tpch_spark.parity import canonicalize

    p = str(tmp_path / "t")
    t = TxnTable.create(
        spark, p, _mk(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1), ["k"]
    )
    t.merge(_mk(spark, [(2, "B"), (5, "E")]).coalesce(1))  # v1
    t.delete_where("k = 1")  # v2

    v_from, v_to = 0, t.latest_version()
    ch = t.read_changes(v_from, v_to)
    removed_keys = [
        r["k"]
        for r in ch.filter(F.col("change_type").isin("deleted", "updated"))
        .select("k")
        .collect()
    ]
    upserts = (
        ch.filter(F.col("change_type").isin("inserted", "updated"))
        .select(F.col("k"), F.col("new_v").alias("v"))
    )
    replica = (
        t.read(v_from)
        .filter(~F.col("k").isin(removed_keys))
        .unionByName(upserts)
    )
    want = canonicalize(t.read(v_to).toPandas())
    got = canonicalize(replica.toPandas())
    assert got.equals(want)


def test_cdc_replication_holds_across_random_op_sequences(spark, tmp_path):
    """Seeded-random op-sequence fuzz: after EVERY commit, read_changes of
    the last step must replicate the previous snapshot into the current
    one, and snapshot_diff's counts must reconcile with the row-count
    delta (n_to = n_from + inserted - deleted). Catches halo cases a
    hand-written scenario misses (delete-then-reinsert of the same key,
    merges touching every file, back-to-back compactions). One op mid-
    sequence ADDS a column (additive schema evolution), after which every
    batch carries it — so later diffs compare evolved-column values
    across pre- and post-evolution files (the ADVICE r5 class)."""
    import random

    from dbt_tpch_spark.parity import canonicalize

    rng = random.Random(42)
    p = str(tmp_path / "t")
    t = TxnTable.create(
        spark, p, _mk(spark, [(k, f"v{k}") for k in range(6)]).coalesce(2), ["k"]
    )
    live = set(range(6))
    nxt = 100
    evolved = False

    def mk(rows_kv, step):
        # post-evolution batches must carry w (additive-only evolution:
        # dropping a column raises SchemaMismatch)
        if evolved:
            return spark.createDataFrame(
                [(k, v, float(k % 7) + step / 10.0) for k, v in rows_kv],
                "k long, v string, w double",
            )
        return _mk(spark, rows_kv)

    for step in range(16):
        op = rng.choice(["append", "merge", "delete", "compact", "evolve"])
        v_from = t.latest_version()
        if op == "evolve":
            if evolved:
                continue  # evolution happens once
            evolved = True
            rows = [(nxt, f"e{step}")]
            nxt += 10
            t.append(mk(rows, step).coalesce(1))  # first wide file
            live |= {k for k, _ in rows}
        elif op == "append" or not live:
            rows = [(nxt + i, f"a{step}") for i in range(rng.randint(1, 3))]
            nxt += 10
            t.append(mk(rows, step).coalesce(1))
            live |= {k for k, _ in rows}
        elif op == "merge":
            upd = [(k, f"m{step}") for k in rng.sample(sorted(live), 1)]
            new = [(nxt, f"m{step}")]
            nxt += 10
            t.merge(mk(upd + new, step).coalesce(1))
            live |= {k for k, _ in new}
        elif op == "delete":
            victim = rng.choice(sorted(live))
            t.delete_where(f"k = {victim}")
            live.discard(victim)
        else:
            t.compact(target_bytes=1 << 20)
        v_to = t.latest_version()
        if v_to == v_from:  # metadata no-op (e.g. compact of one file)
            continue
        d = t.snapshot_diff(v_from, v_to)
        n_from = t.read(v_from).count()
        n_to = t.read(v_to).count()
        assert n_to == n_from + d["rows_inserted"] - d["rows_deleted"], (
            step,
            op,
            d,
        )
        ch = t.read_changes(v_from, v_to)
        removed = [
            r["k"]
            for r in ch.filter(
                F.col("change_type").isin("deleted", "updated")
            ).collect()
        ]
        # replica build is schema-generic: conform the old snapshot to the
        # new snapshot's columns (typed-NULL backfill), apply new_* values
        to_df = t.read(v_to)
        base = t.read(v_from)
        for fld in to_df.schema.fields:
            if fld.name not in base.columns:
                base = base.withColumn(
                    fld.name, F.lit(None).cast(fld.dataType)
                )
        base = base.select(*to_df.columns)
        upserts = ch.filter(
            F.col("change_type").isin("inserted", "updated")
        ).select(
            "k",
            *[
                F.col(f"new_{c}").alias(c)
                for c in to_df.columns
                if c != "k"
            ],
        )
        replica = base.filter(~F.col("k").isin(removed or [-1])).unionByName(
            upserts
        )
        assert canonicalize(replica.toPandas()).equals(
            canonicalize(to_df.toPandas())
        ), (step, op)
        assert live == {r["k"] for r in t.read().select("k").collect()}

        # multi-commit gap: replication must also hold from a RANDOM
        # earlier snapshot (shared-file cancellation across several
        # commits, not just the adjacent pair)
        v_far = rng.choice(t.versions()[:-1])
        _assert_cdc_replicates(spark, t, v_far, v_to, (step, op, v_far))
    assert evolved, "seed never drew the evolve op — pick a new seed"


def _assert_cdc_replicates(spark, t, v_from, v_to, ctx_info):
    """read_changes(v_from, v_to) applied to snapshot v_from must rebuild
    snapshot v_to exactly (schema-generic: typed-NULL backfill for columns
    born between the versions)."""
    from dbt_tpch_spark.parity import canonicalize

    ch = t.read_changes(v_from, v_to)
    removed = [
        r["k"]
        for r in ch.filter(
            F.col("change_type").isin("deleted", "updated")
        ).collect()
    ]
    to_df = t.read(v_to)
    base = t.read(v_from)
    for fld in to_df.schema.fields:
        if fld.name not in base.columns:
            base = base.withColumn(fld.name, F.lit(None).cast(fld.dataType))
    base = base.select(*to_df.columns)
    upserts = ch.filter(
        F.col("change_type").isin("inserted", "updated")
    ).select(
        "k",
        *[F.col(f"new_{c}").alias(c) for c in to_df.columns if c != "k"],
    )
    replica = base.filter(~F.col("k").isin(removed or [-1])).unionByName(
        upserts
    )
    assert canonicalize(replica.toPandas()).equals(
        canonicalize(to_df.toPandas())
    ), ctx_info


def test_append_is_one_job_and_reads_launch_none(spark, tmp_path):
    """Integer key stats come from the written files' parquet footers: an
    append of a 4-file frame is the write job alone, and read() /
    pruned_read() build their frames under the log's recorded schema
    without a footer-inference job."""
    p = str(tmp_path / "t")
    t = TxnTable.create(spark, p, spark.sql("SELECT 0L AS k, 'a' AS v"), ["k"])
    four = spark.range(10, 410, 1, 4).select(F.col("id").alias("k"), F.lit("b").alias("v"))
    with _jobs(spark) as n:
        t.append(four)
    assert n == [1]
    assert len(t.history()[-1]["adds"]) == 4
    with _jobs(spark) as n:
        full = t.read()
        pruned, files_read, files_total = t.pruned_read({"k": (10, 109)})
    assert n == [0]
    assert (files_read, files_total) == (1, 5)
    assert full.count() == 401
    assert sorted(r["k"] for r in pruned.collect()) == list(range(10, 110))


def test_footer_stats_equal_spark_min_max(spark, tmp_path):
    """For int, string and date keys the footer stats of every written
    file equal Spark's min/max over that file: multi-row-group files
    whose leading row groups are all-NULL, an all-NULL file and an empty
    write included."""
    p = str(tmp_path / "t")
    cols = ["i", "s", "d"]

    def frame(lo, hi, parts, null_below):
        key = F.when(F.col("id") >= null_below, F.col("id"))
        return spark.range(lo, hi, 1, parts).select(
            key.cast("int").alias("i"),
            key.cast("string").alias("s"),
            F.date_add(F.lit("2020-01-01").cast("date"), key.cast("int")).alias("d"),
        )

    spark.conf.set("parquet.block.size", "1024")  # ~100-row row groups
    try:
        t = TxnTable.create(spark, p, frame(0, 3000, 2, 700), cols)
    finally:
        spark.conf.unset("parquet.block.size")
    first = t.history()[0]["adds"]
    assert max(pq.read_metadata(os.path.join(p, a["file"])).num_row_groups for a in first) > 1
    t.append(frame(0, 50, 1, 10**6).coalesce(1))  # every key NULL
    t.append(frame(0, 0, 1, 0))  # empty write
    n_files = 0
    for commit in t.history():
        for a in commit["adds"]:
            want = spark.read.parquet(os.path.join(p, a["file"])).agg(
                *[F.min(c) for c in cols], *[F.max(c) for c in cols]
            ).head()
            assert a["stats"] == {
                c: [_norm(want[j]), _norm(want[j + len(cols)])] for j, c in enumerate(cols)
            }, a
            n_files += 1
    assert n_files >= 3
    assert t.history()[1]["adds"][0]["stats"]["i"] == [None, None]


def test_read_under_recorded_schema_matches_merge_schema_read(spark, tmp_path):
    """A read across an additive schema change returns the same rows and
    column order as a parquet schema-merging read of the same files:
    columns an older file predates come back NULL."""
    p = str(tmp_path / "t")
    narrow = spark.sql("SELECT * FROM VALUES (1L, 'a'), (2L, 'b') AS t(k, v)")
    t = TxnTable.create(spark, p, narrow, ["k"])
    wide = spark.sql(
        "SELECT * FROM VALUES (3L, 'c', 7.5D, 'x'), (4L, 'd', NULL, 'y') AS t(k, v, w, tag)"
    )
    t.append(wide)
    for version in (0, 1):
        files = [os.path.join(p, a["file"]) for a in t.snapshot_files(version)]
        want = spark.read.option("mergeSchema", "true").parquet(*files)
        got = t.read(version)
        assert got.columns == want.columns
        assert [f.dataType for f in got.schema] == [f.dataType for f in want.schema]
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert t.read().columns == ["k", "v", "w", "tag"]


def test_merge_decimal_keys_across_digit_boundary(spark, tmp_path):
    """Decimal key bounds compare in numeric order: the file spanning
    99.00-100.50 overlaps an update keyed 100.00 (as strings, '99.00' >
    '100.00' would carry the file over and duplicate the key)."""
    p = str(tmp_path / "t")

    def rows(values):
        return spark.sql(
            f"SELECT CAST(k AS DECIMAL(10,2)) AS k, v FROM VALUES {values} AS t(k, v)"
        ).coalesce(1)

    t = TxnTable.create(spark, p, rows("('99.00', 'a'), ('100.00', 'b'), ('100.50', 'c')"), ["k"])
    t.append(rows("('200.00', 'z')"))
    df, files_read, _ = t.pruned_read({"k": (Decimal("100.00"), Decimal("100.00"))})
    assert files_read == 1 and [r["v"] for r in df.collect()] == ["b"]

    rep = t.merge(rows("('100.00', 'B')"))
    assert rep["files_rewritten"] == 1 and rep["files_skipped"] == 1
    got = sorted((str(r["k"]), r["v"]) for r in t.read().collect())
    assert got == [("100.00", "B"), ("100.50", "c"), ("200.00", "z"), ("99.00", "a")]

    # an update batch with no key bounds (here: no rows) cannot rule a
    # file out and leaves the snapshot as it was
    t.merge(rows("('1.00', 'x')").limit(0))
    assert sorted((str(r["k"]), r["v"]) for r in t.read().collect()) == got
