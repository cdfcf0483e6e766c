"""The three workloads. Each drives the engine only through its public
entry points — ``plans.Context.ref`` plus one action, ``warehouse.
build_warehouse``, ``tableformat.TxnTable`` methods and the ``streaming``
readers — one operation at a time from one client.

A workload's ``run_pass(run)`` runs one pass; ``run`` is the ``run.Run``
that records operations, spans and failures. Checks that are not the
workload's own reads run after the pass (``run.after_pass``), outside
its measurement; an optional ``prepare(run)`` computes expected answers
in set-up and its result is ``run.expected``. Passes are sized so one run
takes 33-40 s on a 4-vCPU host, about 15 s of it JVM start, session and
warm-up, so that 70 runs (two ten-seed sets per workload plus traced
runs) end within 3420 s.
"""

from __future__ import annotations

import os
import shutil
import time

from perfbench import checks
from perfbench.metrics import lane_idle_s, median
from perfbench.trace import progress_of


class LlmOps:
    """Model-registry queries: ``Context.ref`` (plan build, including the
    eager ``localCheckpoint`` barriers) then one full-column digest
    action. Writes nothing."""

    name = "llm_ops"

    #: bench.HEADLINE entries of layer operators/streaming that fit the
    #: run budget: three scan-aggregate operators, the streaming dedup
    #: witness, and the barrier-heavy similarity-join and graph plans.
    QUERIES = (
        "doc_text_stats",
        "docs_pii_census",
        "events_hll_users",
        "events_stream_dedup",
        "dedup_ppjoin",
        "parts_pagerank",
    )

    def run_pass(self, run) -> None:
        from dbt_tpch_spark.plans import Context

        want = run.digests.get(self.name, {})
        for name in self.QUERIES:
            with run.op(name, "query") as op:
                ctx = Context(run.spark, run.corpus)
                with run.tracer.span("Context.ref", "ref", model=name):
                    df = ctx.ref(name)
                if run.tracer.detailed:
                    op["retained_mb_after_ref"] = run.storage_mb()
                with run.tracer.span("digest", "action", model=name):
                    got = checks.digest_frame(df)
                run.expect(op, got, want.get(name))


class DagBuild:
    """The ods, wh and metrics layers of the model DAG written to parquet
    by ``build_warehouse`` in 4 lanes (dbt's ``threads: 4``). Operations
    are the table writes; the check reads every written table back and
    compares its digest."""

    name = "dag_build"
    LAYERS = ("ods", "wh", "metrics")
    LANES = 4

    def run_pass(self, run) -> None:
        from dbt_tpch_spark.plans import MODELS
        from dbt_tpch_spark.warehouse import build_warehouse

        want = run.digests.get(self.name, {})
        expected = sorted(
            n for n, m in MODELS.items() if m.materialization == "table" and m.layer in self.LAYERS
        )
        wh = os.path.join(run.work, f"warehouse_{run.pass_no}")
        timings: dict = {}
        with run.tracer.span("build_warehouse", "call"):
            try:
                paths = build_warehouse(
                    run.spark,
                    run.corpus,
                    wh,
                    parallelism=self.LANES,
                    layers=self.LAYERS,
                    timings=timings,
                )
            except Exception as exc:  # every table of the pass failed
                run.error("build_warehouse", exc)
                paths = {}
        tables = timings.get("tables", {})
        ops = []
        for name in expected:
            op = {"name": name, "kind": "table_write", "sec": tables.get(name), "ok": True}
            if name not in tables:
                run.fail(op, "not built")
            ops.append(op)
            run.add_op(op)

        def check():
            """Read every written table back and compare its digest —
            after the measured pass, so the check costs it nothing."""
            got = {}
            if paths:
                got = checks.digest_frames(
                    {n: run.spark.read.parquet(p) for n, p in sorted(paths.items())}
                )
            for op in ops:
                if op["ok"]:
                    run.expect(op, got.get(op["name"]), want.get(op["name"]))
            walls = list(tables.values())
            sizes = [
                os.path.getsize(os.path.join(d, f))
                for d, _, fs in os.walk(wh)
                for f in fs
                if f.endswith(".parquet")
            ]
            run.layer(
                {
                    "warehouse.level_s": sum(lv["sec"] for lv in timings.get("levels", [])),
                    "warehouse.table_p50_s": median(walls),
                    "warehouse.table_max_s": max(walls, default=0.0),
                    "warehouse.write_mb": sum(sizes) / 2**20,
                    "warehouse.files_written": len(sizes),
                    "warehouse.lane_idle_s": lane_idle_s(timings, self.LANES),
                }
            )
            shutil.rmtree(wh, ignore_errors=True)

        run.after_pass(check)


class TxnIngest:
    """A seeded ingest cycle on a ``TxnTable`` with a streaming leg: per
    step an append, a late-update merge, a range delete, one
    ``availableNow`` trigger of the event-id dedup stream over a newly
    landed events file, and a read-back (pruned range read + full
    snapshot aggregate); ``compact`` every ``COMPACT_EVERY`` steps. Every
    read, the final snapshot and the stream sink are checked against a
    DuckDB replay of the same operation log, run in set-up."""

    name = "txn_ingest"
    KEY = "o_orderkey"

    def prepare(self, run) -> dict:
        """The replay's answer to every check of a pass: per step the
        pruned and full read digests, then the final snapshot digest and
        the rows the dedup stream must have emitted."""
        replay = checks.TxnReplay(run.inputs["txn_dir"])
        reads = []
        for i, step in enumerate(run.inputs["txn"]["steps"]):
            replay.append(i)
            replay.merge(i)
            replay.delete(*step["delete_keys"])
            replay.land_events(i + 1)
            reads.append([replay.digest(*step["append_keys"]), replay.digest()])
        want = {"reads": reads, "final": replay.digest(), "stream_rows": replay.stream_rows()}
        replay.close()
        return want

    def run_pass(self, run) -> None:
        from dbt_tpch_spark.streaming.windows import streaming_dedup_by_event_id
        from dbt_tpch_spark.tableformat import TxnTable

        spark, tr = run.spark, run.tracer
        src = run.inputs["txn_dir"]
        steps = run.inputs["txn"]["steps"]
        want = run.expected
        root = os.path.join(run.work, f"txn_{run.pass_no}")
        stream_root = os.path.join(root, "stream")
        landing = os.path.join(stream_root, "events.parquet")
        os.makedirs(landing)
        acct = {"rewritten": 0, "skipped": 0}
        appends, commits = [], []  # versions: appends, every data-adding commit
        fresh: list[float] = []

        def f(name):
            return os.path.join(src, f"{name}.parquet")

        def land(i):
            shutil.copyfile(f(f"events_{i}"), os.path.join(landing, f"part-{i:05d}.parquet"))

        def trigger():
            q = (
                streaming_dedup_by_event_id(spark, stream_root)
                .writeStream.format("parquet")
                .option("path", os.path.join(root, "sink"))
                .option("checkpointLocation", os.path.join(root, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            if tr.detailed:
                run.stream_progress += progress_of(q)

        table = None
        with run.op("create", "txn"):
            with tr.span("TxnTable.create", "txn", method="create"):
                table = TxnTable.create(
                    spark, os.path.join(root, "table"), spark.read.parquet(f("initial")), key_cols=[self.KEY]
                )
        if table is None:  # nothing below can run: fail the whole run
            raise RuntimeError(f"TxnTable.create failed: {run.errors[-1]}")
        land(0)
        for i, step in enumerate(steps):
            t_land = time.perf_counter()
            with run.op("append", "txn"):
                with tr.span("TxnTable.append", "txn", method="append"):
                    appends.append(table.append(spark.read.parquet(f(f"append_{i}"))))
            for kind, call in (
                ("merge", lambda: table.merge(spark.read.parquet(f(f"update_{i}")))),
                ("delete", lambda: table.delete_where("{} BETWEEN {} AND {}".format(self.KEY, *step["delete_keys"]))),
            ):
                res = {}
                with run.op(kind, "txn"):
                    with tr.span(f"TxnTable.{kind}", "txn", method=kind):
                        res = call()
                acct["rewritten"] += res.get("files_rewritten", 0)
                acct["skipped"] += res.get("files_skipped", 0)
                # a merge always commits; a delete only when rows matched
                if res and (kind == "merge" or res["files_rewritten"]):
                    commits.append(res["version"])
            with run.op("stream", "stream"):
                land(i + 1)
                with tr.span("availableNow trigger", "trigger"):
                    trigger()
            a_lo, a_hi = step["append_keys"]
            got = []
            with run.op("read", "txn") as op:
                with tr.span("TxnTable.pruned_read", "txn", method="read"):
                    df, _, _ = table.pruned_read({self.KEY: (a_lo, a_hi)})
                    got.append(checks.txn_digest(df))
                with tr.span("TxnTable.read snapshot", "txn", method="snapshot"):
                    got.append(checks.txn_digest(table.read()))
            t_read = time.perf_counter()
            if op["ok"]:
                run.expect(op, got, want["reads"][i])
            if op["ok"]:
                fresh.append(t_read - t_land)
            if step["compact"]:
                res = {}
                with run.op("compact", "txn"):
                    with tr.span("TxnTable.compact", "txn", method="compact"):
                        res = table.compact()
                if res.get("files_compacted"):
                    commits.append(res["version"])

        def check():
            """The final snapshot and stream sink against the replay, and
            the write accounting from the commit log — after the measured
            pass, so none of it costs the pass."""
            final = {"name": "final_snapshot", "kind": "check", "sec": None, "ok": True}
            run.check(final, lambda: checks.txn_digest(table.read()), want["final"])
            run.add_op(final)
            sink = {"name": "final_stream", "kind": "check", "sec": None, "ok": True}
            run.check(sink, lambda: list(
                spark.read.parquet(os.path.join(root, "sink"))
                .selectExpr("count(*)", "count(DISTINCT event_id)")
                .collect()[0]
            ), [want["stream_rows"]] * 2)
            run.add_op(sink)
            history = table.history()

            def added(versions):
                """Bytes of the data files the commits ``versions`` added."""
                return sum(
                    os.path.getsize(os.path.join(table.path, a["file"]))
                    for v in versions
                    if v is not None
                    for a in history[v]["adds"]
                )

            appended = added(appends)
            touched = acct["rewritten"] + acct["skipped"]
            run.layer(
                {
                    "txn.freshness_s": median(fresh),
                    "tableformat.files_rewritten": acct["rewritten"],
                    "tableformat.skip_ratio": acct["skipped"] / touched if touched else 0.0,
                    "tableformat.write_amp": (appended + added(commits)) / appended if appended else 0.0,
                    "tableformat.snapshot_files": len(table.snapshot_files()),
                }
            )
            shutil.rmtree(root, ignore_errors=True)

        run.after_pass(check)


WORKLOADS = {w.name: w for w in (LlmOps, DagBuild, TxnIngest)}
