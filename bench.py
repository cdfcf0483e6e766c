"""Benchmark runner: executes the engine's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Timing model: per query, force full execution with a count-style action over
all columns; the model DAG is rebuilt per query (cold Catalyst plan) but the
SparkSession/JVM is shared, mirroring how the reference amortizes one
warehouse connection across its dbt DAG (reference: profiles.yml threads).
"""

from __future__ import annotations

import json
import os
import time
import traceback

from pyspark.sql import functions as F


def retained_stages(spark) -> list | None:
    """Every stage the app status store retains, as JVM ``StageData``
    objects, after draining the listener bus so just-finished stages are
    in. This is the one walk over the status store: bench.py's per-query
    CPU, scale_probe.py's cost legs and profile_queries.py's per-stage
    table all read it. None when the internal API is unavailable (the
    callers still run)."""
    try:
        sc = spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        defaults = [
            getattr(store, f"stageList$default${i}")() for i in range(2, 6)
        ]
        stages = store.stageList(sc._jvm.java.util.ArrayList(), *defaults)
        return [stages.apply(i) for i in range(stages.size())]
    except Exception:
        return None


def stage_totals(spark) -> tuple[int, int] | None:
    """(executor CPU ns, shuffle write bytes) summed over the retained
    stages. Per-query deltas of these sums isolate one query's cost and
    make a contended record self-diagnosing: host contention inflates
    WALL uniformly while CPU stays flat, whereas a real plan regression
    inflates both."""
    stages = retained_stages(spark)
    if stages is None:
        return None
    return (
        sum(s.executorCpuTime() for s in stages),
        sum(s.shuffleWriteBytes() for s in stages),
    )


def _loadavg() -> list[float] | None:
    """1/5/15-minute host load — recorded before/after the run so a
    contended record is visibly contended instead of silently slow."""
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except Exception:
        return None


def _cpu_ticks() -> list[int] | None:
    """Aggregate /proc/stat cpu ticks (user..steal). In a VM guest,
    loadavg can read idle while the HYPERVISOR starves the vCPUs — steal
    ticks are the only guest-visible witness. The round-6/7 uniform
    1.4-1.6x wall+cpu inflation on untouched plans decomposed exactly
    this way (8.7% instantaneous steal measured under full load on an
    otherwise-idle guest)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except Exception:
        return None


def _steal_pct(before: list[int] | None, after: list[int] | None):
    """Percent of non-idle guest time the hypervisor stole between two
    _cpu_ticks() snapshots (None when unavailable)."""
    if before is None or after is None:
        return None
    d = [y - x for x, y in zip(before, after)]
    busy = sum(d) - d[3] - d[4]  # drop idle + iowait
    return round(d[7] / busy * 100, 2) if busy > 0 else None


def _jvm_pid(spark) -> int | None:
    """Process id of the session's JVM (None when it cannot be read)."""
    try:
        return int(spark._jvm.java.lang.ProcessHandle.current().pid())
    except Exception:
        return None


def _process_cpu_sec(jvm_pid: int | None) -> float | None:
    """Process-level CPU seconds so far: the JVM's
    utime+stime+cutime+cstime from /proc/<jvm_pid>/stat plus this Python
    driver's ``time.process_time()``. Per-query deltas show what executor
    CPU (``queries_cpu_sec``) leaves out: forked helper processes once
    reaped (Hadoop's readlink/chmod), JIT, GC and driver-side planning.
    Long-lived Python workers are not counted: the PySpark daemon and its
    workers outlive the query, and a child's CPU reaches cutime/cstime
    only when it is reaped. None when the JVM's stat is unreadable."""
    if jvm_pid is None:
        return None
    try:
        with open(f"/proc/{jvm_pid}/stat") as fh:
            # fields after the parenthesized comm; utime..cstime are 14-17
            fields = fh.read().rsplit(")", 1)[1].split()
        ticks = sum(int(x) for x in fields[11:15])
    except (OSError, IndexError, ValueError):
        return None
    return ticks / os.sysconf("SC_CLK_TCK") + time.process_time()


def _calib_work(_arg=None) -> int:
    x = 0
    for i in range(20_000_000):
        x += i
    assert x == 199999990000000
    return x


def _calibrate() -> tuple[float, float, float | None]:
    """(serial_sec, parallel_sec, effective_cores) for a FIXED pure-Python
    workload — the guest-CPU speedometer. steal_pct only witnesses
    preemption; a host co-scheduling the guest's vCPU siblings with other
    tenants halves PARALLEL capacity with steal ~0 and single-thread speed
    intact (round-7 adjudication: 32 vCPUs delivering 15.4 effective
    cores while serial calib ran full speed — exactly the uniform 1.5x
    wall inflation the r6/r7 solo records showed on identical plans).
    effective_cores = n_procs * serial/parallel."""
    import multiprocessing as mp

    t0 = time.perf_counter()
    _calib_work()
    serial = time.perf_counter() - t0
    n = min(32, os.cpu_count() or 1)
    try:
        with mp.Pool(n) as pool:
            t0 = time.perf_counter()
            pool.map(_calib_work, range(n))
            par = time.perf_counter() - t0
        eff = round(n * serial / par, 1) if par > 0 else None
    except Exception:
        par, eff = None, None
    return (
        round(serial, 3),
        round(par, 3) if par is not None else None,
        eff,
    )


#: corpus tables worth re-laying-out before timing (see _presplit_corpus)
SPLIT_TABLES = ("lineitem", "orders", "events", "documents", "embeddings", "customer", "part")


def _presplit_corpus(spark, sf_dir: str, out_dir: str, n_files: int) -> float:
    """Rewrite the corpus into multi-file parquet before timing.

    The driver's corpus ships every table as ONE parquet file with ONE row
    group (PLANS.md note 8), so a scan can never run wider than one task —
    a corpus artifact, not a plan property: production files carry a row
    group per ~128 MB and split across tasks. Re-laying the feedstock out
    once (like any warehouse ingests raw data before querying; the
    reference's own loaders do exactly this, scripts/generate_data*.py)
    lets the bench measure the engine's parallel plans instead of the
    artifact. The rewrite cost is reported separately as setup_split_sec.
    """
    import shutil

    start = time.perf_counter()
    for t in SPLIT_TABLES:
        src = f"{sf_dir}/{t}.parquet"
        if not os.path.exists(src):
            continue
        spark.read.parquet(src).repartition(n_files).write.mode("overwrite").parquet(
            f"{out_dir}/{t}.parquet"
        )
    # remaining dims are broadcast-sized; link them through unchanged
    for t in ("region", "nation", "supplier"):
        src = f"{sf_dir}/{t}.parquet"
        if os.path.exists(src):
            shutil.copyfile(src, f"{out_dir}/{t}.parquet")
    return time.perf_counter() - start


#: headline queries — the flagship TPC-H report, the heaviest relational
#: models, and one representative of each extension-operator family.
HEADLINE = [
    "rpt_pricing_summary",
    "fct_orders",
    "fct_orders_items",
    "dim_customer",
    "int_market_basket",
    "customer_rfm_segments",
    "monthly_revenue_kpis",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "events_session_30m",
    "doc_text_stats",
    # one representative per round-1 extension family
    "events_asof_last_click",
    "doc_pack_sequences",
    "kmeans_cells",
    "docs_bm25_topk",
    "events_gapfill_hourly",
    "parts_pagerank",
    "ann_pq_adc_topk",
    "tpch_q05_local_supplier_volume",
    "events_hll_users",
    # round-3 additions
    "rpt_minimum_cost_suppliers_adapted",
    "embeddings_pca_variance",
    "doc_repetition_stats",
    # late-round-3: the substring-dup family representative
    "docs_winnow_dups",
    # round-4 additions: bucketed-Pareto report + graph node similarity
    "customer_concentration_risk",
    "parts_neighbor_similarity",
    # round-4 exact-similarity-join representative (prefix-filtered
    # PPJoin — the no-false-negative dedup path)
    "dedup_ppjoin",
    # round-4 statistics-family representative (bounded contingency
    # cells + broadcast margins — zero windows)
    "events_chi_square",
    # round-8 additions: the partsupp-proxy 5-way dim flattening (one pair
    # shuffle + hint-free dims) and the mergeable-quantile-sketch proof
    "dim_part_supplier_xrf_adapted",
    "events_qsketch_merge_check",
    # round-9 additions: the readStream transport-dedup witness (state =
    # O(rate x watermark window)) and the regex PII census (map-only scan
    # + one source-grain aggregate)
    "events_stream_dedup",
    "docs_pii_census",
    # round-10 addition: the production multi-batch ingest dedup (3
    # TxnTable commits + per-batch incremental verify — the wall is the
    # WHOLE ingest cycle including index persistence, deliberately)
    "dedup_multibatch_txn",
    # round-11 addition: b-bit signature compaction estimator (no new
    # pair stage — rides the LSH candidates; the cost is two sig joins)
    "dedup_bbit_minhash",
    # round-11 addition: positional duplicate spans — the span-level dedup
    # signal (no pair stage; shingle census + doc_id-local islands)
    "docs_dup_spans",
    # round-11 addition: the excision rewrite (cut the duplicated span,
    # keep the doc) — census + islands + checkpointed span frame +
    # left_anti token cut + per-doc reassembly
    "docs_excise_spans",
]

#: the round-2 headline set (first 20 entries) — reported as a separate
#: subtotal so cross-round driver records compare like-for-like even as
#: HEADLINE grows (VERDICT r3 "What's wrong" #4)
STABLE_SUBSET = HEADLINE[:20]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])

    from dbt_tpch_spark.functions import release_barriers
    from dbt_tpch_spark.plans import MODELS, Context, import_all_models
    from dbt_tpch_spark.session import get_spark

    import_all_models()
    spark = get_spark("dbt-tpch-spark-bench")

    names = [n for n in HEADLINE if n in MODELS]

    import tempfile

    errors: dict[str, str] = {}
    with tempfile.TemporaryDirectory() as split_dir:
        try:
            split_sec = _presplit_corpus(
                spark, sf_dir, split_dir, n_files=int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
            )
            data_dir = split_dir
        except Exception:
            errors["_presplit"] = traceback.format_exc()[-500:]
            split_sec, data_dir = 0.0, sf_dir

        # warm the JVM + parquet footers once with the cheapest model
        Context(spark, data_dir).ref("ods_orders").count()

        load_before = _loadavg()
        ticks_before = _cpu_ticks()
        calib_sec, calib32_sec, effective_cores = _calibrate()

        timings: dict[str, float] = {}
        cpu_secs: dict[str, float] = {}
        proc_cpu_secs: dict[str, float] = {}
        jvm_pid = _jvm_pid(spark)
        total = 0.0
        cpu_before = stage_totals(spark)
        # per-query steal attribution (round 10): the host's bursts are
        # shorter than a run, so a single run-level steal_pct hides WHICH
        # walls were taxed — a per-query /proc/stat delta names them
        query_steal: dict[str, float] = {}
        for name in names:
            q_ticks = _cpu_ticks()
            q_proc = _process_cpu_sec(jvm_pid)
            start = time.perf_counter()
            try:
                df = Context(spark, data_dir).ref(name)
                # force full materialization of every column (count() alone
                # would let Catalyst prune the plan down to nothing)
                df.agg(F.max(F.xxhash64(*df.columns))).collect()
                elapsed = time.perf_counter() - start
            except Exception:
                # one broken query must not zero the whole bench record
                errors[name] = traceback.format_exc()[-500:]
                elapsed = None
            # read before the status-store walk, whose cost is not the query's
            proc_after = _process_cpu_sec(jvm_pid)
            if q_ticks is not None:
                qs = _steal_pct(q_ticks, _cpu_ticks())
                if qs is not None:
                    query_steal[name] = qs
            cpu_after = stage_totals(spark)
            if elapsed is not None:
                timings[name] = round(elapsed, 3)
                total += elapsed
                if cpu_before is not None and cpu_after is not None:
                    cpu_secs[name] = round((cpu_after[0] - cpu_before[0]) / 1e9, 3)
                if q_proc is not None and proc_after is not None:
                    proc_cpu_secs[name] = round(proc_after - q_proc, 3)
            cpu_before = cpu_after
            # the query is acted on and measured: free its barrier blocks
            # so they do not crowd the next query's executor memory
            release_barriers(spark)

        # full-DAG warehouse build: the engine analogue of the reference's
        # headline number (`dbt build`, all models, threads=4 —
        # BASELINE.md row 1)
        from dbt_tpch_spark.warehouse import build_warehouse

        full_build, n_tables = None, 0
        dag_timings: dict = {}
        try:
            with tempfile.TemporaryDirectory() as d:
                start = time.perf_counter()
                paths = build_warehouse(
                    spark,
                    data_dir,
                    d,
                    parallelism=4,
                    layers=("ods", "wh", "intermediate", "metrics", "reports", "extended"),
                    timings=dag_timings,
                )
                full_build = round(time.perf_counter() - start, 3)
                n_tables = len(paths)
        except Exception:
            errors["_full_dag_build"] = traceback.format_exc()[-500:]

    # a failed query's time is omitted from `value`, so a partial total must
    # never be read as a speedup: n_failed flags it and `value` goes null
    # when any headline query (not just setup steps) failed
    n_failed = sum(1 for k in errors if not k.startswith("_"))
    record = {
        "metric": "headline_queries_total_sec",
        "value": None if n_failed else round(total, 3),
        "unit": "sec",
        "queries": timings,
        # executor CPU seconds per query (stage-sum deltas): flat CPU with
        # inflated wall = host contention; both inflated = plan regression
        "queries_cpu_sec": cpu_secs,
        # process CPU per query (JVM incl. reaped children + Python
        # driver): the excess over queries_cpu_sec is fork, JIT, GC and
        # driver overhead, visible without a profiler
        "queries_proc_cpu_sec": proc_cpu_secs,
        "sf": sf,
        "n_queries": len(names),
        "n_failed": n_failed,
        # driver runs share the box with a second 32-thread JVM (observed
        # 2-5x per-query inflation); solo runs are the comparable numbers
        "solo": os.environ.get("SPARK_GRAFT_SOLO", "0") == "1",
        # like-for-like cross-round comparator: sum over the fixed round-2
        # query set only (null if any of those 20 failed)
        "stable20_subtotal_sec": (
            None
            if any(n not in timings for n in STABLE_SUBSET)
            else round(sum(timings[n] for n in STABLE_SUBSET), 3)
        ),
        "full_dag_build_sec": full_build,
        "full_dag_tables": n_tables,
        # wall decomposition of the full-DAG phase (VERDICT r9 #5): per-
        # table walls (overlapping — up to 4 concurrent writes) and one
        # build row {"n_tables", "sec"}, so a cross-round drift is
        # attributable to a table instead of a mystery. Full record only —
        # far too large for the compact stdout budget.
        "dag_tables": dag_timings.get("tables", {}),
        "dag_levels": dag_timings.get("levels", []),
        "setup_split_sec": round(split_sec, 3),
        # host load before/after: a contended record is visibly contended
        "loadavg_before": load_before,
        "loadavg_after": _loadavg(),
        # hypervisor steal over the whole run: the guest-invisible
        # contention channel (loadavg can be ~0 while the host starves
        # the vCPUs) — >5% here means wall/cpu numbers are host-taxed
        "steal_pct": _steal_pct(ticks_before, _cpu_ticks()),
        # guest-CPU speedometer (fixed workload, serial + 32-way): the
        # host's effective parallel capacity varies (observed 15-32
        # effective cores on a 32-vCPU guest), which is why walls are only
        # compared inside one same-window A/B (ab.sh), never across runs
        "calib_sec": calib_sec,
        "calib32_sec": calib32_sec,
        "effective_cores": effective_cores,
        # per-query hypervisor-steal deltas: names the taxed walls
        "queries_steal_pct": query_steal,
    }
    if errors:
        record["errors"] = errors

    # The driver keeps only the LAST ~1.8 KB of stdout, so the full record
    # (~5 KB by round 8) arrived truncated and unparseable (BENCH_r07/r08
    # "parsed": null — VERDICT r8 #7). Split the emission: the FULL record
    # goes to a sidecar file next to this script; stdout gets a COMPACT
    # record (headline + per-query walls + capacity) that fits the
    # driver's tail window, with a pointer to the sidecar.
    here = os.path.dirname(os.path.abspath(__file__))
    full_path = os.environ.get(
        "SPARK_GRAFT_BENCH_FULL", os.path.join(here, "BENCH_LAST_FULL.json")
    )
    try:
        with open(full_path, "w") as fh:
            json.dump(record, fh)
    except OSError:
        full_path = None
    print(json.dumps(compact_record(record, full_path)))


#: Hard byte budget for the stdout record. The driver keeps ~1.8 KB of
#: stdout tail; round 9's record was already ~1.3 KB and grows with every
#: headline query plus unbounded error lists on failing rounds — exactly
#: the rounds a parseable record matters most (round-9 ADVICE). The guard
#: degrades gracefully: truncate error lists first, then drop the
#: per-query map (counts + the full-record pointer always survive).
_COMPACT_BUDGET = 1600


def compact_record(record: dict, full_path: str | None) -> dict:
    """The stdout-sized projection of the full bench record, guaranteed
    (and tested) to serialize under ``_COMPACT_BUDGET`` bytes."""
    compact = {
        k: record[k]
        for k in (
            "metric",
            "value",
            "unit",
            "queries",
            "sf",
            "n_queries",
            "n_failed",
            "solo",
            "stable20_subtotal_sec",
            "full_dag_build_sec",
            "full_dag_tables",
            "effective_cores",
            "steal_pct",
        )
        if k in record
    }
    compact["full_record"] = full_path
    errors = record.get("errors", {})
    if errors:
        # match n_failed's definition: underscore keys are setup steps
        # (_presplit, _full_dag_build), not benched queries
        q_errs = sorted(k for k in errors if not k.startswith("_"))
        if q_errs:
            compact["error_queries"] = q_errs
        s_errs = sorted(k for k in errors if k.startswith("_"))
        if s_errs:
            compact["error_setup_steps"] = s_errs

    def _size() -> int:
        return len(json.dumps(compact))

    for key, keep in (("error_queries", 5), ("error_setup_steps", 3)):
        if _size() <= _COMPACT_BUDGET:
            break
        names = compact.get(key)
        if names and len(names) > keep:
            compact[key] = names[:keep]
            compact[f"{key}_elided"] = len(names) - keep
    if _size() > _COMPACT_BUDGET:
        # the per-query walls live on in the sidecar; counts stay here
        compact.pop("queries", None)
        compact["queries_elided_see_full_record"] = True
    return compact


if __name__ == "__main__":
    main()
