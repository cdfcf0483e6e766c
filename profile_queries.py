"""Per-query profiler: plan capture, isolated timing and per-stage breakdown.

Measures each headline query on the presplit corpus (the layout bench.py
times against):
- the build wall (``Context.ref``, where the eager checkpoints run) and the
  bench action (xxhash64 agg collect, bench.py's methodology) separately,
  plus a rebuild + noop sink leg;
- executor CPU, shuffle bytes and task counts per stage from the app status
  store, each stage tagged with the phase (build or action) that ran it;
- ``.explain("formatted")`` of the final plan.

Writes ``PROFILE_<tag>.json`` and ``plans/<tag>/<query>.txt`` next to this
file and prints one summary line per query followed by its stage table
(heaviest CPU first).

Usage: SPARK_GRAFT_SF_DIR=<corpus dir> python profile_queries.py <tag> [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

from bench import HEADLINE, _presplit_corpus, retained_stages, stage_totals


def _stage_row(st, phase: str) -> dict:
    """One status-store stage as a JSON-ready row."""
    sub, done = st.submissionTime(), st.completionTime()
    wall = (
        round((done.get().getTime() - sub.get().getTime()) / 1e3, 3)
        if sub.isDefined() and done.isDefined()
        else None
    )
    return {
        "stage_id": st.stageId(),
        "phase": phase,
        "wall_sec": wall,
        "cpu_sec": round(st.executorCpuTime() / 1e9, 3),
        "run_sec": round(st.executorRunTime() / 1e3, 3),
        "shuffle_write_mb": round(st.shuffleWriteBytes() / 1e6, 3),
        "shuffle_read_mb": round(st.shuffleReadBytes() / 1e6, 3),
        "tasks": st.numCompleteTasks(),
        "name": str(st.name())[:100],
    }


def _stage_ids(spark) -> set[int]:
    return {st.stageId() for st in retained_stages(spark) or []}


def _print_stages(rows: list[dict]) -> None:
    print(
        f"{'sid':>5} {'phase':>6} {'wall':>6} {'cpu':>7} {'run':>7} "
        f"{'shW_MB':>7} {'shR_MB':>7} {'tasks':>5}  name"
    )
    for r in sorted(rows, key=lambda r: -r["cpu_sec"]):
        print(
            f"{r['stage_id']:>5} {r['phase']:>6} {r['wall_sec'] or 0.0:6.2f} "
            f"{r['cpu_sec']:7.2f} {r['run_sec']:7.2f} "
            f"{r['shuffle_write_mb']:7.1f} {r['shuffle_read_mb']:7.1f} "
            f"{r['tasks']:>5}  {r['name']}"
        )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if len(sys.argv) < 2 or not sf_dir:
        sys.exit(__doc__)
    tag = sys.argv[1]
    only = set(sys.argv[2:])

    from dbt_tpch_spark.plans import MODELS, Context, import_all_models
    from dbt_tpch_spark.session import get_spark

    import_all_models()
    spark = get_spark("dbt-tpch-spark-profile")
    sc = spark.sparkContext

    import tempfile

    here = os.path.dirname(os.path.abspath(__file__))
    plan_dir = os.path.join(here, "plans", tag)
    os.makedirs(plan_dir, exist_ok=True)
    results: dict[str, dict] = {}
    names = [n for n in HEADLINE if n in MODELS]
    if only:
        names = [n for n in names if n in only]
    with tempfile.TemporaryDirectory() as split_dir:
        _presplit_corpus(
            spark, sf_dir, split_dir,
            n_files=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        )
        Context(spark, split_dir).ref("ods_orders").count()  # warm JVM

        for name in names:
            before_build = _stage_ids(spark)
            sc.setJobDescription(f"{tag}:{name}:build")
            t0 = time.perf_counter()
            df = Context(spark, split_dir).ref(name)
            build_sec = time.perf_counter() - t0  # eager checkpoints run here
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(plan_dir, f"{name}.txt"), "w") as fh:
                fh.write(plan)
            before_action = _stage_ids(spark)
            sc.setJobDescription(f"{tag}:{name}:benchaction")
            t0 = time.perf_counter()
            df.agg(F.max(F.xxhash64(*df.columns))).collect()
            bench_sec = time.perf_counter() - t0
            stages = [
                _stage_row(st, "build" if st.stageId() in before_action else "action")
                for st in retained_stages(spark) or []
                if st.stageId() not in before_build
            ]
            # noop over a FRESH DAG (checkpoints from the first build reused;
            # rebuild to charge them again like the bench does)
            totals0 = stage_totals(spark)
            sc.setJobDescription(f"{tag}:{name}:rebuild+noop")
            t0 = time.perf_counter()
            Context(spark, split_dir).ref(name).write.format("noop").mode(
                "overwrite"
            ).save()
            noop_sec = time.perf_counter() - t0
            totals1 = stage_totals(spark)
            sc.setJobDescription(None)

            def cpu(phase: str) -> float:
                return round(sum(r["cpu_sec"] for r in stages if r["phase"] == phase), 2)

            results[name] = {
                "build_sec": round(build_sec, 3),
                "bench_action_sec": round(bench_sec, 3),
                "bench_total_sec": round(build_sec + bench_sec, 3),
                "noop_total_sec": round(noop_sec, 3),
                "cpu_build_sec": cpu("build"),
                "cpu_bench_sec": cpu("action"),
                "cpu_noop_sec": round((totals1[0] - totals0[0]) / 1e9, 2)
                if totals0 is not None and totals1 is not None
                else None,
                "n_exchange": plan.count("Exchange"),
                "n_python": plan.count("EvalPython") + plan.count("MapInArrow")
                + plan.count("MapInPandas"),
                "stages": stages,
            }
            print(
                f"\n== {name}: build {build_sec:6.2f} + action {bench_sec:6.2f} "
                f"= {build_sec + bench_sec:6.2f}s  noop {noop_sec:6.2f}s  "
                f"cpu {results[name]['cpu_build_sec']}+"
                f"{results[name]['cpu_bench_sec']}s  "
                f"exch {results[name]['n_exchange']} ==",
                flush=True,
            )
            _print_stages(stages)

    out = os.path.join(here, f"PROFILE_{tag}.json")
    with open(out, "w") as fh:
        json.dump(results, fh, indent=1, sort_keys=True)
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
