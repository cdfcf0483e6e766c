#!/usr/bin/env python3
"""Prove the stored digests once against the DuckDB oracle.

    python3 perfbench/verify.py [--seeds 1 7] [--all]

For every ``llm_ops`` query and every ``dag_build`` table (``--all``: every
operators/streaming entry of ``bench.HEADLINE`` and every table model):

1. generate the corpus for each seed (different file layouts, same rows);
2. under the first seed, compare the engine's answer with
   ``__spark_entry__.oracle_sql()`` run by DuckDB on the same files (row
   count, schema and order-insensitive values — the parity harness's
   rules), timing the oracle;
3. digest the answer under every seed — ``dag_build`` tables as
   ``build_warehouse`` writes them — and require one digest for all seeds.

A digest is stored in ``perfbench/digests.json`` only when the oracle
matched and the seeds agreed; anything else is printed as a finding and
left out, so a run over it counts as failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def duckdb_views(corpus: str):
    import duckdb

    from perfbench.inputs import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet/*.parquet')"
        )
    return con


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 7])
    ap.add_argument("--all", action="store_true", help="every headline query and table model")
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    from perfbench import run as R

    if R.import_engine() is None:
        print("dbt_tpch_spark is not in this checkout", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"verify-{os.getpid()}")
    cores = os.cpu_count() or 1
    R.prepare_env(work, cores)

    import __spark_entry__ as entry
    from dbt_tpch_spark.parity import compare_frames
    from dbt_tpch_spark.plans import MODELS, Context
    from dbt_tpch_spark.session import get_spark
    from dbt_tpch_spark.warehouse import build_warehouse

    from perfbench import checks, inputs
    from perfbench.workloads import DagBuild, LlmOps

    oracle = entry.oracle_sql()
    queries = list(LlmOps.QUERIES)
    layers = DagBuild.LAYERS
    if args.all:
        import bench

        queries = [n for n in bench.HEADLINE if MODELS[n].layer in ("operators", "streaming")]
        layers = ("ods", "wh", "intermediate", "metrics", "reports", "extended")
    spark = get_spark("perfbench-verify", shuffle_partitions=cores)
    corpora = {}
    for s in args.seeds:
        corpora[s] = os.path.join(work, f"seed{s}")
        inputs.generate_corpus(s, corpora[s])
    first = args.seeds[0]
    report: dict = {}
    stored = {"llm_ops": {}, "dag_build": {}}
    try:
        con = duckdb_views(corpora[first])

        def judge(kind, name, frames):
            """frames: {seed: DataFrame} — oracle check on the first seed,
            digest on every seed."""
            rec = {"kind": kind}
            t0 = time.perf_counter()
            got = frames[first].toPandas()
            rec["spark_s"] = time.perf_counter() - t0
            if name in oracle:
                t0 = time.perf_counter()
                want = con.execute(oracle[name]).fetchdf()
                rec["oracle_s"] = time.perf_counter() - t0
                cmp = compare_frames(got, want)
                rec["oracle_match"] = bool(cmp["values_match"])
                if not cmp["values_match"]:
                    rec["mismatch"] = {k: cmp[k] for k in cmp if k not in ("cols_spark", "cols_oracle")}
            else:
                rec["oracle_match"] = None
            digests = {s: checks.digest_frame(df) for s, df in frames.items()}
            rec["rows"] = digests[first][0]
            rec["seed_invariant"] = len({json.dumps(d) for d in digests.values()}) == 1
            if not rec["seed_invariant"]:
                rec["digests"] = {str(s): d for s, d in digests.items()}
            if rec["oracle_match"] and rec["seed_invariant"]:
                stored[kind][name] = digests[first]
            report[name] = rec
            print(json.dumps({name: rec}, default=str), flush=True)

        for name in queries:
            judge("llm_ops", name, {s: Context(spark, c).ref(name) for s, c in corpora.items()})
        built = {}
        for s, c in corpora.items():
            built[s] = build_warehouse(spark, c, os.path.join(work, f"wh{s}"), parallelism=4, layers=layers)
        for name in sorted(built[first]):
            judge("dag_build", name, {s: spark.read.parquet(b[name]) for s, b in built.items()})
        con.close()
    finally:
        R.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    findings = {n: r for n, r in report.items() if not (r["oracle_match"] and r["seed_invariant"])}
    out = {
        "corpus": "perfbench/corpus (sf0.01)",
        "seeds": args.seeds,
        "llm_ops": stored["llm_ops"],
        "dag_build": stored["dag_build"],
        "verify": report,
        "findings": sorted(findings),
    }
    with open(checks.DIGESTS, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps({"verified": len(report) - len(findings), "findings": sorted(findings)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
