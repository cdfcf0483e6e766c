#!/usr/bin/env python3
"""Steadiness evidence: run the benchmark over many seeds and summarize.

    python3 perfbench/steadiness.py --label set6 --runs 10 --first-seed 701 --traced 2
    python3 perfbench/steadiness.py --compare perfbench/baseline/set6.json \\
        perfbench/baseline/set7.json

A set runs ``perfbench/run.py`` once per seed for every workload of
BENCHMARK.json (``--traced K`` adds K traced runs per workload), exactly
as the benchmark's own contract prescribes, one run at a time. For every end-to-end metric of
the full record (bounded or not) it records the ten values, their
quartiles (``statistics.quantiles(n=4)``) and the spread
(q3 - q1) / median against the metric's bound. Traced runs
give the tracing overhead: median traced ``trace.wall_s`` minus median
untraced ``wall_s``. ``--compare`` checks that the two sets' medians
differ, in either direction, by no more than each bound, and flags sets
whose hosts differ in nproc or heap as not comparable.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.metrics import median, quartile_spread  # noqa: E402

#: host facts that must match for two results to be comparable
COMPARABLE = ("nproc", "heap")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def one_run(spec: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = [sys.executable if a == "python3" else a for a in spec["command"]]
    cmd += ["--workload", workload, "--seed", str(seed), "--seconds", str(spec["run_seconds"])]
    cmd += ["--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    out = {"seed": seed, "trace": trace, "rc": p.returncode, "elapsed_s": time.perf_counter() - t0}
    if p.returncode == 0 and len(lines) >= 2:
        out["result"] = json.loads(lines[-1])
        out["record"] = json.loads(lines[-2])
    else:
        out["stderr_tail"] = p.stderr[-2000:]
    return out


def summarize(spec: dict, runs: list[dict]) -> dict:
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    good = [r for r in runs if r.get("result") and r["trace"] == 0]
    out = {"runs": len([r for r in runs if r["trace"] == 0]), "ok_runs": len(good)}
    out["all_correct"] = all(r["result"]["correct"] for r in good) and len(good) == out["runs"]
    metrics = {}
    # the contract metrics with their bounds, then the record-only figures
    names = list(bounds) + [k for k in good[0]["record"]["end_to_end"] if k not in bounds] if good else []
    for name in names:
        bound = bounds.get(name)
        vals = [r["record"]["end_to_end"][name]["value"] for r in good]
        if len(vals) < 2:
            continue
        q1, q2, q3, spread = quartile_spread(vals)
        if not q2:  # a median of 0 (e.g. fail_ratio) has no relative spread
            spread = None
        metrics[name] = {
            "values": vals,
            "q1": q1,
            "median": q2,
            "q3": q3,
            "spread": spread,
            "bound": bound,
            "within_bound": None if bound is None or spread is None else spread <= bound,
            "below_third": None if bound is None or spread is None else spread < bound / 3,
        }
    out["metrics"] = metrics
    out["elapsed_s"] = [r["elapsed_s"] for r in runs if r["trace"] == 0]
    out["host"] = [r["record"]["host"] for r in good]
    traced = [r for r in runs if r.get("result") and r["trace"] == 1]
    if traced and good:
        tw = median([r["result"]["metrics"]["trace.wall_s"]["value"] for r in traced])
        out["tracing"] = {
            "traced_runs": len(traced),
            "traced_wall_s": tw,
            "untraced_wall_s": metrics["wall_s"]["median"],
            "overhead_s": tw - metrics["wall_s"]["median"],
            "per_layer": {
                k: median([r["result"]["metrics"][k]["value"] for r in traced])
                for k in traced[0]["result"]["metrics"]
            },
        }
    return out


def comparable(a: dict, b: dict) -> list[str]:
    """Host facts that differ between two sets (empty: comparable)."""
    diff = []
    for k in COMPARABLE:
        va = {json.dumps(h.get(k)) for w in a["workloads"].values() for h in w["host"]}
        vb = {json.dumps(h.get(k)) for w in b["workloads"].values() for h in w["host"]}
        if va != vb:
            diff.append(f"{k}: {sorted(va)} vs {sorted(vb)}")
    return diff


def compare(path_a: str, path_b: str) -> dict:
    with open(path_a) as fh:
        a = json.load(fh)
    with open(path_b) as fh:
        b = json.load(fh)
    out = {"not_comparable": comparable(a, b), "workloads": {}}
    for w, wa in a["workloads"].items():
        wb = b["workloads"].get(w)
        if not wb:
            continue
        rows = {}
        for name, ma in wa["metrics"].items():
            mb = wb["metrics"].get(name)
            if ma["bound"] is None or mb is None:
                continue
            differ = abs(mb["median"] - ma["median"]) / ma["median"]
            rows[name] = {
                "median_a": ma["median"],
                "median_b": mb["median"],
                "differ_by": differ,
                "bound": ma["bound"],
                "ok": differ <= ma["bound"],
            }
        out["workloads"][w] = rows
    out["all_ok"] = not out["not_comparable"] and all(
        r["ok"] for w in out["workloads"].values() for r in w.values()
    )
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--label")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=101)
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"))
    args = ap.parse_args(argv)
    if args.compare:
        res = compare(*args.compare)
        print(json.dumps(res, indent=1))
        return 0 if res["all_ok"] else 1
    spec = load_spec()
    names = args.workloads or [w["name"] for w in spec["workloads"]]
    out = {"label": args.label, "run_seconds": spec["run_seconds"], "workloads": {}}
    for w in names:
        runs = []
        for i in range(args.runs):
            runs.append(one_run(spec, w, args.first_seed + i, 0))
            r = runs[-1]
            print(w, r["seed"], r["rc"], round(r["elapsed_s"], 1),
                  json.dumps(r.get("result", {}).get("metrics")), file=sys.stderr, flush=True)
        for i in range(args.traced):
            runs.append(one_run(spec, w, args.first_seed + args.runs + i, 1))
        out["workloads"][w] = summarize(spec, runs)
        out["workloads"][w]["raw"] = runs
    os.makedirs(os.path.join(HERE, "baseline"), exist_ok=True)
    path = os.path.join(HERE, "baseline", f"{args.label}.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    brief = {
        w: {m: v["spread"] and round(v["spread"], 4) for m, v in s["metrics"].items()}
        for w, s in out["workloads"].items()
    }
    print(json.dumps({"written": os.path.relpath(path, ROOT), "spreads": brief}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
