#!/bin/bash
# Same-window in-suite A/B: full bench.py runs interleaved across two trees
# (base, head, base, head, ...) on the same host in one window, so host
# drift lands on both sides. Every run's full record (incl. steal_pct and
# queries_steal_pct) and its stdout/stderr are archived under $OUT_DIR as
# {base,head}_<leg>.{json,stdout,stderr}; quote min-of-legs per side with
# the records' steal figures.
#
# Usage: BASE_DIR=<baseline checkout> OUT_DIR=<archive dir> ./ab.sh
#   HEAD_DIR defaults to this script's tree. Two legs per side.
#   SPARK_GRAFT_SF_DIR and SPARK_GRAFT_CPUS pass through to bench.py.
#   Make the baseline with `git clone` or `git archive` of the base commit.
#
# Workload mode: BASE_DIR=... OUT_DIR=... ./ab.sh <workload> [pairs] [seed]
#   Runs `perfbench/run.py --workload <workload> --seed <seed> --seconds 10
#   --trace 0` for <pairs> pairs (default 10; seed default 1, run.py's own
#   default), alternating which tree runs first in each pair, archives
#   {base,head}_<pair>.{stdout,stderr} and prints each side's median and
#   quartiles and the head's wins per pair (lower wins, ties count for
#   neither) for setup_s, cpu_s and exec_cpu_s, plus the steal_pct range and
#   every run's correct/failed. One verdict line per metric follows: the
#   median gap (base - head), the base's q3-q1, the head's wins, and whether
#   a gain claim holds (wins >= 0.9 x pairs and gap > base q3-q1). An
#   information line with each side's median record-only wall_s (from the
#   full record) comes last, with no verdict.
set -u
HERE=$(cd "$(dirname "$0")" && pwd)
BASE_DIR=${BASE_DIR:?set BASE_DIR to a checkout of the baseline commit}
HEAD_DIR=${HEAD_DIR:-$HERE}
OUT_DIR=${OUT_DIR:?set OUT_DIR to the directory that archives the records}
mkdir -p "$OUT_DIR" && OUT_DIR=$(cd "$OUT_DIR" && pwd)
if [ $# -ge 1 ]; then
  WORKLOAD=$1 PAIRS=${2:-10} SEED=${3:-1}
  runw() { # runw <dir> <tag>
    ( cd "$1" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$SEED" --seconds 10 --trace 0 \
        > "$OUT_DIR/$2.stdout" 2> "$OUT_DIR/$2.stderr" )
    echo "done $2"
  }
  for i in $(seq 1 "$PAIRS"); do
    if [ $((i % 2)) -eq 1 ]; then
      runw "$BASE_DIR" "base_$i"; runw "$HEAD_DIR" "head_$i"
    else
      runw "$HEAD_DIR" "head_$i"; runw "$BASE_DIR" "base_$i"
    fi
  done
  python3 - "$OUT_DIR" "$PAIRS" <<'EOF'
import json, os, statistics, sys

out, pairs = sys.argv[1], int(sys.argv[2])


def lines(tag):
    """(full record, result) of one run: its last two stdout lines."""
    with open(os.path.join(out, f"{tag}.stdout")) as fh:
        rec, res = fh.read().splitlines()[-2:]
    return json.loads(rec), json.loads(res)


runs = {side: [lines(f"{side}_{i}") for i in range(1, pairs + 1)] for side in ("base", "head")}
steal = [rec["host"]["steal_pct"] for side in runs.values() for rec, _ in side]
print(f"steal_pct {min(steal):.1f}-{max(steal):.1f}")
for side, rs in runs.items():
    print(side, "correct/failed", [(res["correct"], res["failed"]) for _, res in rs])
verdicts = []
for m in ("setup_s", "cpu_s", "exec_cpu_s"):
    vals = {side: [res["metrics"][m]["value"] for _, res in rs] for side, rs in runs.items()}
    wins = sum(h < b for b, h in zip(vals["base"], vals["head"]))
    stats, quart = [], {}
    for side in ("base", "head"):
        q1, med, q3 = quart[side] = statistics.quantiles(vals[side], n=4, method="inclusive")
        stats.append(f"{side} {med:.2f} (q1 {q1:.2f}, q3 {q3:.2f})")
    print(f"{m}: {'; '.join(stats)}; head wins {wins}/{pairs}")
    # a gain needs >= 9/10 wins and a median gap wider than the base's own
    # interquartile spread
    gap, iqr = quart["base"][1] - quart["head"][1], quart["base"][2] - quart["base"][0]
    holds = wins >= 0.9 * pairs and gap > iqr
    verdicts.append(
        f"{m} verdict: median gap {gap:+.2f}, base q3-q1 {iqr:.2f},"
        f" head wins {wins}/{pairs}: gain {'holds' if holds else 'not shown'}"
    )
print("\n".join(verdicts))
# record-only wall time, no verdict: shows whether a CPU gain traded wall
walls = {
    side: statistics.median(rec["end_to_end"]["wall_s"]["value"] for rec, _ in rs)
    for side, rs in runs.items()
}
print(f"wall_s (info): base median {walls['base']:.2f}; head median {walls['head']:.2f}")
EOF
  exit
fi
run() { # run <dir> <tag>
  local dir=$1 tag=$2
  ( cd "$dir" && SPARK_GRAFT_SOLO=1 \
      SPARK_GRAFT_BENCH_FULL="$OUT_DIR/${tag}.json" \
      python bench.py > "$OUT_DIR/${tag}.stdout" 2> "$OUT_DIR/${tag}.stderr" )
  echo "done ${tag} steal=$(python3 -c "import json;print(json.load(open('$OUT_DIR/${tag}.json')).get('steal_pct'))" 2>/dev/null)"
}
for leg in 1 2; do
  run "$BASE_DIR" "base_${leg}"
  run "$HEAD_DIR" "head_${leg}"
done
echo AB-DONE
