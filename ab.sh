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
set -u
HERE=$(cd "$(dirname "$0")" && pwd)
BASE_DIR=${BASE_DIR:?set BASE_DIR to a checkout of the baseline commit}
HEAD_DIR=${HEAD_DIR:-$HERE}
OUT_DIR=${OUT_DIR:?set OUT_DIR to the directory that archives the records}
mkdir -p "$OUT_DIR" && OUT_DIR=$(cd "$OUT_DIR" && pwd)
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
