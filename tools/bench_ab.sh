#!/bin/bash
# Paired-binaries bench A/B: graft.Bench on two commits, same host, same
# minutes.
#
# Floors from other days measure the host, not the code: a same-host A/B
# once showed code that read "+13%/+27%" against older committed floors
# to be ~2.4% FASTER. This script exports OLD_SHA with `git archive`,
# compiles both sides, and runs the same query subset ALTERNATING old/new
# binaries (each pass pairs the two sides inside the same minutes of host
# weather, and which side goes first alternates by pass), then writes
# per-query paired min ratios to OUT, and the median over passes of each
# pass's own new/old ratio. The min-of-minimums ratio is set by the one
# luckiest run of either side; the per-pass median is the steadier read.
# Judge regressions on these ratios (<= 1.05 = clean). A query that fails
# any run on either side is listed under `failed`, makes the result
# unclean and the script exit 1 (tools/bench_ab_merge.py).
#
# Usage: QUERIES=q1,q2 tools/bench_ab.sh [OLD_SHA]
#   OLD_SHA defaults to HEAD^ (the parent of the change under test)
# Env:
#   QUERIES  comma list of SparkEntry query names (required)
#   PASSES   alternating passes per binary (default 3)
#   RUNS     Bench runs per query per pass (default 2)
#   OUT      output file (default /tmp/BENCH_AB.json)
set -euo pipefail
cd "$(dirname "$0")/.."

if [[ -z "${QUERIES:-}" ]]; then
  echo "[bench_ab] set QUERIES=q1,q2,... (the flows the change touches)" >&2
  exit 1
fi
OLD_SHA=$(git rev-parse "${1:-HEAD^}")
NEW_SHA=$(git rev-parse HEAD)
PASSES=${PASSES:-3}
RUNS=${RUNS:-2}
OUT=${OUT:-/tmp/BENCH_AB.json}
OLD_DIR=$(mktemp -d /tmp/graft_ab_old.XXXXXX)
echo "[bench_ab] old=$OLD_SHA new=$NEW_SHA"
echo "[bench_ab] subset: $QUERIES"

trap 'rm -rf "$OLD_DIR"' EXIT
git archive "$OLD_SHA" | tar -x -C "$OLD_DIR"

echo "[bench_ab] compiling both binaries"
sbt -batch compile >/dev/null
(cd "$OLD_DIR" && sbt -batch compile >/dev/null)

JAVA_OPTS=(
  -Xmx8g -XX:+UseG1GC
  --add-exports java.base/sun.nio.ch=ALL-UNNAMED
  --add-opens java.base/java.lang=ALL-UNNAMED
  --add-opens java.base/java.lang.invoke=ALL-UNNAMED
  --add-opens java.base/java.util=ALL-UNNAMED
  --add-opens java.base/java.nio=ALL-UNNAMED
  --add-opens java.base/sun.util.calendar=ALL-UNNAMED
  --add-opens java.base/java.io=ALL-UNNAMED
  --add-opens java.base/java.net=ALL-UNNAMED
  --add-opens java.base/java.util.concurrent=ALL-UNNAMED
  --add-opens java.base/sun.security.action=ALL-UNNAMED
)

run_side() {  # side classes_root pass
  local side=$1 root=$2 pass=$3
  local out="/tmp/bench_ab_${side}_${pass}.json"
  rm -f "$out"
  # a query name the old binary does not know is silently absent from its
  # JSON — the merge intersects, so mixed subsets are safe (a query that
  # FAILS stays in the JSON's `failed` list, which the merge reads)
  SPARK_GRAFT_ONLY="$QUERIES" SPARK_GRAFT_RUNS="$RUNS" \
  SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1} \
  SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(nproc)} \
  SPARK_GRAFT_BENCH_OUT="$out" \
    java "${JAVA_OPTS[@]}" -cp "$root/target/scala-2.13/classes:/opt/spark/jars/*" \
    graft.Bench >/dev/null 2>&1
  if [[ ! -s "$out" ]]; then
    echo "[bench_ab] FAILED: $side pass $pass produced no $out" >&2
    exit 1
  fi
}

# odd passes run old first, even passes new first, so an order effect
# (the second JVM of a pass reading slower) lands on both sides
for pass in $(seq 1 "$PASSES"); do
  if (( pass % 2 )); then order="old new"; else order="new old"; fi
  for side in $order; do
    echo "[bench_ab] pass $pass/$PASSES: $side"
    if [[ $side == old ]]; then run_side old "$OLD_DIR" "$pass"; else run_side new "$PWD" "$pass"; fi
  done
done

pass_files=()
for pass in $(seq 1 "$PASSES"); do
  pass_files+=("/tmp/bench_ab_old_${pass}.json" "/tmp/bench_ab_new_${pass}.json")
done
# exits 1 when any run of a query failed on either side
python3 tools/bench_ab_merge.py "$OUT" "$OLD_SHA" "$NEW_SHA" "${pass_files[@]}"
