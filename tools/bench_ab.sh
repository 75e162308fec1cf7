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
# Judge regressions on these ratios (<= 1.05 = clean).
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
  # JSON — the merge intersects, so mixed subsets are safe
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

python3 - "$OUT" "$OLD_SHA" "$NEW_SHA" "$PASSES" <<'EOF'
import json, statistics, sys
out, old_sha, new_sha, passes = sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])
def per_pass(side):
    """[{query: min over the pass's runs}] per pass"""
    return [{q: v for q, v in (json.load(open(f"/tmp/bench_ab_{side}_{p}.json"))
                                .get("queries_min") or {}).items() if v is not None}
            for p in range(1, passes + 1)]
old_p, new_p = per_pass("old"), per_pass("new")
def mins(ps):
    acc = {}
    for d in ps:
        for q, v in d.items():
            acc.setdefault(q, []).append(v)
    return {q: min(vs) for q, vs in acc.items()}
old, new = mins(old_p), mins(new_p)
common = sorted(set(old) & set(new))
def pass_ratios(qs):
    rs = []
    for o, n in zip(old_p, new_p):
        if all(q in o and q in n for q in qs) and sum(o[q] for q in qs):
            rs.append(sum(n[q] for q in qs) / sum(o[q] for q in qs))
    return rs
def median(rs):
    return round(statistics.median(rs), 3) if rs else None
qs = {q: {"old_min": old[q], "new_min": new[q],
          "ratio": round(new[q] / old[q], 3),
          "ratio_pass_median": median(pass_ratios([q]))} for q in common}
minsum_old = sum(old[q] for q in common)
minsum_new = sum(new[q] for q in common)
ratio = round(minsum_new / minsum_old, 3) if minsum_old else None
ratios = pass_ratios(common)
result = {
    "metric": "bench_ab", "old_sha": old_sha, "new_sha": new_sha,
    "passes": passes, "paired": "old/new per pass, first side alternating, same host",
    "minsum_old": round(minsum_old, 3), "minsum_new": round(minsum_new, 3),
    "ratio_minsum": ratio, "clean": ratio is not None and ratio <= 1.05,
    "ratio_pass_median": median(ratios), "pass_ratios": [round(r, 3) for r in ratios],
    "new_only": sorted(set(new) - set(old)),
    "queries": qs,
}
with open(out, "w") as f:
    json.dump(result, f, separators=(",", ":"))
    f.write("\n")
flagged = {q: v["ratio"] for q, v in qs.items() if v["ratio"] > 1.2}
print(f"[bench_ab] wrote {out}: minsum {minsum_old:.2f} -> {minsum_new:.2f} "
      f"(ratio {ratio}, clean={ratio is not None and ratio <= 1.05}); "
      f"median of per-pass ratios {median(ratios)} over {[round(r, 3) for r in ratios]}")
if flagged:
    print(f"[bench_ab] per-query ratios > 1.2: {flagged}")
EOF
