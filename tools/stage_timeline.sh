#!/bin/bash
# Stage timeline of one perfbench workload: per-stage wall, tasks, run and
# CPU time, how many task slots were busy, and the gaps with no task
# running, for the timed window only.
#
# Runs perfbench/run.py once with the Spark event log on. run.py hands its
# environment to the harness JVM and SparkConf reads spark.* system
# properties, so JAVA_TOOL_OPTIONS turns the log on and no benchmark file
# changes. The log, the run log and the report go to
# .bench_build/timeline/ (OUT= to move them); tools/stage_timeline.py
# reads the log. The event log adds a little overhead: never time a run
# taken this way.
#
# Usage: tools/stage_timeline.sh <workload> <seed>
# Env:
#   OUT     output directory (default .bench_build/timeline)
#   GAP_MS  shortest idle gap to list (default 20)
set -euo pipefail
cd "$(dirname "$0")/.."

WORKLOAD=${1:?usage: tools/stage_timeline.sh <workload> <seed>}
SEED=${2:?usage: tools/stage_timeline.sh <workload> <seed>}
OUT=$(realpath -m "${OUT:-.bench_build/timeline}")
NAME="$WORKLOAD-s$SEED"
LOGDIR="$OUT/$NAME.events"
rm -rf "$LOGDIR"
mkdir -p "$LOGDIR"

echo "[timeline] running $WORKLOAD seed $SEED, event log -> $LOGDIR" >&2
JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.compress=false -Dspark.eventLog.dir=file://$LOGDIR" \
  python3 perfbench/run.py --workload "$WORKLOAD" --seed "$SEED" --seconds 10 --trace 0 \
  >"$OUT/$NAME.log" 2>&1
tail -1 "$OUT/$NAME.log" >&2
# one file, or (Spark 4's default) a rolling-log directory
LOG=$(find "$LOGDIR" -mindepth 1 -maxdepth 1 | head -1)
if [[ -z "$LOG" ]]; then
  echo "[timeline] no event log written under $LOGDIR" >&2
  exit 1
fi
python3 tools/stage_timeline.py "$LOG" --gap-ms "${GAP_MS:-20}" | tee "$OUT/$NAME.txt"
