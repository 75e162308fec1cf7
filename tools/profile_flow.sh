#!/bin/bash
# CPU profile of one perfbench workload: where the samples go, by frame.
#
# Builds the checkout with perfbench/build.py, runs perfbench/run.py once
# with JDK Flight Recorder attached to the harness JVM (run.py launches it
# with this process's environment, so JAVA_TOOL_OPTIONS reaches it and no
# benchmark file changes), then prints the hottest frames of the
# jdk.ExecutionSample events: by self samples (the top frame of each
# stack) and by inclusive samples (stacks the frame appears in at all).
# Shares are of all samples of the run, and of the samples taken on
# Spark task threads alone (the task CPU the benchmark reports as
# tasks.cpu_s); the recording covers the whole JVM, session start and the
# untimed warm-up included.
#
# It then counts the run's jdk.ProcessStart events (child processes the
# JVM forked), by command and by the first graft or Spark frame that led
# to them, and how many had Hadoop's Shell on the stack: the local file
# system is meant to fork none (see graft.ForkFreeLocalFileSystem), so a
# nonzero Shell count is a regression.
#
# Usage: tools/profile_flow.sh <workload> <seed>
# Env:
#   TOP    frames per table (default 25)
#   OUT    directory for the recording, the run log and the decoded
#          samples (default .bench_build/profile)
set -euo pipefail
cd "$(dirname "$0")/.."

WORKLOAD=${1:?usage: tools/profile_flow.sh <workload> <seed>}
SEED=${2:?usage: tools/profile_flow.sh <workload> <seed>}
TOP=${TOP:-25}
OUT=$(realpath -m "${OUT:-.bench_build/profile}")
mkdir -p "$OUT"
NAME="$WORKLOAD-s$SEED"

python3 perfbench/build.py >/dev/null
echo "[profile] recording $WORKLOAD seed $SEED -> $OUT/$NAME.jfr" >&2
JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=$OUT/$NAME.jfr,settings=profile" \
  python3 perfbench/run.py --workload "$WORKLOAD" --seed "$SEED" --seconds 10 --trace 0 \
  >"$OUT/$NAME.log" 2>&1
tail -1 "$OUT/$NAME.log" >&2
jfr print --events jdk.ExecutionSample --stack-depth 512 "$OUT/$NAME.jfr" >"$OUT/$NAME.samples.txt"
jfr print --events jdk.ProcessStart --stack-depth 512 "$OUT/$NAME.jfr" >"$OUT/$NAME.processes.txt"

python3 - "$OUT/$NAME.samples.txt" "$OUT/$NAME.processes.txt" "$TOP" <<'EOF'
import re
import sys
from collections import Counter

samples_path, processes_path, top = sys.argv[1], sys.argv[2], int(sys.argv[3])


def events(path, field):
    """(value of `field`, [frame, ...] with the top frame first) for each
    event of a `jfr print` dump."""
    out, value, frames = [], None, None
    for line in open(path, errors="replace"):
        s = line.strip()
        if s.startswith(field + " = "):
            value = s[len(field) + 3:]
        elif s == "stackTrace = [":
            frames = []
        elif frames is not None and s == "]":
            out.append((value, frames))
            value, frames = None, None
        elif frames is not None and s and s != "...":
            # "pkg.Class.method(args) line: N" -> "pkg.Class.method"
            frames.append(re.sub(r"\(.*$", "", s.split(" line:")[0]))
    return out


samples = events(samples_path, "sampledThread")

# task-runner plumbing that sits under every task stack: left out of the
# inclusive table so the operators and kernels show
PLUMBING = re.compile(r"^(java\.lang\.Thread\.|java\.util\.concurrent\.|scala\.collection\."
                      r"|org\.apache\.spark\.(executor|scheduler|rdd|storage|shuffle)\."
                      r"|org\.apache\.spark\.util\.(Utils|SparkErrorUtils)"
                      r"|org\.apache\.spark\.TaskContext"
                      r"|org\.apache\.spark\.sql\.execution\.(BufferedRowIterator|WholeStageCodegen))")

def table(title, subset):
    n = len(subset)
    print(f"\n== {title}: {n} samples ==")
    if not n:
        return
    self_c = Counter(f[0] for _, f in subset if f)
    incl_c = Counter(m for _, f in subset for m in set(f) if not PLUMBING.match(m))
    print(f"-- top {top} by self samples")
    for m, c in self_c.most_common(top):
        print(f"{100.0 * c / n:6.1f}%  {m}")
    print(f"-- top {top} by inclusive samples (task-runner plumbing left out)")
    for m, c in incl_c.most_common(top):
        print(f"{100.0 * c / n:6.1f}%  {m}")

table("all threads", samples)
table("task threads", [x for x in samples if "Executor task launch worker" in (x[0] or "")])

starts = [((cmd or "?").strip('"'), f) for cmd, f in events(processes_path, "command")]


def caller(frames):
    """The first graft frame, else the first Spark frame, else the top one."""
    for prefix in ("graft.", "org.apache.spark."):
        for f in frames:
            if f.startswith(prefix):
                return f
    return frames[0] if frames else "?"


shell = sum(1 for _, f in starts if any(x.startswith("org.apache.hadoop.util.Shell") for x in f))
print(f"\n== processes started (jdk.ProcessStart): {len(starts)}, "
      f"{shell} with org.apache.hadoop.util.Shell on the stack ==")
if starts:
    print(f"-- top {top} by command")
    for c, n in Counter(cmd.split(" ")[0] for cmd, _ in starts).most_common(top):
        print(f"{n:7d}  {c}")
    print(f"-- top {top} by first graft or Spark caller frame")
    for c, n in Counter(caller(f) for _, f in starts).most_common(top):
        print(f"{n:7d}  {c}")
EOF
