#!/usr/bin/env python3
"""graft's benchmark: one workload per call, in a fresh JVM.

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 20 --trace 0

Builds graft from the checkout's sources (`build.py`), generates the
workload's inputs from the seed (`inputs.py`), runs the workload in a
fresh JVM (`src/Harness.scala`), checks every output against its DuckDB
oracle (`oracle.py`), writes the full per-flow and per-layer detail to
`.bench_build/results/`, and prints one JSON headline as the last line
of stdout. `--trace 0` reports the end-to-end metrics, `--trace 1` the
per-layer metrics. See README.md for the workloads and metrics.
"""
import argparse
import json
import math
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import inputs  # noqa: E402
import oracle  # noqa: E402

ROOT = HERE.parent
CORES = 4
JVM_TIMEOUT_S = 150
ORACLE_TIMEOUT_S = 20
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# batch_mix: flows per second of --seconds (cold, at local[4]). The
# sample itself is drawn with a fixed seed: a sample redrawn per run seed
# spread the makespan by 10-25% across seeds (different flows), more than
# any bound a regression check can use; the run seed orders the flows and
# generates the data.
BATCH_FLOWS_PER_S = 1.1
BATCH_SAMPLE_SEED = 1
# commit_upsert: flows per DirectOutput transaction (<= 4: the prepare
# pool stays within the core count), and cycles (one transaction + one
# change batch) per second of --seconds, rounded to whole rounds of the
# commit flows so every flow is committed equally often
TX_SIZE = 2
COMMIT_CYCLES_PER_S = 0.6

# the headline's end-to-end metrics; SUMMARY_ONLY ones are printed and
# kept in the detail file but are too unsteady across seeds to gate on
# (see README.md)
END_TO_END = {"setup_s": "s", "makespan_s": "s", "input_mb_per_s": "MB/s"}
SUMMARY_ONLY = {"flow_p50_s": "s", "flow_tail_s": "s", "commit_p50_ms": "ms", "commit_tail_ms": "ms",
                "peak_rss_mb": "MB"}
PER_LAYER = {
    "queries.build_s": "s", "plans.analysis_ms": "ms", "plans.optimizer_ms": "ms",
    "plans.physical_ms": "ms", "plans.executions": "count", "functions.compiles": "count",
    "functions.compile_ms": "ms", "functions.codegen_fallbacks": "count", "jobs.jobs": "count",
    "jobs.stages": "count", "jobs.tasks": "count", "jobs.task_retries": "count",
    "jobs.core_idle_share": "share", "tasks.run_s": "s", "tasks.cpu_s": "s", "tasks.gc_s": "s",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "shuffle.spill_mb": "MB", "shuffle.stage_skew": "ratio", "sources.scan_mb": "MB",
    "sources.scan_rows": "count", "sinks.prepare_s": "s", "sinks.commit_ms": "ms",
    "sinks.write_mb": "MB", "sinks.files": "count", "sinks.write_amplification": "ratio",
    "caches.leaked_rdds": "count", "caches.peak_storage_mb": "MB", "streaming.batches": "count",
    "streaming.batch_p50_ms": "ms", "jvm.gc_ms": "ms", "jvm.heap_peak_mb": "MB",
}


T0 = time.time()


def log(*a):
    print(f"[perfbench {time.time() - T0:6.1f}s]", *a, file=sys.stderr, flush=True)


# ---- statistics ---------------------------------------------------------

def tail(xs):
    """(value, percentile, n, rule_met): the highest percentile with at
    least 10 samples beyond it — the sample of rank n-10 in sorted order.
    Below 20 samples that percentile would not even reach the median, so
    the maximum is reported and rule_met is False."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return math.nan, None, 0, False
    if n < 20:
        return s[-1], 100, n, False
    r = n - 10
    return s[r - 1], math.floor(100 * r / n), n, True


def median(xs):
    return statistics.median(xs) if xs else math.nan


def headline(correct, attempted, failed, metrics):
    """The final stdout line: short, one JSON object."""
    for k in metrics:
        if not NAME_RE.match(k):
            raise ValueError(f"bad metric name {k!r}")
    return json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                       "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}},
                      separators=(",", ":"))


# ---- flow selection -----------------------------------------------------

def catalog():
    return json.loads((HERE / "catalog.json").read_text())


def batch_sample(cat, seed, n):
    """Stratified sample of `n` flows. The strata are the query modules,
    plus the `stream_*` flows as one more, so the streaming layer is
    always in the batch. Slots are split over the strata by size (largest
    remainder, >= 1 each); inside a stratum the flows are ranked by
    reference cost and cut into as many equal bins as it has slots, one
    flow drawn per bin."""
    rng = random.Random(f"sample/{seed}")
    mods = {}
    for name, f in sorted(cat["flows"].items()):
        mods.setdefault("stream" if name.startswith("stream_") else f["module"], []).append(name)
    total = sum(len(v) for v in mods.values())
    quota = {m: n * len(v) / total for m, v in mods.items()}
    slots = {m: max(1, int(q)) for m, q in quota.items()}
    for m in sorted(mods, key=lambda m: quota[m] - int(quota[m]), reverse=True):
        if sum(slots.values()) >= n:
            break
        slots[m] += 1
    picked = []
    for m, names in sorted(mods.items()):
        ranked = sorted(names, key=lambda x: (cat["flows"][x]["cost_s"], x))
        k = min(slots[m], len(ranked))
        for b in range(k):
            lo, hi = b * len(ranked) // k, (b + 1) * len(ranked) // k
            picked.append(ranked[rng.randrange(lo, hi)])
    return sorted(picked)


def batch_flows(cat, seed, n):
    """The batch: the fixed-seed sample, in the run seed's order."""
    flows = batch_sample(cat, BATCH_SAMPLE_SEED, n)
    random.Random(f"batch/{seed}").shuffle(flows)
    return flows


def commit_groups(cat, seed, seconds):
    """The commit loop's transactions, flattened: whole rounds of the
    commit flows, each round reshuffled by the seed and cut into groups of
    TX_SIZE. The loop runs one cycle per group."""
    rng = random.Random(f"commit/{seed}")
    per_round = len(cat["commit_flows"]) // TX_SIZE
    rounds = max(1, round(seconds * COMMIT_CYCLES_PER_S / per_round))
    flows = []
    for _ in range(rounds):
        r = list(cat["commit_flows"])
        rng.shuffle(r)
        flows += r[: per_round * TX_SIZE]
    return flows


# ---- run stamp ----------------------------------------------------------

def _java_pids():
    out = []
    for d in Path("/proc").iterdir():
        if d.name.isdigit():
            try:
                if (d / "comm").read_text().strip() == "java":
                    out.append(int(d.name))
            except OSError:
                pass
    return out


def _jiffies(pid):
    try:
        rest = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
        return int(rest[11]) + int(rest[12])
    except (OSError, IndexError, ValueError):
        return -1


def _cpu_jiffies():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    try:
        f = [int(x) for x in Path("/proc/stat").read_text().splitlines()[0].split()[1:9]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return 0, 0


def contention():
    """Sibling java JVMs, how many of them burn > 40% of a core over 400
    ms, and the 1-min load average — the same check graft's Bench makes —
    plus the CPU jiffies counters, from which the run's steal share (CPU
    time the hypervisor gave to other guests) is derived."""
    pids = _java_pids()
    before = {p: _jiffies(p) for p in pids}
    time.sleep(0.4)
    busy = sum(1 for p in pids if before[p] >= 0 and _jiffies(p) >= 0
               and (_jiffies(p) - before[p]) / 40.0 > 0.4)
    steal, total = _cpu_jiffies()
    return {"jvms": len(pids), "busy_jvms": busy, "loadavg": os.getloadavg()[0],
            "steal_jiffies": steal, "cpu_jiffies": total}


def scratch_kind(path):
    best, kind = "", "unknown"
    try:
        for line in Path("/proc/mounts").read_text().splitlines():
            parts = line.split()
            mnt, fs = parts[1], parts[2]
            if str(path).startswith(mnt) and len(mnt) > len(best):
                best, kind = mnt, ("tmpfs" if fs in ("tmpfs", "ramfs") else "disk")
    except OSError:
        pass
    return kind


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


# ---- main ---------------------------------------------------------------

def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["batch_mix", "heavy_sf1", "commit_upsert"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--flows", help="batch_mix: run these flows (comma list) instead of the sample")
    a = ap.parse_args(argv)
    t_start = time.time()
    stamp = {"nproc": os.cpu_count(), "cores": CORES, "seed": a.seed, "workload": a.workload,
             "trace": a.trace, "seconds": a.seconds, "git_sha": git_sha(), "start": contention()}

    classpath, src_hash = build.build()
    stamp["source_sha256"] = src_hash
    bdir = build.build_dir()
    stamp["scratch"] = scratch_kind(bdir)
    cat = catalog()

    t0 = time.time()
    cache = bdir / "inputs"
    sf01, man01 = inputs.ensure(cache, "sf01", a.seed)
    input_manifests = {"sf01": man01["sha256"]}
    args = []
    if a.workload == "batch_mix":
        n = max(len(cat["modules"]) + 1, round(a.seconds * BATCH_FLOWS_PER_S))
        flows = a.flows.split(",") if a.flows else batch_flows(cat, a.seed, n)
        data, in_mb, warm = sf01, man01["mb"], []
    elif a.workload == "heavy_sf1":
        sf1, man1 = inputs.ensure(cache, "sf1", a.seed)
        input_manifests["sf1"] = man1["sha256"]
        flows = list(cat["heavy"])
        data, in_mb, warm = sf1, man1["mb"], flows
    else:
        chg, manc = inputs.ensure(cache, "changes", a.seed)
        input_manifests["changes"] = manc["sha256"]
        flows = commit_groups(cat, a.seed, a.seconds)
        data, in_mb, warm = sf01, None, list(cat["commit_flows"])
        args += [f"changes={chg}", f"tx_size={TX_SIZE}"]
    input_gen_s = time.time() - t0

    work = bdir / "work" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result_path = work / "harness.json"
    cmd = ["java", "-Xmx4g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
           "--add-exports", "java.base/sun.nio.ch=ALL-UNNAMED"]
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
              "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
              "sun.nio.cs", "sun.security.action", "sun.util.calendar"]:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Harness", f"workload={a.workload}", f"trace={a.trace}",
            f"cores={CORES}",
            f"template={inputs.TEMPLATE}", f"data={data}", f"work={work}",
            f"flows={','.join(flows)}", f"warm={','.join(warm)}", f"result={result_path}"] + args
    log(f"{a.workload} seed={a.seed}: {len(flows)} flows, inputs {input_gen_s:.1f}s")
    timeout = JVM_TIMEOUT_S if not a.flows else 3600
    with open(work / "harness.log", "w") as jlog:
        launched = time.time()
        proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not result_path.exists():
        tail_log = (work / "harness.log").read_text(errors="replace")[-3000:]
        log(f"harness failed ({rc}); log tail:\n{tail_log}")
        return 3
    log("harness done")
    res = json.loads(result_path.read_text())
    stamp["end"] = contention()
    d_total = stamp["end"]["cpu_jiffies"] - stamp["start"]["cpu_jiffies"]
    stamp["steal_share"] = ((stamp["end"]["steal_jiffies"] - stamp["start"]["steal_jiffies"]) / d_total
                            if d_total > 0 else None)
    stamp["spark"] = res["spark_version"]
    stamp["jvm"] = res["jvm"]
    stamp["inputs_sha256"] = input_manifests

    # ---- oracle checks, outside every timed region ---------------------
    t0 = time.time()
    ops = res["ops"]
    oracles = res.get("oracles", {})
    con = oracle.connect(data, work / "tmp")
    upsert_oracle = None
    for op in ops:
        if not op["ok"]:
            op["check"] = "not run: " + op["error"]
            continue
        if op["kind"] == "upsert":
            if upsert_oracle is None:
                upsert_oracle = oracle.UpsertOracle(con, Path(data) / "orders.parquet")
            upsert_oracle.apply(op["extra"]["batch"])
            op["check"] = upsert_oracle.check(op["out"])
            continue
        names = op["extra"]["flows"].split(",") if op["kind"] == "tx" else [op["name"]]
        errs = []
        tc = time.time()
        for n in names:
            out = op["out"] + "/" + n if op["kind"] == "tx" else op["out"]
            err = oracle.check_flow(con, oracles[n], out, ORACLE_TIMEOUT_S) if n in oracles else "no oracle"
            if err:
                errs.append(f"{n}: {err}")
        op["check"] = "; ".join(errs) or None
        op["check_s"] = time.time() - tc
    con.close()
    check_s = time.time() - t0
    log(f"checks done in {check_s:.1f}s")
    attempted = len(ops)
    failed = sum(1 for op in ops if not op["ok"] or op["check"])
    for op in ops:
        if not op["ok"] or op["check"]:
            log(f"FAILED {op['name']}: {op['check']}")

    # ---- metrics --------------------------------------------------------
    flow_s = [op["flow_s"] for op in ops if op["ok"]]
    commit_ms = [op["commit_ms"] for op in ops if op["ok"] and op["commit_ms"] is not None]
    makespan = res["makespan_s"]
    if in_mb is None:  # commit loop: the change batches applied and the input files the transactions read
        in_mb = sum(int(op["extra"].get("input_bytes", 0)) for op in ops) / 1e6
    # set-up: one cold start, from launching the JVM until the session,
    # the warm-up and (commit loop) the table are ready
    setup_s = res["ready_epoch_s"] - launched
    ft, ft_p, ft_n, ft_ok = tail(flow_s)
    ct, ct_p, ct_n, ct_ok = tail(commit_ms)
    e2e = {
        "setup_s": setup_s,
        "makespan_s": makespan,
        "input_mb_per_s": in_mb / makespan,
        "flow_p50_s": median(flow_s),
        "flow_tail_s": ft,
        "commit_p50_ms": median(commit_ms),
        "commit_tail_ms": ct,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    layers = res.get("layers")
    per_layer = None
    if layers:
        per_layer = {k: layers.get(k) for k in PER_LAYER}
        written = layers.get("flow_write_bytes", {})
        num = den = 0.0
        for op in ops:
            fid = op["out"].rsplit("/", 1)[-1]
            if op["kind"] == "upsert":
                num += written.get(fid, 0)
                den += Path(op["extra"]["batch"]).stat().st_size
            elif op["ok"]:
                num += written.get(fid, 0)
                den += sum(p.stat().st_size for p in Path(op["out"]).rglob("*.parquet"))
        per_layer["sinks.write_amplification"] = num / den if den else math.nan
    detail = {
        "stamp": stamp,
        "flows": flows,
        "input_mb": in_mb,
        "input_gen_s": input_gen_s,
        "check_s": check_s,
        "jvm_start_s": res["jvm_start_epoch_s"] - launched,
        "session_ready_s": res["session_ready_s"],
        "create_s": res.get("create_s"),
        "warm_s": res.get("warm_s"),
        "failed_ratio": failed / attempted if attempted else math.nan,
        "flow_tail": {"percentile": ft_p, "n": ft_n, "rule_met": ft_ok},
        "commit_tail": {"percentile": ct_p, "n": ct_n, "rule_met": ct_ok},
        "end_to_end": e2e,
        "per_layer": per_layer,
        "ops": ops,
        "layers_raw": layers,
        "wall_s": time.time() - t_start,
    }
    results = bdir / "results"
    results.mkdir(parents=True, exist_ok=True)
    if a.trace and layers:
        base = sorted(results.glob(f"{a.workload}-s{a.seed}-t0-*.json"))
        if base:
            untraced = json.loads(base[-1].read_text())["end_to_end"]["makespan_s"]
            detail["trace_overhead_s"] = makespan - untraced
            detail["trace_overhead_base"] = base[-1].name
    out_file = results / f"{a.workload}-s{a.seed}-t{a.trace}-{int(t_start)}.json"
    out_file.write_text(json.dumps(detail, indent=1, default=str))
    shutil.rmtree(work, ignore_errors=True)

    # ---- report ---------------------------------------------------------
    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  detail {out_file.relative_to(ROOT)}")
    print(f"  input_mb {in_mb:.1f}  input_gen_s {input_gen_s:.2f}  check_s {check_s:.2f}  "
          f"failed_ratio {detail['failed_ratio']:.4f} ({failed}/{attempted})")
    steal = stamp["steal_share"]
    print(f"  host: loadavg {stamp['start']['loadavg']:.1f} -> {stamp['end']['loadavg']:.1f}, "
          f"busy sibling JVMs {stamp['start']['busy_jvms']} -> {stamp['end']['busy_jvms']}, "
          f"steal {'n/a' if steal is None else f'{100 * steal:.1f}%'}")
    print(f"  flow_tail_s = p{ft_p} of n={ft_n}{'' if ft_ok else ' (under 20 samples: max)'}; "
          f"commit_tail_ms = p{ct_p} of n={ct_n}{'' if ct_ok else ' (under 20 samples: max)'}")
    for k, v in e2e.items():
        print(f"  {k:<16} {v:12.4f} {END_TO_END.get(k) or SUMMARY_ONLY[k]}")
    if per_layer:
        for k, v in per_layer.items():
            print(f"  {k:<28} {'' if v is None else f'{v:14.4f}'} {PER_LAYER[k]}")
        if "trace_overhead_s" in detail:
            print(f"  tracing overhead: {detail['trace_overhead_s']:+.3f} s makespan "
                  f"vs untraced {detail['trace_overhead_base']}")
    metrics = ({k: (e2e[k], u) for k, u in END_TO_END.items()} if not a.trace
               else {k: (v, PER_LAYER[k]) for k, v in per_layer.items()})
    metrics = {k: (None if isinstance(v, float) and math.isnan(v) else v, u) for k, (v, u) in metrics.items()}
    print(headline(failed == 0, attempted, failed, metrics), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
