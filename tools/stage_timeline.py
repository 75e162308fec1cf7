"""Stage timeline of one Spark event log: where the timed window's wall
time went, stage by stage, and how many task slots were busy.

    python3 tools/stage_timeline.py <event log file or dir> [--prop perfbench.flow] [--gap-ms 20]

The timed window runs from the submission of the first job whose local
property `--prop` is set to the end of the last such job (perfbench sets
`perfbench.flow` on every job of a timed flow or transaction; its set-up
and warm-up jobs carry none). For that window it prints:

- per stage: start (s into the window), wall, tasks, summed task run
  and CPU time, the slowest task, the shuffle MB its tasks wrote and
  read, and the SQL execution id of its job (`spark.sql.execution.id`;
  most stage names read `$anonfun$withThreadLocalCaptured`, so the id is
  what ties a stage to its query);
- a histogram of how many tasks ran at once, as a share of the window;
- the gaps in which no task ran, longest first.

`tools/stage_timeline.sh` records the log from one perfbench run.
"""
import argparse
import json
import os
import re
import sys


def load(lines, prop):
    """Parse event-log lines into (window, stages, tasks) for the jobs that
    carry `prop`. Times are epoch ms; `stages` maps (stage, attempt) to a
    dict, `tasks` is a list of (launch, finish, stage, attempt, run_ms,
    cpu_ms, shuffle_write_bytes, shuffle_read_bytes)."""
    jobs = {}            # job id -> [submit, end, prop value, SQL execution id]
    stage_job = {}       # stage id -> job id
    stages = {}
    tasks = []
    for line in lines:
        line = line.strip()
        if not line:
            continue
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            if (e.get("Properties") or {}).get(prop) is None:
                continue
            props = e["Properties"]
            jobs[e["Job ID"]] = [e["Submission Time"], None, props[prop],
                                 props.get("spark.sql.execution.id")]
            for s in e.get("Stage IDs", []):
                stage_job[s] = e["Job ID"]
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]][1] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if info["Stage ID"] not in stage_job:
                continue
            job = jobs[stage_job[info["Stage ID"]]]
            stages[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = {
                "name": info.get("Stage Name", ""),
                "flow": job[2],
                "sql": job[3],
                "submit": info.get("Submission Time"),
                "end": info.get("Completion Time"),
                "tasks": info.get("Number of Tasks", 0),
            }
        elif kind == "SparkListenerTaskEnd":
            if e["Stage ID"] not in stage_job:
                continue
            ti = e["Task Info"]
            m = e.get("Task Metrics") or {}
            w = m.get("Shuffle Write Metrics") or {}
            r = m.get("Shuffle Read Metrics") or {}
            tasks.append((ti["Launch Time"], ti["Finish Time"], e["Stage ID"],
                          e.get("Stage Attempt ID", 0), m.get("Executor Run Time", 0),
                          m.get("Executor CPU Time", 0) / 1e6, w.get("Shuffle Bytes Written", 0),
                          r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)))
    if not jobs:
        return None, stages, tasks
    start = min(j[0] for j in jobs.values())
    end = max([j[1] for j in jobs.values() if j[1] is not None] + [f for f, *_ in
              (t[1:] for t in tasks)] + [start])
    return (start, end), stages, tasks


def concurrency(window, tasks):
    """Time (ms) spent at each number of concurrently running tasks inside
    the window, and the intervals with none running."""
    start, end = window
    edges = []
    for launch, finish, *_ in tasks:
        a, b = max(launch, start), min(finish, end)
        if b > a:
            edges += [(a, 1), (b, -1)]
    edges.sort()
    hist, gaps = {}, []
    running, t = 0, start
    for when, delta in edges + [(end, 0)]:
        if when > t:
            hist[running] = hist.get(running, 0) + (when - t)
            if running == 0:
                gaps.append((t, when - t))
            t = when
        running += delta
    return hist, gaps


def report(window, stages, tasks, gap_ms=20, out=sys.stdout):
    if window is None:
        print("no job in the log carries the timed-window property", file=out)
        return
    start, end = window
    wall = end - start
    print(f"timed window: {wall / 1000:.3f} s, {len(stages)} stages, {len(tasks)} tasks", file=out)
    mb = 1e6  # decimal MB, as perfbench reports shuffle.write_mb
    per = {}
    for launch, finish, sid, att, run, cpu, wrote, read in tasks:
        p = per.setdefault((sid, att), [0, 0.0, 0.0, 0, 0, 0])
        p[0] += 1
        p[1] += run
        p[2] += cpu
        p[3] = max(p[3], finish - launch)
        p[4] += wrote
        p[5] += read
    print(f"{'stage':>9} {'start_s':>8} {'wall_s':>7} {'tasks':>5} {'run_s':>7} {'cpu_s':>7} "
          f"{'slowest_s':>9} {'wr_mb':>7} {'rd_mb':>7} {'sql':>5}  flow / name", file=out)
    for key in sorted(stages, key=lambda k: (stages[k]["submit"] or 0, k)):
        st = stages[key]
        n, run, cpu, slow, wrote, read = per.get(key, [0, 0, 0.0, 0, 0, 0])
        sub = st["submit"] or start
        dur = (st["end"] or sub) - sub
        sid = f"{key[0]}" + (f".{key[1]}" if key[1] else "")
        sql = st["sql"] if st["sql"] is not None else "-"
        print(f"{sid:>9} {(sub - start) / 1000:8.3f} {dur / 1000:7.3f} {n:5d} {run / 1000:7.3f} "
              f"{cpu / 1000:7.3f} {slow / 1000:9.3f} {wrote / mb:7.2f} {read / mb:7.2f} {sql:>5}  "
              f"{st['flow']} / {st['name'][:50]}", file=out)
    tot_run = sum(t[4] for t in tasks) / 1000
    tot_cpu = sum(t[5] for t in tasks) / 1000
    tot_wr = sum(t[6] for t in tasks) / mb
    tot_rd = sum(t[7] for t in tasks) / mb
    print(f"{'total':>9} {'':8} {'':7} {len(tasks):5d} {tot_run:7.3f} {tot_cpu:7.3f} {'':9} "
          f"{tot_wr:7.2f} {tot_rd:7.2f}", file=out)
    hist, gaps = concurrency(window, tasks)
    print("tasks running at once (share of the window):", file=out)
    for k in sorted(hist):
        print(f"  {k:3d}: {hist[k] / 1000:7.3f} s  {100.0 * hist[k] / wall if wall else 0:5.1f}%", file=out)
    shown = sorted((g for g in gaps if g[1] >= gap_ms), key=lambda g: -g[1])
    print(f"gaps with no task running (>= {gap_ms} ms): {len(shown)}, "
          f"{sum(g[1] for g in shown) / 1000:.3f} s", file=out)
    for at, length in shown:
        print(f"  at {(at - start) / 1000:7.3f} s  {length / 1000:7.3f} s", file=out)


def log_lines(path):
    """Lines of an event log: one file, or a rolling-log directory
    (`eventlog_v2_<app>/events_<n>_<app>`, Spark 4's default) read in
    file order."""
    if not os.path.isdir(path):
        with open(path) as f:
            yield from f
        return
    parts = [p for p in os.listdir(path) if p.startswith("events_")]
    for p in sorted(parts, key=lambda p: int(re.match(r"events_(\d+)_", p).group(1))):
        with open(os.path.join(path, p)) as f:
            yield from f


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("log")
    ap.add_argument("--prop", default="perfbench.flow")
    ap.add_argument("--gap-ms", type=int, default=20)
    a = ap.parse_args(argv)
    window, stages, tasks = load(log_lines(a.log), a.prop)
    report(window, stages, tasks, a.gap_ms)


if __name__ == "__main__":
    main()
