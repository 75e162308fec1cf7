"""Self-test of tools/stage_timeline.py on a small synthetic event log.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import io
import json
import unittest

import stage_timeline as st


def job_start(jid, t, stages, flow, sql=None):
    props = {"perfbench.flow": flow} if flow else {}
    if sql is not None:
        props["spark.sql.execution.id"] = str(sql)
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
            "Stage IDs": stages, "Properties": props}


def stage_done(sid, submit, end, n, name="s"):
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0, "Stage Name": name,
                           "Number of Tasks": n, "Submission Time": submit,
                           "Completion Time": end}}


MB = 1_000_000


def task_end(sid, launch, finish, run_ms, cpu_ms, wrote=0, remote=0, local=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Stage Attempt ID": 0,
            "Task Info": {"Task ID": 0, "Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ms * 1_000_000,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": wrote},
                             "Shuffle Read Metrics": {"Remote Bytes Read": remote,
                                                      "Local Bytes Read": local}}}


# an untimed warm-up job (no property), then two timed jobs:
#   job 1 (SQL execution 7), stage 1: two tasks 1000-1400 and 1000-1200
#   (two at once, then one), writing 1.5 + 0.5 MB of shuffle
#   gap 1400-1600 (no task), job 2 (no SQL execution), stage 2: one task
#   1600-2000 reading 0.75 MB remote + 1.25 MB local
EVENTS = [
    job_start(0, 0, [0], None), stage_done(0, 0, 500, 1, "warm"), task_end(0, 0, 500, 500, 400),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 500},
    job_start(1, 1000, [1], "f000", sql=7), task_end(1, 1000, 1400, 400, 300, wrote=3 * MB // 2),
    task_end(1, 1000, 1200, 200, 100, wrote=MB // 2), stage_done(1, 1000, 1400, 2, "scan"),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1400},
    job_start(2, 1600, [2], "f001"),
    task_end(2, 1600, 2000, 400, 350, remote=3 * MB // 4, local=5 * MB // 4),
    stage_done(2, 1600, 2000, 1, "join"),
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 2000},
]


class StageTimelineTest(unittest.TestCase):
    def setUp(self):
        self.window, self.stages, self.tasks = st.load(
            [json.dumps(e) for e in EVENTS], "perfbench.flow")

    def test_window_keeps_only_timed_jobs(self):
        self.assertEqual(self.window, (1000, 2000))
        self.assertEqual(sorted(self.stages), [(1, 0), (2, 0)])
        self.assertEqual(len(self.tasks), 3)

    def test_concurrency_histogram_and_gaps(self):
        hist, gaps = st.concurrency(self.window, self.tasks)
        self.assertEqual(hist, {2: 200, 1: 600, 0: 200})
        self.assertEqual(gaps, [(1400, 200)])

    def test_report_prints_stages_histogram_and_gaps(self):
        out = io.StringIO()
        st.report(self.window, self.stages, self.tasks, gap_ms=20, out=out)
        text = out.getvalue()
        self.assertIn("timed window: 1.000 s, 2 stages, 3 tasks", text)
        # stage 1: start 0, wall 0.4, 2 tasks, run 0.6, cpu 0.4, slowest 0.4,
        # 2 MB written, none read, SQL execution 7
        self.assertIn("        1    0.000   0.400     2   0.600   0.400     0.400    2.00    0.00"
                      "     7  f000 / scan", text)
        # stage 2: remote and local reads summed; no SQL execution id
        self.assertIn("        2    0.600   0.400     1   0.400   0.350     0.400    0.00    2.00"
                      "     -  f001 / join", text)
        self.assertIn("    total                      3   1.000   0.750              2.00    2.00", text)
        self.assertIn("    0:   0.200 s   20.0%", text)
        self.assertIn("    2:   0.200 s   20.0%", text)
        self.assertIn("at   0.400 s    0.200 s", text)

    def test_stage_carries_its_jobs_sql_execution_id(self):
        self.assertEqual(self.stages[(1, 0)]["sql"], "7")
        self.assertIsNone(self.stages[(2, 0)]["sql"])
        self.assertEqual(sum(t[6] for t in self.tasks), 2 * MB)
        self.assertEqual(sum(t[7] for t in self.tasks), 2 * MB)

    def test_no_timed_job(self):
        window, _, _ = st.load([json.dumps(EVENTS[0])], "perfbench.flow")
        self.assertIsNone(window)


if __name__ == "__main__":
    unittest.main()
