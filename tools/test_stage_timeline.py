"""Self-test of tools/stage_timeline.py on a small synthetic event log.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import io
import json
import unittest

import stage_timeline as st


def job_start(jid, t, stages, flow):
    props = {"perfbench.flow": flow} if flow else {}
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
            "Stage IDs": stages, "Properties": props}


def stage_done(sid, submit, end, n, name="s"):
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0, "Stage Name": name,
                           "Number of Tasks": n, "Submission Time": submit,
                           "Completion Time": end}}


def task_end(sid, launch, finish, run_ms, cpu_ms):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Stage Attempt ID": 0,
            "Task Info": {"Task ID": 0, "Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ms * 1_000_000}}


# an untimed warm-up job (no property), then two timed jobs:
#   job 1, stage 1: two tasks 1000-1400 and 1000-1200 (two at once, then one)
#   gap 1400-1600 (no task), job 2, stage 2: one task 1600-2000
EVENTS = [
    job_start(0, 0, [0], None), stage_done(0, 0, 500, 1, "warm"), task_end(0, 0, 500, 500, 400),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 500},
    job_start(1, 1000, [1], "f000"), task_end(1, 1000, 1400, 400, 300),
    task_end(1, 1000, 1200, 200, 100), stage_done(1, 1000, 1400, 2, "scan"),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1400},
    job_start(2, 1600, [2], "f001"), task_end(2, 1600, 2000, 400, 350),
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
        # stage 1: start 0, wall 0.4, 2 tasks, run 0.6, cpu 0.4, slowest 0.4
        self.assertIn("        1    0.000   0.400     2   0.600   0.400     0.400  f000 / scan", text)
        self.assertIn("    0:   0.200 s   20.0%", text)
        self.assertIn("    2:   0.200 s   20.0%", text)
        self.assertIn("at   0.400 s    0.200 s", text)

    def test_no_timed_job(self):
        window, _, _ = st.load([json.dumps(EVENTS[0])], "perfbench.flow")
        self.assertIsNone(window)


if __name__ == "__main__":
    unittest.main()
