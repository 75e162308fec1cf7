"""Self-tests of the benchmark's own code (no JVM, no build):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import math
import random
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import pandas as pd  # noqa: E402

import oracle  # noqa: E402
import run  # noqa: E402


class TailRule(unittest.TestCase):
    def test_at_least_ten_samples_beyond(self):
        for n in (20, 21, 37, 100, 1000):
            xs = list(range(1, n + 1))
            random.Random(n).shuffle(xs)
            v, p, got_n, ok = run.tail(xs)
            self.assertTrue(ok)
            self.assertEqual(got_n, n)
            self.assertEqual(sum(1 for x in xs if x > v), 10, n)
            # the next percentile up would leave fewer than ten beyond
            self.assertLessEqual(p, 100 * (n - 10) / n)

    def test_p90_at_one_hundred(self):
        v, p, n, ok = run.tail([float(i) for i in range(100)])
        self.assertEqual((v, p, n, ok), (89.0, 90, 100, True))

    def test_too_few_samples_reports_max(self):
        v, p, n, ok = run.tail([3.0, 1.0, 2.0])
        self.assertEqual((v, n, ok), (3.0, 3, False))
        v, p, n, ok = run.tail([float(i) for i in range(19)])
        self.assertEqual((v, n, ok), (18.0, 19, False))
        self.assertTrue(math.isnan(run.tail([])[0]))


class Names(unittest.TestCase):
    def test_metric_names_match_pattern(self):
        for k in list(run.END_TO_END) + list(run.PER_LAYER):
            self.assertRegex(k, r"^[A-Za-z0-9_.-]+$")
            self.assertLessEqual(len(k), 64)

    def test_headline_rejects_bad_name(self):
        with self.assertRaises(ValueError):
            run.headline(True, 1, 0, {"bad name": (1.0, "s")})

    def test_benchmark_json_matches_the_code(self):
        spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)


class Comparator(unittest.TestCase):
    def test_equal_frames_in_any_row_and_column_order(self):
        a = pd.DataFrame({"k": [1, 2, 3], "v": [0.1, 0.2, None]})
        b = pd.DataFrame({"v": [None, 0.1, 0.2], "k": [3, 1, 2]})
        self.assertIsNone(oracle.compare(a, b))

    def test_planted_mismatch_is_caught(self):
        a = pd.DataFrame({"k": [1, 2, 3], "v": [0.1, 0.2, 0.3]})
        b = a.copy()
        b.loc[1, "v"] = 0.2 + 1e-15
        self.assertIn("differing rows", oracle.compare(a, b))
        self.assertIn("rows", oracle.compare(a, a.iloc[:2]))
        self.assertIn("columns", oracle.compare(a, a.rename(columns={"v": "w"})))

    def test_flow_check_against_duckdb(self):
        with tempfile.TemporaryDirectory() as d:
            out = Path(d) / "out"
            out.mkdir()
            pd.DataFrame({"x": [1, 2, 3]}).to_parquet(out / "part-0.parquet")
            con = oracle.duckdb.connect()
            self.assertIsNone(oracle.check_flow(con, "SELECT * FROM range(1, 4) t(x)", out, 10))
            self.assertIsNotNone(oracle.check_flow(con, "SELECT * FROM range(1, 5) t(x)", out, 10))


def parse_headline(stdout):
    """A consumer's view of the output: the last line that parses as a
    JSON object with the headline keys, skipping trailing non-JSON lines."""
    for line in reversed(stdout.strip().splitlines()):
        try:
            d = json.loads(line)
        except ValueError:
            continue
        if isinstance(d, dict) and {"correct", "attempted", "failed", "metrics"} <= d.keys():
            return d
    return None


class Headline(unittest.TestCase):
    def test_parses_after_build_tool_trailer(self):
        line = run.headline(True, 12, 0, {"setup_s": (1.25, "s"), "makespan_s": (20.5, "s")})
        stdout = "workload batch_mix\n  setup_s 1.25 s\n" + line + "\n[success] Total time: 31 s\n"
        d = parse_headline(stdout)
        self.assertEqual(d["attempted"], 12)
        self.assertEqual(d["metrics"]["makespan_s"], {"value": 20.5, "unit": "s"})
        self.assertLess(len(line), 1500)


class Sampling(unittest.TestCase):
    def test_batch_sample_is_seeded_and_stratified(self):
        cat = run.catalog()
        a = run.batch_sample(cat, 7, 12)
        self.assertEqual(a, run.batch_sample(cat, 7, 12))
        self.assertNotEqual(a, run.batch_sample(cat, 8, 12))
        self.assertEqual(len(set(a)), len(a))
        self.assertEqual({cat["flows"][n]["module"] for n in a if not n.startswith("stream_")},
                         set(cat["modules"]))
        self.assertTrue(any(n.startswith("stream_") for n in a))

    def test_run_seed_orders_the_fixed_sample(self):
        cat = run.catalog()
        a, b = run.batch_flows(cat, 1, 12), run.batch_flows(cat, 2, 12)
        self.assertEqual(sorted(a), sorted(b))
        self.assertNotEqual(a, b)


class CommitLoop(unittest.TestCase):
    def test_fixed_seeded_work(self):
        cat = run.catalog()
        flows = run.commit_groups(cat, 3, 10)
        self.assertEqual(len(flows) % run.TX_SIZE, 0)
        self.assertEqual(flows, run.commit_groups(cat, 3, 10))
        self.assertNotEqual(flows, run.commit_groups(cat, 4, 10))
        # whole rounds: every commit flow is committed equally often
        counts = {n: flows.count(n) for n in cat["commit_flows"]}
        self.assertEqual(len(set(counts.values())), 1)
        self.assertGreater(len(run.commit_groups(cat, 3, 20)), len(flows))


if __name__ == "__main__":
    unittest.main()
