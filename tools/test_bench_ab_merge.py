"""Self-test of tools/bench_ab_merge.py on hand-written graft.Bench pass files.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import contextlib
import io
import json
import os
import tempfile
import unittest

import bench_ab_merge as m


def bench(queries_min, failed=()):
    """The two fields of a graft.Bench record the merge reads."""
    return {"metric": "total", "failed": list(failed), "queries_min": queries_min}


class BenchAbMergeTest(unittest.TestCase):

    def run_main(self, passes):
        """Write (old, new) pass files, run main, return (exit, result)."""
        with tempfile.TemporaryDirectory() as d:
            files = []
            for p, (old, new) in enumerate(passes, 1):
                for side, rec in (("old", old), ("new", new)):
                    path = os.path.join(d, f"bench_ab_{side}_{p}.json")
                    with open(path, "w") as f:
                        json.dump(rec, f)
                    files.append(path)
            out = os.path.join(d, "ab.json")
            with contextlib.redirect_stdout(io.StringIO()), \
                    contextlib.redirect_stderr(io.StringIO()):
                code = m.main([out, "a" * 40, "b" * 40] + files)
            with open(out) as f:
                return code, json.load(f)

    def test_clean_pairs(self):
        code, r = self.run_main([
            (bench({"q1": 1.0, "q2": 2.0}), bench({"q1": 1.0, "q2": 2.1})),
            (bench({"q1": 1.2, "q2": 2.0}), bench({"q1": 1.1, "q2": 2.0})),
        ])
        self.assertEqual(code, 0)
        self.assertTrue(r["clean"])
        self.assertEqual(r["failed"], {"old": [], "new": []})
        self.assertEqual(r["passes"], 2)
        self.assertEqual(r["ratio_minsum"], 1.0)  # mins 1.0+2.0 vs 1.0+2.0
        self.assertEqual(r["pass_ratios"], [1.033, 0.969])
        self.assertEqual(r["queries"]["q2"]["ratio"], 1.0)

    def test_query_failing_every_new_run_is_not_clean(self):
        # q2 fails every new run: its new min is null, so the paired set
        # is q1 alone, whose ratio reads clean
        code, r = self.run_main([
            (bench({"q1": 1.0, "q2": 2.0}), bench({"q1": 1.0, "q2": None}, ["q2"])),
            (bench({"q1": 1.0, "q2": 2.0}), bench({"q1": 1.0, "q2": None}, ["q2"])),
        ])
        self.assertEqual(r["ratio_minsum"], 1.0)
        self.assertFalse(r["clean"])
        self.assertEqual(r["failed"], {"old": [], "new": ["q2"]})
        self.assertEqual(code, 1)

    def test_one_failed_old_run_is_not_clean(self):
        # q1 failed one old run of one pass; its min comes from the others
        code, r = self.run_main([
            (bench({"q1": 1.0}, ["q1"]), bench({"q1": 1.0})),
            (bench({"q1": 1.0}), bench({"q1": 1.0})),
        ])
        self.assertFalse(r["clean"])
        self.assertEqual(r["failed"], {"old": ["q1"], "new": []})
        self.assertEqual(code, 1)

    def test_odd_file_count_is_a_usage_error(self):
        with contextlib.redirect_stderr(io.StringIO()):
            self.assertEqual(m.main(["out.json", "a", "b", "only_old.json"]), 2)


if __name__ == "__main__":
    unittest.main()
