"""Span arithmetic of the traced run: in every span, the time no task was
running (driver_gap_s) plus the time at least one was (busy_s) equals the
span's wall_s within 5%, and the spans of each traced iteration cover its
wall time within 5%.

Checks every committed traced result under flowbench/results, then makes
a fresh traced run (about two minutes on 4 cores) and checks it too.
Run from the repository root: python3 -m unittest discover -s flowbench/tests
"""
import glob
import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import check  # noqa: E402


class SpanArithmeticTest(unittest.TestCase):
    def assert_spans_add_up(self, record, where):
        self.assertTrue(record["correct"], where)
        names = {s["name"] for s in record["spans"]}
        self.assertLessEqual(set(check.SPANS), names, where)
        for s in record["spans"]:
            wall = s["wall_s"]
            self.assertGreaterEqual(s["driver_gap_s"], 0, (where, s))
            self.assertLessEqual(s["busy_s"], wall * 1.0001, (where, s))
            self.assertAlmostEqual(s["driver_gap_s"] + s["busy_s"], wall,
                                   delta=0.05 * wall, msg=(where, s))
            if s["tasks"]:
                self.assertGreater(s["busy_s"], 0, (where, s))
        traced = [i for i in record["iterations"] if i["phase"] == "traced"]
        self.assertEqual(len(traced), 3, where)
        for it in traced:
            self.assertAlmostEqual(it["span_wall_s"], it["wall_s"],
                                   delta=0.05 * it["wall_s"], msg=(where, it["workload"]))
        self.assertEqual(len(record["metrics"]), len(check.SPANS) * len(check.SPAN_METRICS))

    def test_committed_traced_runs(self):
        files = glob.glob(os.path.join(HERE, "results", "*-trace1-*.json"))
        self.assertTrue(files, "no committed traced run")
        for f in files:
            with open(f) as fh:
                self.assert_spans_add_up(json.load(fh), os.path.basename(f))

    def test_fresh_traced_run(self):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             "ingest_chain", "--seed", "5", "--seconds", "1", "--trace", "1"],
            capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        path = re.search(r"full result: (\S+)", p.stderr).group(1)
        with open(path) as fh:
            record = json.load(fh)
        self.assert_spans_add_up(record, path)
        self.assertEqual(json.loads(p.stdout.splitlines()[-1])["metrics"],
                         record["metrics"])


if __name__ == "__main__":
    unittest.main()
