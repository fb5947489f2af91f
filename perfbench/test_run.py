"""Tests for run.py's result-line contract: python3 -m unittest perfbench/test_run.py"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


class ResultLineTest(unittest.TestCase):
    names = {"setup_s", "pass_s"}

    def line(self, **over):
        r = {"correct": True, "attempted": 3, "failed": 0,
             "metrics": {"setup_s": {"value": 0.8127, "unit": "s"},
                         "pass_s": {"value": 1.2034, "unit": "s"}}}
        r.update(over)
        return json.dumps(r)

    def test_round_trip(self):
        r = run.check_result(self.line(), self.names)
        self.assertEqual(r["metrics"]["pass_s"]["value"], 1.2034)
        self.assertEqual(json.loads(json.dumps(r)), r)

    def test_refuses_missing_extra_or_malformed(self):
        self.assertIsNone(run.check_result("not json", self.names))
        self.assertIsNone(run.check_result(self.line(extra=1), self.names))
        self.assertIsNone(run.check_result(self.line(attempted=0), self.names))
        self.assertIsNone(run.check_result(
            self.line(metrics={"setup_s": {"value": 1, "unit": "s"}}),
            self.names))


class BareDirectoryTest(unittest.TestCase):
    def test_exits_nonzero_without_engine_sources(self):
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "perfbench"))
            with open(run.__file__) as src, \
                    open(os.path.join(d, "perfbench", "run.py"), "w") as dst:
                dst.write(src.read())
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload",
                 "catalog_explore", "--seed", "1", "--seconds", "1",
                 "--trace", "0"], cwd=d, capture_output=True, text=True,
                timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout, "")


if __name__ == "__main__":
    unittest.main()
