"""End to end: a real run prints its record as the last line of stdout, and
a tree without the program's sources makes the command fail.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

PERFBENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(PERFBENCH)


def run(cwd, *args, timeout=900):
    return subprocess.run(
        [sys.executable, "perfbench/run.py"] + list(args), cwd=cwd,
        capture_output=True, text=True, timeout=timeout)


class RunTest(unittest.TestCase):
    def test_last_line_is_the_record(self):
        p = run(ROOT, "--workload", "lake_jobs", "--seed", "3",
                "--seconds", "1", "--trace", "0")
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        rec = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(rec), {"correct", "attempted", "failed",
                                    "metrics"})
        self.assertTrue(rec["correct"], p.stderr[-2000:])
        self.assertEqual(rec["failed"], 0)
        self.assertEqual(rec["attempted"] % 4, 0)  # whole passes of 4 jobs
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            names = {m["name"] for m in json.load(f)["end_to_end"]}
        self.assertEqual(set(rec["metrics"]), names)
        for m in rec["metrics"].values():
            self.assertGreater(m["value"], 0)

    def test_fails_without_the_program(self):
        tmp = tempfile.mkdtemp(prefix="perfbench-bare-")
        try:
            shutil.copytree(PERFBENCH, os.path.join(tmp, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
            p = run(tmp, "--workload", "sql_queries", "--seed", "1",
                    "--seconds", "1", "--trace", "0", timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
