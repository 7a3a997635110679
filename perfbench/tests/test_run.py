"""Smoke tests of the benchmark launcher; each run takes up to a minute.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run as bench  # noqa: E402


def run(*args, cwd=ROOT):
    return subprocess.run([sys.executable, os.path.join("perfbench", "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=600)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class RunTest(unittest.TestCase):
    def result(self, proc):
        self.assertEqual(proc.returncode, 0, proc.stderr[-3000:])
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        self.assertEqual(sorted(res), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(res["correct"], proc.stdout[-3000:])
        self.assertGreaterEqual(res["attempted"], 1)
        return res

    def test_sync_delta_smoke(self):
        res = self.result(run("--workload", "sync_delta", "--seed", "1", "--seconds", "1",
                              "--trace", "0", "--items", "300"))
        self.assertEqual(set(res["metrics"]), {m["name"] for m in spec()["end_to_end"]})
        self.assertTrue(all(m["value"] > 0 for m in res["metrics"].values()))

    def test_sync_delta_traced_smoke(self):
        res = self.result(run("--workload", "sync_delta", "--seed", "2", "--seconds", "1",
                              "--trace", "1", "--items", "300"))
        m = res["metrics"]
        self.assertEqual(set(m), {x["name"] for x in spec()["per_layer"]})
        self.assertEqual(m["full_sync.merge.useful_ratio"]["value"], 1.0)
        self.assertGreaterEqual(m["jdbc.rows_written"]["value"], 2 * m["source.rows"]["value"])
        self.assertEqual(m["full_sync.notion.useful_ratio"]["value"], 1.0)
        self.assertLess(m["notion.useful_ratio"]["value"], 0.5)
        self.assertLess(m["merge.useful_ratio"]["value"], 0.5)
        self.assertGreater(m["notion.stale_inactive"]["value"], 0)
        self.assertEqual(m["source.rows_missing"]["value"], 0)

    def test_lanes_mix_smoke(self):
        res = self.result(run("--workload", "lanes_mix", "--seed", "1", "--seconds", "1",
                              "--trace", "0"))
        self.assertEqual(res["failed"], 0)

    def test_refuses_without_program(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns(".work", "target"))
            proc = run("--workload", "sync_delta", "--seed", "1", "--seconds", "1",
                       "--trace", "0", cwd=d)
            self.assertNotEqual(proc.returncode, 0)
            self.assertNotIn('"metrics"', proc.stdout)


class LaneTablesTest(unittest.TestCase):
    def digest(self, seed):
        with tempfile.TemporaryDirectory() as d:
            bench.lane_tables(d, seed)
            h = hashlib.sha256()
            for name in sorted(os.listdir(d)):
                with open(os.path.join(d, name), "rb") as f:
                    h.update(f.read())
            return h.hexdigest()

    def test_seeded(self):
        self.assertEqual(self.digest(3), self.digest(3))
        self.assertNotEqual(self.digest(3), self.digest(4))


if __name__ == "__main__":
    unittest.main()
