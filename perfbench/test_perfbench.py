"""Tests of the benchmark itself. Run from the root of a checkout:

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The JVM tests build the program first (about half a minute) and run the
harness on small inputs; the whole file takes a few minutes.
"""

import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SMALL = dict(run.SIZES, amp_events=6_000)


def per_layer_names():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)["per_layer"]]


def traced(workload, seed, sizes):
    rc, lines = run.run(workload, seed, 1, 1, sizes)
    assert rc == 0, f"{workload} traced run failed with {rc}"
    return json.loads(lines[-2])["env"], json.loads(lines[-1])


class Generators(unittest.TestCase):
    def setUp(self):
        os.makedirs(build.BUILD, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=build.BUILD)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def same_tree(self, a, b):
        cmp = filecmp.dircmp(a, b)
        return not (cmp.left_only or cmp.right_only or
                    filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)[1])

    def check(self, make):
        a, b, c = (os.path.join(self.tmp, x) for x in "abc")
        ca, cb, cc = make(a, 5), make(b, 5), make(c, 6)
        self.assertEqual(ca, cb)
        self.assertTrue(self.same_tree(a, b), "same seed, different bytes")
        self.assertFalse(self.same_tree(a, c), "different seed, same bytes")
        return ca, cc

    def test_amplitude_bytes_follow_the_seed(self):
        counts, _ = self.check(lambda d, s: gen.amplitude(d, s, 12_000))
        self.assertEqual(counts["events"], 12_000)
        self.assertGreater(counts["corrupt"], 0)
        self.assertGreater(counts["profiles"], 0)
        self.assertGreater(counts["merges"], 0)

    def test_mixpanel_bytes_follow_the_seed(self):
        counts, _ = self.check(lambda d, s: gen.mixpanel(d, s, 5_000, 500))
        self.assertTrue(0 < counts["events"] < 5_000)
        self.assertEqual(counts["profiles"], 500)


class Harness(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.classes = build.build()

    def test_stats_selftest(self):
        work = tempfile.mkdtemp(dir=build.BUILD)
        try:
            r = subprocess.run(run.java(self.classes, work, "perfbench.SelfTest"),
                               stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
            self.assertEqual(r.returncode, 0, r.stdout)
        finally:
            shutil.rmtree(work)

    def test_corrupt_line_counted_and_never_loaded(self):
        env, res = traced("etl_amplitude", 3, SMALL)
        self.assertTrue(res["correct"], env.get("problems"))
        m = {k: v["value"] for k, v in res["metrics"].items()}
        self.assertGreater(env["input"]["corrupt_lines"], 0)
        self.assertEqual(m["sources.corrupt_rows"], env["input"]["corrupt_lines"])
        # every acknowledged event is one good line: `correct` compares the
        # gunzipped /import bodies with the generator's count of good lines
        self.assertEqual(res["failed"], 0)
        self.assertEqual(m["sources.rows_in"], env["input"]["events"])
        self.assertEqual(sorted(m), sorted(per_layer_names()))
        for name, value in m.items():
            if name.endswith("self_ms"):
                self.assertGreaterEqual(value, 0, name)

    def test_throttling_repeats_exactly(self):
        a = traced("load_wan", 4, run.SIZES)[1]["metrics"]
        b = traced("load_wan", 4, run.SIZES)[1]["metrics"]
        self.assertGreater(a["sinks.throttled"]["value"], 0)
        for name in ("sinks.posts", "sinks.throttled", "sinks.retries", "operators.jobs"):
            self.assertEqual(a[name]["value"], b[name]["value"], name)

    def test_fails_without_the_program(self):
        bare = tempfile.mkdtemp(dir=build.BUILD)
        try:
            shutil.copy(os.path.join(build.ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(build.HERE, os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "etl_amplitude",
                                "--seed", "1", "--seconds", "1"], cwd=bare,
                               stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=180)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout.strip(), "")
        finally:
            shutil.rmtree(bare)


if __name__ == "__main__":
    unittest.main()
