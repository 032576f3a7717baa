"""Tests of the benchmark's Python side.

    python3 -m unittest discover -s perfbench/tests

The output checks themselves live in the harness and are tested by
`sbt test` in perfbench/ (ChecksSpec).
"""
import json
import os
import shutil
import sqlite3
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import gen  # noqa: E402
import run  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = os.path.join(run.build_dir(), "test-tmp")
        shutil.rmtree(cls.tmp, ignore_errors=True)
        os.makedirs(cls.tmp)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def test_same_seed_same_bytes(self):
        a, _ = gen.generate(11, os.path.join(self.tmp, "a.db"))
        b, _ = gen.generate(11, os.path.join(self.tmp, "b.db"), with_answers=False)
        c, _ = gen.generate(12, os.path.join(self.tmp, "c.db"), with_answers=False)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_shape_and_answers(self):
        digest, ans_path = gen.generate(13, os.path.join(self.tmp, "d.db"))
        ans = json.load(open(ans_path))
        self.assertEqual(ans["sha256"], digest)
        self.assertEqual(ans["rows"], gen.DAYS * gen.ROWS_PER_DAY)
        conn = sqlite3.connect(os.path.join(self.tmp, "d.db"))
        sql = conn.execute("SELECT sql FROM sqlite_master WHERE name = 'queries'").fetchone()[0]
        self.assertIn("id INTEGER PRIMARY KEY AUTOINCREMENT", sql)
        null_share = conn.execute(
            "SELECT avg(reply_time IS NULL) FROM queries").fetchone()[0]
        self.assertAlmostEqual(null_share, 0.05, delta=0.01)
        conn.close()
        full = ans["windows"]["91"]
        self.assertEqual(full["total"], ans["rows"])
        self.assertEqual(full["unique_clients"], gen.CLIENTS)
        self.assertEqual(full["classes"], ["Allowed", "Blocked", "Other"])
        for days in gen.WINDOWS:
            w = ans["windows"][str(days)]
            self.assertEqual(len(w["top10"]), 10)
            self.assertEqual(w["top_client"], w["top10"][0])
            self.assertEqual(sum(c["count"] for c in w["clients"]), w["total"])
            self.assertLess(w["allowed"] + w["blocked"], w["total"])  # some "Other"
        # a 31-day window keeps about a third of the file
        self.assertAlmostEqual(ans["windows"]["31"]["total"] / ans["rows"], 31 / 91, delta=0.02)


class RecordTest(unittest.TestCase):
    def fake_record(self, names, failed=0):
        return {"attempted": 10, "failed": failed,
                "metrics": {n: {"value": 1.5, "unit": u} for n, u in names.items()}}

    def test_every_metric_with_its_unit(self):
        for trace in (0, 1):
            want = run.expected_metrics(trace)
            out = run.summarize(self.fake_record(want), want)
            self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
            self.assertEqual(set(out["metrics"]), set(want))
            for name, m in out["metrics"].items():
                self.assertEqual(m["unit"], want[name])
            self.assertTrue(out["correct"])

    def test_failed_check_is_not_correct(self):
        want = run.expected_metrics(0)
        self.assertFalse(run.summarize(self.fake_record(want, failed=1), want)["correct"])

    def test_missing_metric_is_an_error(self):
        want = run.expected_metrics(0)
        rec = self.fake_record(want)
        del rec["metrics"]["setup_s"]
        with self.assertRaises(SystemExit):
            run.summarize(rec, want)

    def test_baseline_records_carry_every_metric(self):
        base = os.path.join(BENCH, "baseline")
        workloads = [w["name"] for w in SPEC["workloads"]]
        for w in workloads:
            for trace, section in ((0, "end_to_end"), (1, "per_layer")):
                rec = json.load(open(os.path.join(base, f"{w}-trace{trace}.json")))
                for m in SPEC[section]:
                    self.assertEqual(rec["metrics"][m["name"]]["unit"], m["unit"],
                                     f"{w} trace={trace} {m['name']}")
                self.assertEqual(rec["failed"], 0)


if __name__ == "__main__":
    unittest.main()
