"""Tests of the benchmark's own code (no Spark needed):

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import pyarrow.parquet as pq  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


class TailPercentileTest(unittest.TestCase):
    def test_samples_beyond_nearest_rank(self):
        self.assertEqual(metrics.beyond(30, 66), 10)
        self.assertEqual(metrics.beyond(100, 90), 10)
        self.assertEqual(metrics.beyond(20, 50), 10)

    def test_run_sizes_leave_ten_beyond_the_tail(self):
        # registry runs hold at least 40 ops and report p75
        self.assertGreaterEqual(metrics.beyond(40, 75), metrics.MIN_BEYOND)
        self.assertLess(metrics.beyond(39, 75), metrics.MIN_BEYOND)
        self.assertLess(metrics.beyond(40, 76), metrics.MIN_BEYOND)

    def test_percentile_values(self):
        xs = list(range(1, 41))
        self.assertEqual(metrics.percentile(xs, 75), 30)
        self.assertEqual(metrics.percentile(xs, 50), 20)
        self.assertEqual(metrics.percentile([5.0], 99), 5.0)
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


def span(i, parent, start, end, name="s", op=0):
    return {"id": i, "parent": parent, "op": op, "name": name, "start": start, "end": end}


class SelfTimeTest(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertAlmostEqual(metrics.self_times([span(0, -1, 1.0, 3.5)])[0], 2.5)

    def test_children_are_subtracted(self):
        spans = [span(0, -1, 0.0, 10.0), span(1, 0, 1.0, 3.0), span(2, 0, 4.0, 8.0),
                 span(3, 2, 5.0, 6.0)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[0], 4.0)   # 10 - (2 + 4)
        self.assertAlmostEqual(st[2], 3.0)   # grandchild counts only against its parent
        self.assertAlmostEqual(st[3], 1.0)

    def test_overlapping_children_count_once(self):
        spans = [span(0, -1, 0.0, 10.0), span(1, 0, 1.0, 5.0), span(2, 0, 3.0, 7.0)]
        self.assertAlmostEqual(metrics.self_times(spans)[0], 4.0)  # covered 1..7

    def test_children_clipped_to_parent(self):
        spans = [span(0, -1, 2.0, 6.0), span(1, 0, 1.0, 3.0)]
        self.assertAlmostEqual(metrics.self_times(spans)[0], 3.0)


class FailureCountingTest(unittest.TestCase):
    def ops(self):
        return [{"op": 0, "ok": True, "name": "q_a", "rows": 5, "lat_s": 0.1},
                {"op": 1, "ok": False, "name": "q_a", "error": "boom", "lat_s": 0.1},
                {"op": 2, "ok": True, "name": "q_b", "rows": 7, "lat_s": 0.2},
                {"op": 3, "ok": True, "name": "q_b", "rows": 8, "lat_s": 0.3}]

    def test_raised_and_wrong_outputs_both_fail(self):
        bad = checks.check_registry({"ops": self.ops()}, {"q_a": 5, "q_b": 7})
        self.assertEqual(sorted(bad), [1, 3])
        self.assertEqual(metrics.count_failures(self.ops(), bad), (4, 2))

    def test_unknown_query_fails(self):
        bad = checks.check_registry({"ops": self.ops()[:1]}, {})
        self.assertEqual(list(bad), [0])

    def test_summary_counts_and_excludes_failed_latencies(self):
        rec = {"ops": self.ops(), "setup_s": [3.0, 1.0, 2.0], "window_s": 2.0,
               "peak_rss_mb": 100.0, "spans": []}
        res = metrics.summarize(rec, {1: "boom", 3: "rows"}, 75, False)
        line = res["line"]
        self.assertEqual((line["attempted"], line["failed"], line["correct"]), (4, 2, False))
        self.assertAlmostEqual(res["error_ratio"], 0.5)
        self.assertAlmostEqual(line["metrics"]["op_p50_s"]["value"], 0.15)
        self.assertAlmostEqual(line["metrics"]["setup_s"]["value"], 2.0)
        self.assertAlmostEqual(line["metrics"]["ops_per_s"]["value"], 1.0)

    def test_no_success_is_an_error(self):
        rec = {"ops": self.ops()[1:2], "setup_s": [1.0], "window_s": 1.0, "peak_rss_mb": 1.0}
        with self.assertRaises(SystemExit):
            metrics.summarize(rec, {1: "boom"}, 75, False)


class TablesTest(unittest.TestCase):
    def test_tables_match_their_recorded_digests(self):
        with open(os.path.join(run.TABLES, "SHA256SUMS")) as f:
            sums = dict(reversed(line.split()) for line in f if line.strip())
        self.assertEqual(len(sums), 10)
        for name, want in sums.items():
            with open(os.path.join(run.TABLES, name), "rb") as f:
                self.assertEqual(hashlib.sha256(f.read()).hexdigest(), want, name)


class GeneratorTest(unittest.TestCase):
    N = 1000  # source events: the first rows of the sf0.1 table

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.events = os.path.join(cls.tmp.name, "events.parquet")
        events = pq.read_table(os.path.join(run.TABLES, "events.parquet"))
        pq.write_table(events.slice(0, cls.N), cls.events)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def etl(self, seed, name):
        out = os.path.join(self.tmp.name, name)
        summary = gen.make_etl_days(self.events, out, seed)
        return digest(out), summary

    def test_etl_days_same_seed_same_bytes(self):
        self.assertEqual(self.etl(7, "a")[0], self.etl(7, "b")[0])

    def test_etl_days_differ_across_seeds(self):
        self.assertNotEqual(self.etl(7, "c")[0], self.etl(8, "d")[0])

    def test_etl_days_hold_every_passback_form_and_injection(self):
        _, summary = self.etl(3, "e")
        n = self.N
        for kind in gen.PASSBACK_SHARES:
            self.assertGreater(summary[kind], 0, kind)
        self.assertEqual(sum(summary[k] for k in gen.PASSBACK_SHARES), n)
        for kind in ("empty_user", "null_ts", "dup_key"):
            self.assertGreater(summary[kind], 0, kind)
        self.assertEqual(summary["records"], n + summary["dup_key"])
        self.assertEqual(len(os.listdir(os.path.join(self.tmp.name, "e"))), gen.MONTH_DAYS)


if __name__ == "__main__":
    unittest.main()
