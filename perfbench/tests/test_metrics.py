"""Tests of the benchmark's own arithmetic and result check.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import build     # noqa: E402
import metrics   # noqa: E402
import run       # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_reported_with_ten_samples_beyond(self):
        values = list(range(1, 100))          # p90 = 89.2, 10 samples above
        self.assertAlmostEqual(metrics.supported_percentile(values, 90), 89.2)

    def test_withheld_with_nine_samples_beyond(self):
        values = list(range(1, 91))           # p90 = 81.1, 9 samples above
        self.assertIsNone(metrics.supported_percentile(values, 90))

    def test_end_to_end_omits_unsupported_p90(self):
        raw = raw_record([(0, 10), (20, 30), (40, 55)])
        m = metrics.end_to_end(raw)
        self.assertNotIn("query_p90_ms", m)
        self.assertEqual(m["query_p50_ms"]["value"], 10)
        self.assertEqual(m["query_p50_ms"]["n"], 3)


def raw_record(intervals, spans=()):
    stmts = [{"id": i + 1, "name": f"s{i + 1}", "pass": 1, "thread": i, "start": s, "end": e,
              "rows": 1, "error": None, "counters": {}}
             for i, (s, e) in enumerate(intervals)]
    return {"statements": stmts, "spans": list(spans), "setup_s": 1.0, "setup": {},
            "heap_retained_mb": 50.0, "slots": 4,
            "timed": {"start": stmts[0]["start"], "end": max(s["end"] for s in stmts)}}


def span(name, start, end, stmt):
    return {"name": name, "start": start, "end": end, "stmt": stmt}


class OverlappingStatements(unittest.TestCase):
    """Statement 1 runs 0-100 and statement 2 runs 50-150 on another client.
    Statement 1's two jobs overlap each other, and statement 2's job runs
    inside statement 1's interval; it must not count for statement 1."""

    def setUp(self):
        self.raw = raw_record(
            [(0, 100), (50, 150)],
            spans=[span("operators.build", 0, 5, 1), span("driver.collect", 5, 100, 1),
                   span("exec.job", 10, 60, 1), span("exec.job", 40, 80, 1),
                   span("exec.stage", 12, 58, 1),
                   span("operators.build", 50, 52, 2), span("driver.collect", 52, 150, 2),
                   span("exec.job", 55, 120, 2)])
        self.spans = metrics.build_spans(self.raw)

    def test_driver_gap_uses_own_jobs_only(self):
        s1, s2 = self.raw["statements"]
        self.assertEqual(metrics.driver_gap(s1, self.raw["spans"]), 100 - 70)
        self.assertEqual(metrics.driver_gap(s2, self.raw["spans"]), 100 - 65)

    def test_parents_follow_containment_within_a_statement(self):
        parent = {(s["stmt"], s["name"], s["start"]): s["parent"] for s in self.spans}
        collect1 = next(s["id"] for s in self.spans
                        if s["stmt"] == 1 and s["name"] == "driver.collect")
        job1 = next(s["id"] for s in self.spans
                    if s["stmt"] == 1 and s["name"] == "exec.job" and s["start"] == 10)
        self.assertEqual(parent[(1, "exec.job", 10)], collect1)
        self.assertEqual(parent[(1, "exec.job", 40)], collect1)
        self.assertEqual(parent[(1, "exec.stage", 12)], job1)
        self.assertEqual(parent[(2, "exec.job", 55)],
                         next(s["id"] for s in self.spans
                              if s["stmt"] == 2 and s["name"] == "driver.collect"))

    def test_self_time_subtracts_union_of_children(self):
        st = metrics.self_times(self.spans)
        by = {(s["stmt"], s["name"], s["start"]): st[s["id"]] for s in self.spans}
        self.assertEqual(by[(1, "driver.collect", 5)], 95 - 70)   # jobs cover 10-80
        self.assertEqual(by[(1, "exec.job", 10)], 50 - 46)        # stage covers 12-58
        self.assertEqual(by[(2, "driver.collect", 52)], 98 - 65)
        self.assertEqual(by[(1, "statement", 0)], 0)

    def test_per_layer_sums_and_coverage(self):
        m = metrics.per_layer(self.raw)
        self.assertEqual(m["driver.gap_ms"]["value"], 30 + 35)
        self.assertEqual(m["trace.coverage"]["value"], 1.0)


class CompareVerdict(unittest.TestCase):
    parent = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]

    def test_improved(self):
        change = [x * 0.8 for x in self.parent]
        self.assertEqual(metrics.verdict(self.parent, change, "lower", 0.1), "improved")

    def test_higher_is_better(self):
        change = [x * 1.2 for x in self.parent]
        self.assertEqual(metrics.verdict(self.parent, change, "higher", 0.1), "improved")
        self.assertEqual(metrics.verdict(change, self.parent, "higher", 0.1), "regressed")

    def test_within_bound(self):
        change = [x * 1.03 for x in self.parent]
        self.assertEqual(metrics.verdict(self.parent, change, "lower", 0.1), "within bound")

    def test_regressed(self):
        change = [x * 1.3 for x in self.parent]
        self.assertEqual(metrics.verdict(self.parent, change, "lower", 0.1), "regressed")

    def test_unresolved_when_parent_spread_exceeds_bound(self):
        parent = [60, 140, 80, 120, 100, 70, 130, 90, 110, 100]
        change = [x * 1.05 for x in parent]
        self.assertEqual(metrics.verdict(parent, change, "lower", 0.1), "unresolved")


class WrongFingerprint(unittest.TestCase):
    """Runs the JVM check: a deliberately wrong expected fingerprint must be
    recorded as a failed statement."""

    def test_wrong_fingerprint_is_a_failure(self):
        build.ensure_built()
        os.makedirs(run.OUT, exist_ok=True)
        log = os.path.join(run.OUT, "selftest.log")
        ok = run.run_jvm([], log, main="perfbench.SelfTest")
        with open(log) as f:
            out = f.read()
        self.assertTrue(ok, out[-3000:])
        self.assertIn("ok wrong fingerprint fails", out)


if __name__ == "__main__":
    unittest.main()
