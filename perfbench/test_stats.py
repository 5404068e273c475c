"""Tests of the benchmark's own arithmetic: the tail-percentile rule,
failure accounting, span self time and job attribution, and the result line
and exit code a failed check produces.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import io
import json
import math
import contextlib
import unittest

import run
import stats


def call(wall, ok=True, units=10, kind="build", p=0, traced=False, cpu=None):
    """A timed call; its CPU time defaults to half its wall time."""
    return {"kind": kind, "pass": p, "traced": traced, "wall_s": wall,
            "cpu_s": wall / 2 if cpu is None else cpu, "jit_s": 0.5, "ok": ok,
            "units": units, "error": "" if ok else "boom"}


def span(i, parent, t0, t1, name="x", ms=None):
    ms = ms or (int(t0 * 1000), int(t1 * 1000))
    return {"id": i, "parent": parent, "name": name, "run": "r", "t0_s": t0, "t1_s": t1,
            "start_ms": ms[0], "end_ms": ms[1], "attrs": {}}


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        v, pct, n = stats.tail(list(range(1, 101)))
        self.assertEqual((v, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in range(1, 101) if x > v), 10)

    def test_eleven_samples_is_the_minimum_with_ten_beyond(self):
        v, pct, _ = stats.tail([5.0] + [9.0] * 10)
        self.assertEqual(v, 5.0)
        self.assertAlmostEqual(pct, 100 / 11)

    def test_fewer_samples_report_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))

    def test_order_does_not_matter(self):
        xs = [float(x) for x in range(40)]
        self.assertEqual(stats.tail(xs), stats.tail(list(reversed(xs))))

    def test_failed_calls_sort_last(self):
        lat = stats.latencies([call(1.0), call(2.0, ok=False), call(3.0)])
        self.assertEqual(lat, [1.0, math.inf, 3.0])
        self.assertEqual(stats.tail(lat)[0], math.inf)
        self.assertEqual(stats.median(lat), 3.0)

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            stats.tail([])


class FailureAccounting(unittest.TestCase):
    def test_failed_call_stays_in_the_denominators(self):
        calls = [call(1.0, units=100), call(1.0, ok=False, units=0)]
        self.assertEqual(stats.throughput(calls), 50.0)
        self.assertEqual(stats.errors(calls, []), (2, 1))

    def test_pass_throughput_is_the_median_pass(self):
        calls = [call(1.0, units=10, p=0), call(1.0, units=10, p=0),
                 call(4.0, units=20, p=1), call(1.0, ok=False, p=2), call(1.0, units=30, p=2)]
        self.assertEqual(stats.pass_throughput(calls), 10.0)

    def test_cpu_time_is_a_separate_denominator(self):
        calls = [call(4.0, units=100, cpu=1.0), call(4.0, ok=False, units=0, cpu=3.0)]
        self.assertEqual(stats.throughput(calls), 12.5)
        self.assertEqual(stats.throughput(calls, "cpu_s"), 25.0)
        self.assertEqual(stats.latencies(calls, "cpu_s"), [1.0, math.inf])

    def test_all_ok(self):
        self.assertEqual(stats.errors([call(1.0)] * 4, [{"ok": True}]), (4, 0))

    def test_failed_check_outside_calls_counts(self):
        self.assertEqual(stats.errors([call(1.0)], [{"ok": False}]), (2, 1))


class SpanArithmetic(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        spans = [span(1, 0, 0.0, 10.0), span(2, 1, 1.0, 4.0), span(3, 1, 5.0, 6.0),
                 span(4, 2, 2.0, 3.0)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 6.0)
        self.assertAlmostEqual(st[2], 2.0)
        self.assertAlmostEqual(st[3], 1.0)
        self.assertAlmostEqual(st[4], 1.0)
        self.assertAlmostEqual(sum(st.values()), 10.0)

    def test_overlapping_children_count_once_and_clip(self):
        spans = [span(1, 0, 0.0, 10.0), span(2, 1, 1.0, 5.0), span(3, 1, 3.0, 12.0)]
        self.assertAlmostEqual(stats.self_times(spans)[1], 1.0)

    def test_coverage(self):
        spans = [span(1, 0, 0.0, 10.0), span(2, 1, 0.0, 4.0), span(3, 1, 4.0, 9.0)]
        self.assertAlmostEqual(stats.coverage(spans), 0.9)

    def test_jobs_go_to_the_innermost_open_span(self):
        spans = [span(1, 0, 0.0, 10.0), span(2, 1, 2.0, 4.0)]
        jobs = [{"id": 0, "submit_ms": 1000}, {"id": 1, "submit_ms": 3000},
                {"id": 2, "submit_ms": 20000}]
        got = stats.attribute_jobs(spans, jobs)
        self.assertEqual([j["id"] for j in got[1]], [0])
        self.assertEqual([j["id"] for j in got[2]], [1])


class ResultLine(unittest.TestCase):
    def raw(self, calls, checks):
        return {"calls": calls, "checks": checks, "cores": 4, "peak_rss_mb": 1000.0,
                "setup": {"session_s": 1.0, "generate_s": 0.6, "warmup_s": 2.0,
                          "session_wall_s": 2.0, "generate_wall_s": 1.0, "warmup_wall_s": 3.0},
                "layer": {}, "spans": [], "jobs": []}

    def report(self, raw):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            code = run.report(raw, trace=False, spans_out=None)
        return json.loads(out.getvalue().splitlines()[-1]), code

    def test_every_metric_with_its_unit(self):
        calls = [call(2.0, p=0), call(4.0, p=1)]
        res, code = self.report(self.raw(calls, [{"name": "c", "ok": True}]))
        self.assertEqual(code, 0)
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(res["metrics"]), set(run.END_TO_END))
        self.assertEqual(res["metrics"]["setup_s"], {"value": 3.6, "unit": "s"})
        self.assertEqual(res["metrics"]["rows_per_cpu_s"]["value"], 7.5)
        self.assertEqual(res["metrics"]["batch_cpu_p50_s"]["value"], 1.5)

    def test_compaction_counts_in_throughput_not_in_batch_time(self):
        calls = [call(2.0, kind="batch", units=30), call(4.0, kind="batch", units=30),
                 call(3.0, kind="compact", units=0)]
        res, _ = self.report(self.raw(calls, []))
        self.assertEqual(res["metrics"]["rows_per_cpu_s"]["value"], 60 / 4.5)
        self.assertEqual(res["metrics"]["batch_cpu_p50_s"]["value"], 1.5)

    def test_failed_check_exits_nonzero_with_errors_counted(self):
        calls = [call(2.0), call(4.0, ok=False)]
        res, code = self.report(self.raw(calls, [{"name": "c", "ok": False, "detail": "d"}]))
        self.assertEqual(code, 1)
        self.assertFalse(res["correct"])
        self.assertEqual((res["attempted"], res["failed"]), (2, 1))
        self.assertEqual(res["metrics"]["rows_per_cpu_s"]["value"], 10 / 3)
        self.assertIsNone(res["metrics"]["batch_cpu_p50_s"]["value"])


if __name__ == "__main__":
    unittest.main()
