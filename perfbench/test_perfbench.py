"""Tests for the benchmark's own metric code and input generators.

    python3 perfbench/test_perfbench.py
"""
import filecmp
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import metrics  # noqa: E402


def span(id_, parent, op, name, start, end, attrs=None, spark=None):
    return {"id": id_, "parent": parent, "op": op, "name": name,
            "start_ns": start, "end_ns": end, "attrs": attrs or {}, "spark": spark or {}}


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        # 1000 samples: p99.9 and p99.5 leave 1 and 5 beyond, p99 leaves 10
        self.assertEqual(metrics.tail(range(1, 1001)), (99.0, 990, 10))
        # 100 samples: p95 leaves 5 beyond, p90 leaves 10
        self.assertEqual(metrics.tail(range(100, 0, -1)), (90.0, 90, 10))

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (100.0, 3.0, 0))
        # 11 samples: the median rank leaves only 5 beyond it
        self.assertEqual(metrics.tail(range(11)), (100.0, 10, 0))


class FailedCountTest(unittest.TestCase):
    def test_calls_and_checks_count_as_attempts(self):
        ops = [{"kind": "a", "ms": 1.0, "ok": True}, {"kind": "a", "ms": 2.0, "ok": False}]
        checks = [{"name": "x", "ok": True}, {"name": "y", "ok": False},
                  {"name": "z", "ok": False}]
        self.assertEqual(metrics.failed_counts(ops, checks), (5, 3))

    def test_failed_calls_give_no_latency_sample(self):
        raw = {"ops": [{"kind": "q", "ms": 5.0, "ok": True}, {"kind": "q", "ms": 9.0, "ok": False}],
               "passes": [1.5], "setup_s": [3.0, 1.0, 2.0], "peak_rss_mb": 100.0}
        m, d = metrics.end_to_end(raw)
        self.assertEqual(m["latency_p50_ms"], 5.0)
        self.assertEqual(m["setup_s"], 2.0)
        self.assertEqual(d["latency_samples"], 1)

    def test_stream_latency_samples_take_precedence(self):
        raw = {"ops": [{"kind": "q", "ms": 5.0, "ok": True}], "latency_ms": [1.0, 2.0, 4.0],
               "passes": [1.5], "setup_s": [1.0], "peak_rss_mb": 100.0}
        self.assertEqual(metrics.end_to_end(raw)[0]["latency_p50_ms"], 2.0)


class SelfTimeTest(unittest.TestCase):
    def test_children_cover_is_subtracted_once(self):
        spans = [
            span(1, 0, 1, "pass", 0, 100),
            span(2, 1, 1, "a", 10, 30),
            span(3, 1, 1, "b", 20, 50),    # overlaps a (another thread)
            span(4, 1, 1, "c", 90, 120),   # runs past its parent's end
            span(5, 2, 1, "d", 12, 18),
        ]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 100 - (40 + 10))
        self.assertEqual(st[2], 20 - 6)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[5], 6)

    def test_per_layer_reports_self_time_per_op_and_zero_overhead_without_base(self):
        ms = 1000000
        spans = [
            span(1, 0, 1, "pass", 0, 100 * ms),
            span(2, 1, 1, "trend.rebin", 0, 40 * ms, {"rows_out": 7}),
            span(3, 1, 1, "trend.detect", 50 * ms, 60 * ms),
            span(4, 1, 1, "trend.detect", 60 * ms, 90 * ms),
        ]
        out = metrics.per_layer({"spans": spans, "passes": [0.1]})
        self.assertEqual(out["trend.rebin.ms"], 40.0)
        self.assertEqual(out["trend.detect.ms"], 40.0)  # both configs of the pass
        self.assertEqual(out["trend.rebin.rows_out"], 7)
        self.assertEqual(out["ml.lex.query.ms"], 0.0)
        self.assertEqual(out["trace.overhead_ms"], 0.0)
        self.assertAlmostEqual(
            metrics.per_layer({"spans": spans, "passes": [0.1]}, [0.08, 0.09])["trace.overhead_ms"],
            15.0)


class GeneratorTest(unittest.TestCase):
    def assert_same_tree(self, a, b):
        cmp = filecmp.dircmp(a, b)
        self.assertEqual(cmp.left_only + cmp.right_only, [])
        for root, _, names in os.walk(a):
            for n in names:
                p = os.path.join(root, n)
                q = os.path.join(b, os.path.relpath(p, a))
                self.assertTrue(filecmp.cmp(p, q, shallow=False), p)

    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory() as t:
            for w in ("trend", "corpus_store"):
                a, b, c = (os.path.join(t, f"{w}-{k}") for k in "abc")
                gen.generate(w, a, 7, 2)
                gen.generate(w, b, 7, 2)
                gen.generate(w, c, 8, 2)
                self.assert_same_tree(a, b)
                with open(os.path.join(a, "truth.json")) as fa, \
                        open(os.path.join(c, "truth.json")) as fc:
                    self.assertNotEqual(fa.read(), fc.read())

    def test_trend_truth_matches_its_inputs(self):
        with tempfile.TemporaryDirectory() as t:
            truth = gen.generate("trend", t, 3, 2)
            dims = truth["dims"]["batch"]
            self.assertEqual(len(truth["spikes"]), dims["counters"])
            rows = 0
            for n in os.listdir(os.path.join(t, "counts")):
                with open(os.path.join(t, "counts", n)) as f:
                    rows += sum(1 for _ in f)
            self.assertEqual(rows, dims["raw_rows"])
            self.assertGreater(truth["grid_rows"], dims["counters"] * dims["days"] * 24 - dims["counters"])


if __name__ == "__main__":
    unittest.main()
