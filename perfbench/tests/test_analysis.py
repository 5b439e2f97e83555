"""Unit tests for the benchmark's own analysis code.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import analysis as A  # noqa: E402


def span(id_, parent, start, end, kind="x", name="n", req=""):
    return {"id": id_, "parent": parent, "kind": kind, "name": name,
            "req": req, "start": start, "end": end}


class PercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        with self.assertRaises(A.TooFewSamples):
            A.percentile(range(99), 0.90)
        value, n, beyond = A.percentile(range(1, 101), 0.90)
        self.assertEqual((value, n, beyond), (90, 100, 10))

    def test_p75_from_forty_samples(self):
        value, n, beyond = A.percentile(range(40, 0, -1), 0.75)
        self.assertEqual((value, n, beyond), (30, 40, 10))
        with self.assertRaises(A.TooFewSamples):
            A.percentile(range(39), 0.75)

    def test_p99_needs_a_thousand(self):
        with self.assertRaises(A.TooFewSamples):
            A.percentile(range(999), 0.99)
        self.assertEqual(A.percentile(range(1000), 0.99)[2], 10)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 10
        self.assertEqual(A.percentile(xs, 0.75),
                         A.percentile(sorted(xs), 0.75))


class SpanTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(A.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(A.union_length([]), 0)
        self.assertEqual(A.union_length([(3, 3), (4, 2)]), 0)

    def test_self_time_subtracts_covered_children(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 40),
                 span(2, 0, 30, 60), span(3, 1, 10, 20),
                 span(4, 0, 90, 120)]
        self_ms = A.self_times(spans)
        # root: children cover 10..60 and 90..100 (clipped at its end)
        self.assertEqual(self_ms[0], 100 - 50 - 10)
        self.assertEqual(self_ms[1], 30 - 10)
        self.assertEqual(self_ms[2], 30)
        self.assertEqual(self_ms[3], 10)

    def test_action_split(self):
        actions = [span(0, -1, 0, 100)]
        jobs = [{"start": 20, "end": 50, "stages": 1},
                {"start": 40, "end": 70, "stages": 2},
                {"start": 200, "end": 300, "stages": 1}]
        wall, pre, gap = A.action_split(actions, jobs)
        self.assertAlmostEqual(wall, 0.1)
        self.assertAlmostEqual(pre, 0.02)
        self.assertAlmostEqual(gap, 0.1 - 0.02 - 0.05)


class SetupTest(unittest.TestCase):
    def test_setup_runs_from_jvm_start_through_the_first_setup(self):
        spans = [span(0, -1, 1000, 9000, "setup"),
                 span(1, 0, 1000, 3000, "session"),
                 span(2, 0, 3000, 4000, "warmup"),
                 span(3, 0, 4000, 9000, "prepay", "ps"),
                 span(4, -1, 9000, 11000, "setup"),
                 span(5, 4, 9000, 9100, "session"),
                 span(6, 4, 9100, 9500, "warmup"),
                 span(7, -1, 11000, 14000, "setup")]
        m = A.setup_metrics({"spans": spans, "jvm_start": 0})
        self.assertEqual(m, {"setup_s": 9.0, "setup.warm_s": 2.5,
                             "setup.session_s": 2.0, "setup.warmup_s": 1.0})


class BatchLatencyTest(unittest.TestCase):
    def record(self):
        """A first pass, a warm-up pass and three measured passes over 40
        tail rows of about 0.1 s and one heavy row of 5 s."""
        spans, rows = [], [f"t{i}" for i in range(40)] + ["heavy"]
        t = 0
        for p in range(5):
            pid = len(spans)
            spans.append(None)
            t0 = t
            for r in rows:
                d = 5000 if r == "heavy" else 100 + p if p > 1 else 500
                spans.append(span(len(spans), pid, t, t + d, "query",
                                  f"M/{r}"))
                t += d
            spans[pid] = span(pid, -1, t0, t, "pass", "pass", f"batch/{p}")
        sid = len(spans)
        spans += [span(sid, -1, -500, -100, "setup"),
                  span(sid + 1, sid, -500, -300, "session"),
                  span(sid + 2, sid, -300, -100, "warmup")]
        return {"workload": "batch", "spans": spans, "jvm_start": -1000,
                "failures": [], "rows": rows, "tail_rows": rows[:-1],
                "warmup_passes": 1}

    def test_latency_covers_the_tail_rows_only(self):
        m = A.end_to_end(self.record())
        # measured tail samples: 40 each of 0.102, 0.103, 0.104 s
        self.assertAlmostEqual(m["lat_mean_s"], 0.103)
        self.assertAlmostEqual(m["lat_tail_s"], 0.104)
        self.assertAlmostEqual(m["first_result_s"], 25.0)
        self.assertAlmostEqual(m["setup_s"], 0.9)
        self.assertAlmostEqual(m["ops_per_s"], 123 / (3 * 5 + 12.36))


class StreamTest(unittest.TestCase):
    def record(self):
        def prog(end, offset):
            return {"start": end - 500, "end_offsets": [str(offset)],
                    "duration_ms": {"triggerExecution": 500}}
        return {"stream": {
            "rate": 1000, "window": [10_000, 20_000],
            "progress": [prog(9_000, 8), prog(11_000, 10), prog(15_000, 14),
                         prog(19_000, 18), prog(25_000, 24)]}}

    def test_rate_counts_offsets_not_input_rows(self):
        # 10 clock seconds of 1000 rows between the ends at 9 s and 19 s
        self.assertAlmostEqual(A.sustained_rate(self.record()), 1000.0)


class SchemaTest(unittest.TestCase):
    def bench(self):
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
            return json.load(f)

    def test_metric_lists_match_the_benchmark_file(self):
        b = self.bench()
        e2e = {m["name"]: m["unit"] for m in b["end_to_end"]}
        per = {m["name"]: m["unit"] for m in b["per_layer"]}
        self.assertEqual(e2e, A.END_TO_END)
        self.assertEqual(per, A.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in b["workloads"]),
                         sorted(A.TAIL_Q))

    def test_result_object(self):
        r = A.result(True, 12, 0, {"setup_s": 1.5, "ops_per_s": 3})
        self.assertEqual(set(r), {"correct", "attempted", "failed",
                                  "metrics"})
        self.assertEqual(r["metrics"]["setup_s"],
                         {"value": 1.5, "unit": "s"})
        self.assertEqual(r["metrics"]["ops_per_s"]["unit"], "1/s")
        json.dumps(r)
        with self.assertRaises(KeyError):
            A.result(True, 1, 0, {"not_a_metric": 1.0})


if __name__ == "__main__":
    unittest.main()
