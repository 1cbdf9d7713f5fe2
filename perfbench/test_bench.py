"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest

import datagen
import run
import stats


def read_op(due, start, end, ok=True, sent=None, kind="e2"):
    return {"window": "plain", "kind": kind, "due_ms": due,
            "sent_ms": due if sent is None else sent,
            "start_ms": start, "end_ms": end, "ok": ok}


class PercentileRule(unittest.TestCase):
    def test_highest_tail_keeps_ten_samples_beyond_it(self):
        for n in range(1, 3000):
            q = stats.tail_percentile(n)
            if q is None:
                self.assertLess(n * (100 - min(stats.TAIL_PERCENTILES)), 1000)
                continue
            self.assertGreaterEqual(n * (100 - q), 1000)
            for h in (h for h in stats.TAIL_PERCENTILES if h > q):
                self.assertLess(n * (100 - h), 1000)

    def test_known_cut_points(self):
        self.assertIsNone(stats.tail_percentile(99))
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(199), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)

    def test_summary_reports_tail_only_when_allowed(self):
        few = [read_op(i, i, i + 5) for i in range(50)]
        self.assertNotIn("tail_ms", stats.summarize(few, 10.0))
        many = [read_op(i, i, i + 5) for i in range(200)]
        s = stats.summarize(many, 10.0)
        self.assertEqual(s["tail_q"], 95.0)
        self.assertEqual(s["n"], 200)


class OpenLoop(unittest.TestCase):
    def test_latency_runs_from_the_due_time(self):
        # due at 100 ms, queued behind a stall until 500, done at 600:
        # the stall's wait counts, so latency is 500 ms, not 100 ms
        self.assertEqual(stats.latency_ms(read_op(100.0, 500.0, 600.0)), 500.0)

    def test_generator_lateness(self):
        self.assertEqual(stats.lateness_ms(read_op(100.0, 140.0, 150.0, sent=130.0)), 30.0)
        self.assertEqual(stats.lateness_ms(read_op(100.0, 100.0, 150.0, sent=99.0)), 0.0)

    def test_schedule_is_seeded_poisson_at_the_rate(self):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            n = run.write_schedule(a, 3, 200)
            run.write_schedule(b, 3, 200)
            run.write_schedule(c, 4, 200)
            with open(a) as fa, open(b) as fb, open(c) as fc:
                ta, tb, tc = fa.read(), fb.read(), fc.read()
        self.assertEqual(ta, tb)
        self.assertNotEqual(ta, tc)
        rows = [ln.split("\t") for ln in ta.splitlines()]
        self.assertEqual(n, run.RATE_PER_S * 200)
        self.assertEqual(len(rows), n)
        dues = [float(r[0]) for r in rows]
        self.assertEqual(dues, sorted(dues))
        self.assertTrue(all(0 <= x < 200_000 for x in dues))
        for k, share in run.SERVE_MIX.items():
            self.assertLess(abs(sum(r[1] == k for r in rows) - n * share), 1)


class FailureAccounting(unittest.TestCase):
    def test_injected_failure_counts_as_failed_and_misses_the_limit(self):
        ops = [read_op(i * 10.0, i * 10.0, i * 10.0 + 50) for i in range(9)]
        ops.append(read_op(90.0, 90.0, 95.0, ok=False))  # fast but wrong
        s = stats.summarize(ops, 1.0)
        self.assertEqual(s["failed"], 1)
        self.assertAlmostEqual(s["failed_frac"], 0.1)
        self.assertEqual(s["ok_per_s"], 9.0)
        self.assertEqual(stats.latency_ms(ops[-1]), stats.MISSED_MS)
        self.assertGreater(stats.latency_ms(ops[-1]), 10_000)

    def test_unfinished_request_misses_the_limit(self):
        op = {"window": "plain", "kind": "e3", "due_ms": 250.0, "ok": False}
        self.assertEqual(stats.latency_ms(op), stats.MISSED_MS)

    def test_failures_move_the_weighted_median(self):
        raw = {"ops": [read_op(0, 0, 10, kind=k) for k in run.SERVE_MIX] * 3}
        base = run.op_ms("serve", raw, "plain")
        raw["ops"] += [read_op(0, 0, 10, ok=False, kind="e2")] * 4
        self.assertGreater(run.op_ms("serve", raw, "plain"), base)


class Inputs(unittest.TestCase):
    def test_same_seed_same_inputs_and_fixed_sizes(self):
        with tempfile.TemporaryDirectory() as d:
            a = datagen.generate(os.path.join(d, "a"), 5)
            b = datagen.generate(os.path.join(d, "b"), 5)
            c = datagen.generate(os.path.join(d, "c"), 6)
            for t in a:
                with open(os.path.join(d, "a", f"{t}.parquet"), "rb") as fa, \
                        open(os.path.join(d, "b", f"{t}.parquet"), "rb") as fb:
                    self.assertEqual(fa.read(), fb.read())
                self.assertEqual(a[t]["rows"], c[t]["rows"])


class Spec(unittest.TestCase):
    def test_end_to_end_metrics_match_the_spec(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        raw = {"ops": [read_op(0, 0, 10, kind=k) for k in run.SERVE_MIX],
               "setup_s": 2.0}
        self.assertEqual(sorted(run.end_to_end("serve", raw)),
                         sorted(m["name"] for m in spec["end_to_end"]))

    def test_build_op_is_one_batch_iteration(self):
        # median E1 build plus median analytics pass
        ops = [read_op(0, 0, t, kind="build") for t in (4000, 3000, 5000)]
        ops += [read_op(0, 0, t, kind="analytics") for t in (2000, 9000, 1000)]
        self.assertEqual(run.op_ms("build", {"ops": ops}, "plain"), 6000)


class TwinCheck(unittest.TestCase):
    def test_hash_ignores_row_and_column_order(self):
        a = run.table_hash([(1, "x"), (2, "y")], ["k", "v"])
        b = run.table_hash([("y", 2), ("x", 1)], ["v", "k"])
        self.assertEqual(a, b)
        self.assertNotEqual(a, run.table_hash([(1, "x"), (2, "z")], ["k", "v"]))


if __name__ == "__main__":
    unittest.main()
