#!/usr/bin/env python3
"""Self-tests of the benchmark's own logic.

    python3 perfbench/test_bench.py          # accounting and compare mode
    python3 perfbench/test_bench.py --jvm    # also a full run with a planted
                                             # failing query (builds, ~2 min)
"""
import io
import json
import os
import subprocess
import sys
import tempfile
import unittest
from contextlib import redirect_stdout

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import compare  # noqa: E402
import stats  # noqa: E402

BENCH = {"end_to_end": [
    {"name": "query_gmean_s", "unit": "s", "better": "lower", "bound": 0.1},
    {"name": "queries_per_min", "unit": "1/min", "better": "higher", "bound": 0.1}]}


def read_op(i, key, lat_s, ok=True, digest="d0", phase="measure", pass_=1):
    op = {"i": i, "phase": phase, "pass": pass_, "traced": False, "kind": "read",
          "key": key, "ok": ok, "digest": digest, "lat_s": lat_s,
          "construct_ms": 0.0, "plan_ms": 0.0, "exec_ms": lat_s * 1000}
    if not ok:
        op["error"] = "IllegalStateException: planted failure"
    return op


def run_of(ops, wall):
    return {"ops": ops, "measure_s": wall, "session_s": 1.0, "warmup_s": 2.0,
            "warmup_pass_s": [1.5, 0.5], "heap_live_mb": 100.0, "cores": 4,
            "oracle": {}}


class FailureAccounting(unittest.TestCase):
    def planted(self):
        # 39 good 1 s queries and one planted query that throws after 0.5 s;
        # the measured wall includes the failing op's time
        ops = [read_op(i, "q_good", 1.0) for i in range(39)]
        ops.append(read_op(39, "q_planted", 0.5, ok=False, digest=None))
        for o in ops:
            o["correct"] = o["ok"]
        return run_of(ops, wall=39.5)

    def test_failure_is_counted_and_lowers_throughput(self):
        run = self.planted()
        m, facts = stats.end_to_end(run)
        self.assertEqual(sum(not o["correct"] for o in run["ops"]), 1)
        # 39 correct completions over the whole 39.5 s wall, not over 39 s
        self.assertAlmostEqual(m["queries_per_min"][0], 60 * 39 / 39.5)
        self.assertEqual(facts["query_samples"], 40)

    def test_failure_counts_as_missing_the_latency_limit(self):
        run = self.planted()
        m, facts = stats.end_to_end(run)
        good = run_of([o for o in run["ops"] if o["correct"]], wall=39.0)
        mg, fg = stats.end_to_end(good)
        # the failed 0.5 s op enters the percentiles at the whole wall, so
        # the tail can only rise and nothing gets faster by failing
        self.assertEqual(facts["query_tail_percentile"], 75)
        self.assertGreaterEqual(facts["query_tail_s"], fg["query_tail_s"])
        self.assertGreaterEqual(facts["query_p50_s"], fg["query_p50_s"])
        # the planted key's only sample is the whole wall: sqrt(1 s x 39.5 s)
        self.assertAlmostEqual(m["query_gmean_s"][0], 39.5 ** 0.5)
        self.assertAlmostEqual(mg["query_gmean_s"][0], 1.0)

    def checked(self, reference_value):
        """Three executions of query `q` (oracle: SELECT 1 AS x): the cold
        reference writes `reference_value`, the last op's digest differs."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        ops = [read_op(0, "q", 1.0, phase="warmup", pass_=0),
               read_op(1, "q", 1.0), read_op(2, "q", 1.0, digest="other")]
        run = run_of(ops, 2.0)
        run["oracle"] = {"q": "SELECT 1 AS x"}
        with tempfile.TemporaryDirectory() as d:
            tables = os.path.join(d, "tables")
            os.makedirs(tables)
            for t in check.TABLES:
                pq.write_table(pa.table({"x": [1]}), os.path.join(tables, f"{t}.parquet"))
            os.makedirs(os.path.join(d, "results", "q"))
            pq.write_table(pa.table({"x": pa.array([reference_value], pa.int32())}),
                           os.path.join(d, "results", "q", "part-0.parquet"))
            bad = check.check_analytic(run, tables, os.path.join(d, "results"))
        return bad, [o["correct"] for o in ops]

    def test_oracle_mismatch_fails_every_execution_of_the_query(self):
        bad, correct = self.checked(2)
        self.assertIn("q", bad)
        self.assertEqual(correct, [False, False, False])

    def test_digest_mismatch_against_a_good_reference_fails_that_op(self):
        bad, correct = self.checked(1)
        self.assertEqual(bad, {})
        self.assertEqual(correct, [True, True, False])

    def test_read_kind_includes_the_write_before_it(self):
        ops = [{"kind": "write", "key": "delete", "phase": "measure"},
               read_op(1, "band", 0.5), {"kind": "compact", "key": "compact", "phase": "measure"},
               read_op(3, "band", 0.2, ok=False)]
        ops[1]["correct"], ops[3]["correct"] = True, False
        self.assertEqual(stats.read_kinds(ops, wall=9.0),
                         {("band", "delete"): [0.5], ("band", "compact"): [9.0]})

    def test_tail_percentile_keeps_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 99)


def results(workload, values, metric="query_gmean_s", failed=0):
    return [{"workload": workload, "seed": s, "trace": 0, "failed": failed,
             "metrics": {metric: {"value": v, "unit": "s"}}}
            for s, v in enumerate(values)]


class CompareMode(unittest.TestCase):
    parent = [1.00, 1.01, 0.99, 1.02, 0.98, 1.00, 1.01, 0.99, 1.00, 1.00]

    def verdict(self, change, parent=None, change_failed=0):
        rows = compare.compare(results("w", parent or self.parent),
                               results("w", change, failed=change_failed), BENCH)
        return rows[0][-1], rows[0][-2]

    def test_improved(self):
        v, won = self.verdict([x * 0.8 for x in self.parent])
        self.assertEqual((v, won), ("improved", 1.0))

    def test_fewer_than_ten_pairs_is_unresolved(self):
        rows = compare.compare(results("w", self.parent[:9]),
                               results("w", [x * 0.5 for x in self.parent[:9]]), BENCH)
        self.assertEqual(rows[0][-2:], (1.0, "unresolved"))

    def test_faster_with_more_failures_is_not_improved(self):
        v, won = self.verdict([x * 0.8 for x in self.parent], change_failed=1)
        self.assertEqual(won, 1.0)
        self.assertNotEqual(v, "improved")

    def test_same_is_no_worse_within_bound(self):
        v, _ = self.verdict(list(reversed(self.parent)))
        self.assertEqual(v, "no worse within bound")

    def test_small_loss_within_bound(self):
        v, won = self.verdict([x * 1.05 for x in self.parent])
        self.assertEqual((v, won), ("no worse within bound", 0.0))

    def test_regressed(self):
        v, _ = self.verdict([x * 1.3 for x in self.parent])
        self.assertEqual(v, "regressed")

    def test_noisy_parent_is_unresolved(self):
        noisy = [0.7, 1.3, 0.8, 1.2, 1.0, 0.75, 1.25, 0.9, 1.1, 1.0]
        v, _ = self.verdict(list(reversed(noisy)), parent=noisy)
        self.assertEqual(v, "unresolved")

    def test_higher_is_better_metric(self):
        rows = compare.compare(results("w", self.parent, "queries_per_min"),
                               results("w", [x * 1.3 for x in self.parent], "queries_per_min"),
                               BENCH)
        self.assertEqual(rows[0][-1], "improved")

    def test_cli_prints_every_workload_and_metric(self):
        with tempfile.TemporaryDirectory() as d:
            for side, scale in (("p", 1.0), ("c", 0.8)):
                with open(os.path.join(d, side), "w") as f:
                    for w in ("a", "b"):
                        for r in results(w, [x * scale for x in self.parent]):
                            f.write(json.dumps(r) + "\n")
            bench = os.path.join(d, "bench.json")
            with open(bench, "w") as f:
                json.dump(BENCH, f)
            buf = io.StringIO()
            with redirect_stdout(buf):
                compare.main([os.path.join(d, "p"), os.path.join(d, "c"), "--bench", bench])
        lines = buf.getvalue().splitlines()
        self.assertEqual(len(lines), 1 + 2)  # header + 2 workloads x 1 metric present
        self.assertTrue(all("improved" in x for x in lines[1:]))


class PlantedFailureRun(unittest.TestCase):
    """The whole pipeline with a query that throws planted in the pool."""

    def test_planted_failure_run(self):
        root = os.path.dirname(HERE)
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "analytic",
             "--seed", "1", "--seconds", "2", "--trace", "0",
             "--pool", "tpch_q06_forecast_revenue,bench_planted_failure"],
            cwd=root, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(res["correct"])
        # every pass runs the planted query once and it fails every time;
        # the good query is never counted as failed
        self.assertEqual(res["failed"] * 2, res["attempted"])
        self.assertGreater(res["metrics"]["queries_per_min"]["value"], 0)


if __name__ == "__main__":
    if "--jvm" in sys.argv:
        sys.argv.remove("--jvm")
    else:
        del PlantedFailureRun
    unittest.main()
