"""Tests for the benchmark's pure parts. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402
import rollup  # noqa: E402
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(rollup.tail_percentile(19))
        self.assertEqual(rollup.tail_percentile(20), 50.0)
        self.assertEqual(rollup.tail_percentile(40), 75.0)
        self.assertEqual(rollup.tail_percentile(99), 75.0)
        self.assertEqual(rollup.tail_percentile(100), 90.0)
        self.assertEqual(rollup.tail_percentile(200), 95.0)
        self.assertEqual(rollup.tail_percentile(1000), 99.0)
        self.assertEqual(rollup.tail_percentile(10000), 99.9)

    def test_p90_omitted_below_100_operations(self):
        self.assertIsNone(rollup.p90_ms([1.0] * 99))
        lat = [float(i) for i in range(1, 101)]
        self.assertEqual(rollup.p90_ms(lat), 90.0)
        # 10 samples lie beyond the reported value
        self.assertEqual(sum(1 for x in lat if x > rollup.p90_ms(lat)), 10)

    def test_op_p50_is_per_line_median_then_geometric_mean(self):
        def op(name, ms):
            return {"name": name, "start_us": 0, "end_us": ms * 1000}
        self.assertAlmostEqual(rollup.op_p50_ms([op("a", 1), op("a", 3), op("a", 100)]), 3)
        ops = [op("a", 100), op("a", 100), op("b", 400), op("b", 400), op("b", 9)]
        self.assertAlmostEqual(rollup.op_p50_ms(ops), 200)

    def test_nearest_rank(self):
        self.assertEqual(rollup.percentile([5, 1, 3], 50.0), 3)
        self.assertEqual(rollup.percentile([7], 90.0), 7)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        children = [(10, 30), (20, 50), (90, 120)]
        # covered inside [0, 100]: 10..50 and 90..100
        self.assertEqual(rollup.union_length(children, 0, 100), 50)
        self.assertEqual(rollup.self_time(0, 100, children), 50)

    def test_nested_and_disjoint(self):
        self.assertEqual(rollup.self_time(0, 100, [(0, 100), (10, 20)]), 0)
        self.assertEqual(rollup.self_time(0, 100, []), 100)
        self.assertEqual(rollup.self_time(0, 100, [(200, 300)]), 100)

    def test_layer_roll_up(self):
        ops = [{"id": "p1.0", "name": "q", "traced": True,
                "start_us": 0, "end_us": 1000, "ok": True}]
        records = [
            {"kind": "op", "op": "p1.0", "name": "q", "start_us": 0, "end_us": 1000},
            {"kind": "build", "op": "p1.0", "name": "build", "start_us": 0, "end_us": 300},
            {"kind": "action", "op": "p1.0", "name": "action", "start_us": 300,
             "end_us": 1000},
            {"kind": "sql_start", "exec": 7, "op": "p1.0", "time_us": 400},
            {"kind": "sql_end", "exec": 7, "time_us": 900},
            # a nested execution inside 7 must not count twice
            {"kind": "sql_start", "exec": 8, "op": "p1.0", "time_us": 450},
            {"kind": "sql_end", "exec": 8, "time_us": 600},
            # two overlapping jobs of the execution, one untagged job
            # that belongs to the operation in flight
            {"kind": "job", "op": "p1.0", "sql_exec": "7", "start_us": 500,
             "end_us": 700},
            {"kind": "job", "op": "p1.0", "sql_exec": "7", "start_us": 600,
             "end_us": 800},
            {"kind": "job", "op": None, "sql_exec": None, "start_us": 100,
             "end_us": 200},
        ]
        spans, owner = rollup.build_spans(records, ops)
        self.assertEqual(owner({"op": None}, 150), "p1.0")
        self.assertIsNone(owner({"op": None}, 5000))
        parents = sorted(s["parent"] for s in spans if s["kind"] == "job")
        self.assertEqual(parents, ["build@p1.0", "sql#7", "sql#7"])
        self_s = rollup.layer_self_seconds(spans)
        self.assertAlmostEqual(self_s["op"], 0.0)
        self.assertAlmostEqual(self_s["build"], 200e-6)
        self.assertAlmostEqual(self_s["action"], 200e-6)
        self.assertAlmostEqual(self_s["sql"], 200e-6)
        self.assertAlmostEqual(self_s["job"], 400e-6)
        # the layers partition the operation's wall time
        self.assertAlmostEqual(sum(self_s.values()), 1000e-6)


class FailureCounting(unittest.TestCase):
    def test_raised_and_wrong_output(self):
        ops = [{"name": "a", "ok": True}, {"name": "a", "ok": True},
               {"name": "b", "ok": False}, {"name": "c", "ok": True}]
        self.assertEqual(rollup.count_failed(ops, set()), 1)
        # a wrong output taints every operation of that line, once each
        self.assertEqual(rollup.count_failed(ops, {"a"}), 3)
        self.assertEqual(rollup.count_failed(ops, {"b"}), 1)


class Generators(unittest.TestCase):
    def test_blobs_are_byte_identical_per_seed(self):
        with tempfile.TemporaryDirectory() as d:
            digests = []
            for i, seed in enumerate((5, 5, 6)):
                os.makedirs(os.path.join(d, str(i)))
                blobs = os.path.join(d, str(i), "blobs.parquet")
                gen.gen_blobs(blobs, 2000, 4, 3, seed=seed)
                digests.append(gen.digest(
                    [blobs, os.path.join(d, str(i), "init.csv")]))
            self.assertEqual(digests[0], digests[1])
            self.assertNotEqual(digests[0], digests[2])

    def test_tables_are_byte_identical_per_seed(self):
        with tempfile.TemporaryDirectory() as d:
            digests = []
            for i, seed in enumerate((42, 42, 43)):
                out = os.path.join(d, str(i))
                gen.gen_tables(out, sf=0.001, seed=seed)
                digests.append(gen.digest(
                    [os.path.join(out, f"{t}.parquet") for t in gen.TABLES]))
            self.assertEqual(digests[0], digests[1])
            self.assertNotEqual(digests[0], digests[2])

    def test_line_order_is_a_seeded_permutation(self):
        lines = run.CATALOG_LIGHT
        self.assertEqual(run.line_order(lines, 3), run.line_order(lines, 3))
        self.assertNotEqual(run.line_order(lines, 3), run.line_order(lines, 4))
        self.assertEqual(sorted(run.line_order(lines, 3)), sorted(lines))


if __name__ == "__main__":
    unittest.main()
