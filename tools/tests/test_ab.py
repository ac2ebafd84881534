"""Unit tests for tools/ab.py's summary, verdict and failure naming: python3 -m unittest discover -s tools/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import ab  # noqa: E402


class SummarizeTest(unittest.TestCase):
    def test_medians_quartiles_ratios_and_wins(self):
        pairs = [({"wall_s": p, "peak_rss_mb": 100.0}, {"wall_s": c, "peak_rss_mb": r})
                 for p, c, r in [(1.0, 0.5, 110.0), (2.0, 1.0, 90.0),
                                 (3.0, 3.3, 100.0), (4.0, 2.0, 95.0),
                                 (5.0, 4.0, 100.0)]]
        s = ab.summarize(pairs, {"wall_s": "lower", "peak_rss_mb": "lower"})
        w = s["wall_s"]
        self.assertEqual(w["parent"], (2.0, 3.0, 4.0))
        self.assertEqual(w["change"], (1.0, 2.0, 3.3))
        self.assertEqual([round(r, 6) for r in w["ratios"]], [0.5, 0.5, 1.1, 0.5, 0.8])
        self.assertEqual((w["wins"], w["pairs"]), (4, 5))
        # ties are not wins
        self.assertEqual(s["peak_rss_mb"]["wins"], 2)

    def test_higher_is_better_and_missing_metrics(self):
        pairs = [({"rate": 10.0}, {"rate": 12.0}), ({"rate": 10.0}, {"rate": 9.0})]
        s = ab.summarize(pairs, {"rate": "higher", "absent": "lower"})
        self.assertEqual(s["rate"]["wins"], 1)
        self.assertNotIn("absent", s)

    def test_one_pair(self):
        s = ab.summarize([({"x": 2.0}, {"x": 1.0})], {"x": "lower"})
        self.assertEqual(s["x"]["parent"], (2.0, 2.0, 2.0))
        self.assertEqual(s["x"]["ratios"], [0.5])


class VerdictTest(unittest.TestCase):
    def test_within_bound_and_worse(self):
        ps = [1.0, 1.02, 1.04, 1.06, 1.08]
        self.assertEqual(ab.verdict(ps, [1.2, 1.25, 1.3], "lower", 0.25), "within bound")
        self.assertEqual(ab.verdict(ps, [1.3, 1.35, 1.4], "lower", 0.25), "worse")
        # a faster change is within bound however far it moves
        self.assertEqual(ab.verdict(ps, [0.1, 0.2, 0.3], "lower", 0.25), "within bound")

    def test_higher_is_better(self):
        ps = [100.0, 101.0, 102.0]
        self.assertEqual(ab.verdict(ps, [90.0, 91.0, 92.0], "higher", 0.15), "within bound")
        self.assertEqual(ab.verdict(ps, [80.0, 84.0, 85.0], "higher", 0.15), "worse")
        self.assertEqual(ab.verdict(ps, [150.0], "higher", 0.15), "within bound")

    def test_unresolved_when_the_parent_spreads_past_the_bound(self):
        # parent quartiles 1.0 / 1.5 / 2.0: an IQR of 67 % of the median
        ps = [0.5, 1.0, 1.5, 2.0, 2.5]
        self.assertEqual(ab.verdict(ps, [1.5, 1.6], "lower", 0.25), "unresolved")
        self.assertEqual(ab.verdict(ps, [5.0, 6.0], "lower", 0.25), "unresolved")
        # unless every change run beats every parent run
        self.assertEqual(ab.verdict(ps, [0.2, 0.4], "lower", 0.25), "within bound")

    def test_summarize_attaches_the_verdict_of_bounded_metrics(self):
        pairs = [({"wall_s": p, "rate": 1.0}, {"wall_s": c, "rate": 1.0})
                 for p, c in [(1.0, 1.5), (1.0, 1.5), (1.0, 1.5)]]
        s = ab.summarize(pairs, {"wall_s": "lower", "rate": "higher"}, {"wall_s": 0.25})
        self.assertEqual(s["wall_s"]["verdict"], "worse")
        self.assertNotIn("verdict", s["rate"])


class RunFailureTest(unittest.TestCase):
    def test_names_failed_runs(self):
        self.assertIsNone(ab.run_failure(1, "parent", {"wall_s": 1.0}, 0))
        self.assertEqual(ab.run_failure(2, "change", None, None),
                         "pair 2 change: the run failed")
        self.assertEqual(ab.run_failure(3, "parent", {"wall_s": 1.0}, 4),
                         "pair 3 parent: 4 failed operations")


class TraceTest(unittest.TestCase):
    def test_trace_adds_the_flag_and_nothing_else(self):
        plain = ab.run_command("lloyd_blobs", 3, 6, False)
        self.assertEqual(plain[1:], ["perfbench/run.py", "--workload", "lloyd_blobs",
                                     "--seed", "3", "--seconds", "6"])
        self.assertEqual(ab.run_command("lloyd_blobs", 3, 6, True),
                         plain + ["--trace", "1"])

    def test_per_layer_lines_have_medians_and_no_verdict(self):
        pairs = [({"kmeans.fit_s": p, "sched.jobs": 3.0},
                  {"kmeans.fit_s": c, "sched.jobs": 3.0})
                 for p, c in [(0.30, 0.20), (0.24, 0.18), (0.26, 0.19)]]
        lines = ab.metric_lines(
            ab.summarize(pairs, {"kmeans.fit_s": "lower", "sched.jobs": "lower"}), {})
        self.assertEqual(lines[0], "kmeans.fit_s: parent 0.26 (0.25/0.28) -> change "
                         "0.19 (0.185/0.195), -26.9 %; change better in 3/3; "
                         "ratios 0.667 0.750 0.731")
        self.assertTrue(lines[1].startswith("sched.jobs: parent 3 (3/3) -> change 3 (3/3), +0.0 %; "
                                            "change better in 0/3"))
        self.assertNotIn("bound", " ".join(lines))

    def test_end_to_end_lines_keep_the_verdict(self):
        pairs = [({"wall_s": 1.0}, {"wall_s": 1.5})] * 3
        bounds = {"wall_s": 0.25}
        line, = ab.metric_lines(ab.summarize(pairs, {"wall_s": "lower"}, bounds), bounds)
        self.assertTrue(line.endswith("; worse (bound 25 %)"), line)


class ParseTest(unittest.TestCase):
    def test_prof_lines(self):
        out = "\n".join([
            "WARN some spark noise",
            "[prof] q119_triangles: 71.62 0.82 0.80",
            "[prof] q160_bipartite_project: 5.54",
            "[prof] artifact copurchase: 12.3s",
            "[prof] q1: not a time",
        ])
        self.assertEqual(ab.parse_prof(out), {
            "q119_triangles": [71.62, 0.82, 0.80],
            "q160_bipartite_project": [5.54]})
        self.assertEqual(ab.parse_prof(""), {})

    def test_sbt_runtime(self):
        out = "\n".join([
            "[info] welcome to sbt 1.10.0",
            "/t/target/scala-2.13/classes:/lib/a.jar:/lib/b.jar",
            "[info] * --add-opens",
            "[info] * java.base/java.lang=ALL-UNNAMED",
            "[info] * -Xmx4g",
        ])
        cp, opts = ab.parse_sbt_runtime(out)
        self.assertEqual(cp, "/t/target/scala-2.13/classes:/lib/a.jar:"
                         "/lib/b.jar")
        self.assertEqual(opts, ["--add-opens", "java.base/java.lang=ALL-UNNAMED", "-Xmx4g"])
        with self.assertRaises(RuntimeError):
            ab.parse_sbt_runtime("[info] * -Xmx4g")


if __name__ == "__main__":
    unittest.main()
