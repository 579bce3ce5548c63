"""Self-tests of perf_ab's summary math; no Spark, no git.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import perf_ab  # noqa: E402


class SeedsTest(unittest.TestCase):
    def test_ranges_and_lists(self):
        self.assertEqual(perf_ab.parse_seeds("11-15"), [11, 12, 13, 14, 15])
        self.assertEqual(perf_ab.parse_seeds("3,5, 8"), [3, 5, 8])
        self.assertEqual(perf_ab.parse_seeds("1-2,7"), [1, 2, 7])


class QuartilesTest(unittest.TestCase):
    def test_inclusive_quartiles(self):
        self.assertEqual(perf_ab.quartiles([5, 1, 3, 2, 4]), (2.0, 3.0, 4.0))
        self.assertEqual(perf_ab.quartiles([1, 2, 3, 4]), (1.75, 2.5, 3.25))

    def test_single_value(self):
        self.assertEqual(perf_ab.quartiles([7.5]), (7.5, 7.5, 7.5))


class SummarizeTest(unittest.TestCase):
    def test_higher_is_better(self):
        parent = [360, 350, 370, 355, 365]
        change = [450, 440, 340, 445, 455]
        m = perf_ab.summarize(parent, change, "higher")
        self.assertEqual(m["parent"], (355, 360, 365))
        self.assertEqual(m["change"], (440, 445, 450))
        self.assertAlmostEqual(m["ratio"], 445 / 360)
        self.assertEqual((m["wins"], m["pairs"]), (4, 5))
        self.assertTrue(m["clear"])

    def test_lower_is_better(self):
        parent = [800, 820, 840]
        change = [700, 830, 720]
        m = perf_ab.summarize(parent, change, "lower")
        self.assertEqual(m["wins"], 2)
        self.assertAlmostEqual(m["ratio"], 720 / 820)
        # gap 100 > parent quartile distance 830 - 810 = 20
        self.assertTrue(m["clear"])

    def test_gap_inside_parent_spread_is_not_clear(self):
        parent = [100, 120, 140, 160, 180]
        change = [99, 119, 139, 159, 179]
        m = perf_ab.summarize(parent, change, "lower")
        self.assertEqual(m["wins"], 5)
        self.assertFalse(m["clear"])

    def test_ties_are_not_wins(self):
        m = perf_ab.summarize([1.0, 2.0], [1.0, 2.0], "lower")
        self.assertEqual(m["wins"], 0)
        self.assertFalse(m["clear"])

    def test_unpaired_samples_are_refused(self):
        with self.assertRaises(ValueError):
            perf_ab.summarize([1.0, 2.0], [1.0], "lower")


class ParseRunTest(unittest.TestCase):
    def test_reads_the_result_line_and_the_flat_line_before_it(self):
        stdout = ("sbt noise {not json\n"
                  '{"op_p50_ms": 10.8, "samples.aux.n": 9, "samples.aux.p50": 343.2, '
                  '"samples.ingest.n": 7, "samples.op.n": 196, "seed": 207}\n'
                  '{"attempted": 205, "correct": true, "failed": 0, '
                  '"metrics": {"op_p50_ms": {"unit": "ms", "value": 10.8}}}\n')
        r = perf_ab.parse_run(stdout)
        self.assertEqual(r["metrics"], {"op_p50_ms": 10.8})
        self.assertEqual((r["failed"], r["attempted"]), (0, 205))
        self.assertEqual(r["samples_n"], {"aux": 9, "ingest": 7, "op": 196})


class LayerSummariesTest(unittest.TestCase):
    def test_pairs_by_seed_and_skips_pairs_missing_the_key(self):
        def run(**flat):
            return {"flat": dict(flat, workload="rag_docs")}
        runs = {"parent": [run(a=100.0, b=5), run(a=110.0, b=6), run(a=120.0)],
                "change": [run(a=90.0, b=4), run(a=115.0), run(a=100.0, b=9)]}
        (na, ma), (nb, mb), (nc, mc) = perf_ab.layer_summaries(
            runs, ["a", "b", "c"], {"a": "lower", "b": "higher", "c": "lower"})
        self.assertEqual((na, nb, nc), ("a", "b", "c"))
        self.assertEqual(ma["parent"], (105.0, 110.0, 115.0))
        self.assertEqual(ma["change"], (95.0, 100.0, 107.5))
        self.assertEqual((ma["wins"], ma["pairs"]), (2, 3))
        # only the first seed's pair holds b on both sides
        self.assertEqual((mb["parent"], mb["change"], mb["wins"], mb["pairs"]),
                         ((5, 5, 5), (4, 4, 4), 0, 1))
        self.assertIsNone(mc)

    def test_parse_run_keeps_the_flat_line(self):
        stdout = ('{"serve.ns_per_item_scored": 106.5, "samples.op.n": 3}\n'
                  '{"attempted": 3, "failed": 0, "metrics": {}}\n')
        self.assertEqual(perf_ab.parse_run(stdout)["flat"]["serve.ns_per_item_scored"], 106.5)


class StealTest(unittest.TestCase):
    def test_reads_the_aggregate_cpu_line(self):
        stat = ("cpu  10 0 5 100 1 0 2 37 0 0\n"
                "cpu0 5 0 2 50 0 0 1 20 0 0\n"
                "intr 1 2 3\n")
        self.assertEqual(perf_ab.cpu_steal_ticks(stat), 37)

    def test_missing_steal_field_is_zero(self):
        self.assertEqual(perf_ab.cpu_steal_ticks("cpu  10 0 5 100\n"), 0)


class ForksTest(unittest.TestCase):
    def test_reads_the_processes_line(self):
        stat = ("cpu  10 0 5 100 1 0 2 37 0 0\n"
                "ctxt 123456\n"
                "btime 1700000000\n"
                "processes 98765\n"
                "procs_running 2\n")
        self.assertEqual(perf_ab.forks_total(stat), 98765)

    def test_missing_processes_line_is_zero(self):
        self.assertEqual(perf_ab.forks_total("cpu  10 0 5 100\nprocs_running 2\n"), 0)


if __name__ == "__main__":
    unittest.main()
