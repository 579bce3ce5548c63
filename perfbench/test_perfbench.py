"""Self-tests of the benchmark's own logic; no Spark needed.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

TINY = {
    "rag_docs": {"base_docs": 20, "docs": 40, "ingest_batches": 2, "ops": 30,
                 "update_docs": 3},
    "serve_cdc": {"base_vecs": 20, "replicas": 3, "queries": 50, "batches": 4,
                  "batch_size": 20, "interval_s": 1.0},
    "curate_batch": {"base_docs": 30, "doc_replicas": 2, "base_vecs": 20, "vec_replicas": 2,
                     "exact_frac": 0.1, "near_frac": 0.1, "twin_frac": 0.1},
}


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.sizes = gen.SIZES
        gen.SIZES = TINY

    def tearDown(self):
        gen.SIZES = self.sizes
        shutil.rmtree(self.tmp)

    def test_same_seed_gives_identical_bytes(self):
        for w in gen.WORKLOADS:
            a = gen.generate(w, 7, os.path.join(self.tmp, w + "-a"))
            b = gen.generate(w, 7, os.path.join(self.tmp, w + "-b"))
            self.assertEqual(a["sha256"], b["sha256"], w)
            c = gen.generate(w, 8, os.path.join(self.tmp, w + "-c"))
            self.assertNotEqual(a["sha256"], c["sha256"], w)

    def test_matching_manifest_is_reused(self):
        d = os.path.join(self.tmp, "rag")
        gen.generate("rag_docs", 3, d)
        stamp = os.path.getmtime(os.path.join(d, "docs.tsv"))
        gen.generate("rag_docs", 3, d)
        self.assertEqual(stamp, os.path.getmtime(os.path.join(d, "docs.tsv")))
        gen.generate("rag_docs", 4, d)
        with open(os.path.join(d, "manifest.json")) as f:
            self.assertEqual(json.load(f)["key"]["seed"], 4)

    def test_planted_counts_are_recorded(self):
        man = gen.generate("curate_batch", 1, os.path.join(self.tmp, "cur"))
        self.assertEqual(man["counts"]["exact_dups"], 6)
        with open(os.path.join(self.tmp, "cur", "exact_dups.tsv")) as f:
            self.assertEqual(len(f.read().splitlines()), 6)


class PercentileTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertIsNone(metrics.tail(list(range(39))))
        self.assertEqual(metrics.tail(list(range(40)))[0], 75.0)
        self.assertEqual(metrics.tail(list(range(100)))[0], 90.0)
        self.assertEqual(metrics.tail(list(range(199)))[0], 90.0)
        self.assertEqual(metrics.tail(list(range(200)))[0], 95.0)
        self.assertEqual(metrics.tail(list(range(1000)))[0], 99.0)
        self.assertEqual(metrics.tail(list(range(10000)))[0], 99.9)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.tail(xs), (90.0, 90))
        self.assertEqual(metrics.summary([3.0, 1.0, 2.0]), {"n": 3, "p50": 2.0})


class SelfTimeTest(unittest.TestCase):
    def test_children_and_overlap(self):
        spans = [(1, 0, "op", 0.0, 100.0),
                 (2, 1, "a", 10.0, 30.0),
                 (3, 1, "b", 20.0, 50.0),   # overlaps a: union 10..50
                 (4, 1, "c", 90.0, 120.0),  # clipped to the parent's end
                 (5, 3, "d", 25.0, 30.0)]
        s = metrics.self_times(spans)
        self.assertAlmostEqual(s[1], 100.0 - 40.0 - 10.0)
        self.assertAlmostEqual(s[3], 30.0 - 5.0)
        self.assertAlmostEqual(s[5], 5.0)

    def test_union(self):
        self.assertEqual(metrics.union_ms([(0, 1), (2, 3), (2.5, 4)]), 3)
        self.assertEqual(metrics.union_ms([(0, 10)], 5, 7), 2)
        self.assertEqual(metrics.union_ms([]), 0)


def fake_result(trace):
    spans = [[1, 0, "op.op", 0.0, 100.0], [2, 1, "index.query", 0.0, 100.0],
             [3, 0, "op.aux", 200.0, 300.0], [4, 3, "index.upsert", 200.0, 280.0]]
    return {
        "workload": "rag_docs", "session_s": 4.0, "rss_hwm_kb": 2048000, "cores": 4,
        "attempted": 10, "failed": 0, "checks": 5, "errors": [],
        "samples": {"setup_build": [100.0, 300.0, 200.0], "op": [10.0, 30.0, 20.0],
                    "aux": [50.0], "traced.op": [22.0]},
        "values": {"bulk_items": 100, "bulk_s": 2.0, "text.tokens_per_s": 5.0},
        "trace": {} if not trace else {
            "spans": spans,
            "jobs": [{"id": 0, "span": 2, "start": 10.0, "end": 60.0, "stages": [0]},
                     {"id": 1, "span": 4, "start": 210.0, "end": 250.0, "stages": [1]}],
            "stages": [{"id": 0, "job": 0, "tasks": 4, "run_ms": 80.0, "delay_ms": 8.0},
                       {"id": 1, "job": 1, "tasks": 2, "run_ms": 40.0, "delay_ms": 2.0}],
            "queries": [["collect", 12.0, 1.0, 2.0, 3.0, 40.0]],
            "periods": [["block", 0.0, 400.0, 2, 6.0, 7]]},
    }


class ResultLineTest(unittest.TestCase):
    def test_end_to_end_values(self):
        m = metrics.end_to_end(fake_result(False))
        self.assertAlmostEqual(m["setup_s"], 4.2)
        self.assertEqual(m["op_p50_ms"], 20.0)
        self.assertEqual(m["items_per_s"], 50.0)
        self.assertEqual(m["peak_rss_mb"], 2000.0)

    def test_per_layer_values(self):
        m = metrics.per_layer(fake_result(True))
        self.assertEqual(m["index.query.jobs"], 1)
        self.assertAlmostEqual(m["index.query.driver_ms"], 50.0)
        self.assertAlmostEqual(m["index.upsert.self_s"], 0.08)
        self.assertEqual(m["scheduler.jobs"], 1)          # two engine ops, one job each
        self.assertAlmostEqual(m["scheduler.delay_ms"], 10.0 / 6)
        self.assertAlmostEqual(m["catalyst.planning_ms"], 1.5)
        self.assertAlmostEqual(m["trace.overhead_pct"], 10.0)
        self.assertEqual(m["text.tokens_per_s"], 5.0)
        self.assertEqual(m["serve.snapshot_items"], 0.0)

    def test_lines_follow_the_contract(self):
        for trace in (False, True):
            r = fake_result(trace)
            line = metrics.result_line(r, trace)
            self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
            table = metrics.PER_LAYER if trace else metrics.END_TO_END
            self.assertEqual(list(line["metrics"]), [n for n, _, _ in table])
            for m in line["metrics"].values():
                self.assertEqual(set(m), {"value", "unit"})
            flat = run.flat_line(r, line, {"counts": {"docs": 3}}, 1, trace)
            text = json.dumps(flat)
            self.assertNotIn("\n", text)
            self.assertTrue(all(isinstance(v, (int, float, str, bool)) for v in flat.values()))

    def test_missing_metric_is_an_error(self):
        r = fake_result(False)
        r["samples"].pop("aux")
        with self.assertRaises(ValueError):
            metrics.result_line(r, False)


class NamesTest(unittest.TestCase):
    def test_names_and_benchmark_json(self):
        names = [n for n, _, _ in metrics.END_TO_END + metrics.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, metrics.NAME_RE)
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]],
                         metrics.PER_LAYER)
        self.assertLessEqual({w["name"] for w in bench["workloads"]}, set(gen.WORKLOADS))


class NoSourcesTest(unittest.TestCase):
    def test_refuses_without_graft_sources(self):
        tmp = tempfile.mkdtemp()
        try:
            shutil.copytree(HERE, os.path.join(tmp, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "rag_docs",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=tmp, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout, "")
        finally:
            shutil.rmtree(tmp)


if __name__ == "__main__":
    unittest.main()
