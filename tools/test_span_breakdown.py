"""Self-tests of span_breakdown over a synthetic trace; no Spark.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import span_breakdown  # noqa: E402


def fake_result():
    # two op spans, each with an index.query child; the second query ran two
    # overlapping jobs; one SQL execution starts inside each query span, one
    # between the ops
    spans = [[1, 0, "op.query", 0.0, 100.0], [2, 1, "index.query", 10.0, 90.0],
             [3, 0, "op.query", 200.0, 260.0], [4, 3, "index.query", 205.0, 255.0],
             [5, 0, "op.idle", 300.0, 310.0]]
    return {"trace": {
        "spans": spans,
        "jobs": [{"id": 0, "span": 2, "start": 20.0, "end": 50.0, "stages": [0]},
                 {"id": 1, "span": 4, "start": 210.0, "end": 230.0, "stages": [1]},
                 {"id": 2, "span": 4, "start": 220.0, "end": 240.0, "stages": [2]}],
        "stages": [{"id": 0, "job": 0, "tasks": 4, "run_ms": 80.0, "delay_ms": 8.0},
                   {"id": 1, "job": 1, "tasks": 2, "run_ms": 10.0, "delay_ms": 1.0,
                    "shuffle_write_b": 512},
                   {"id": 2, "job": 2, "tasks": 2, "run_ms": 30.0, "delay_ms": 3.0,
                    "shuffle_read_b": 512}],
        "queries": [["collect", 15.0, 1.0, 2.0, 3.0, 40.0],
                    ["collect", 206.0, 0.5, 0.5, 1.0, 10.0],
                    ["collect", 150.0, 9.0, 9.0, 9.0, 10.0]],
        "periods": []}}


class BreakdownTest(unittest.TestCase):
    def test_per_name_figures(self):
        t = span_breakdown.breakdown(fake_result())
        self.assertEqual(sorted(t), ["index.query", "op.idle", "op.query"])
        q = t["index.query"]
        self.assertEqual(q["n"], 2)
        self.assertEqual(q["dur_ms"], 65.0)       # median of 80 and 50
        self.assertEqual(q["jobs"], 1.5)          # mean of 1 and 2
        self.assertEqual(q["job_ms"], 30.0)       # 30, and the union 210-240
        self.assertEqual(q["catalyst_ms"], 4.0)   # median of 6 and 2
        self.assertEqual(q["tasks"], 4.0)
        self.assertEqual(q["task_ms"], 60.0)      # median of 80 and 40
        self.assertEqual(q["delay_ms"], 6.0)      # median of 8 and 4

    def test_children_count_in_their_parents(self):
        t = span_breakdown.breakdown(fake_result())
        op = t["op.query"]
        self.assertEqual((op["jobs"], op["tasks"], op["task_ms"]), (1.5, 4.0, 60.0))
        self.assertEqual(op["catalyst_ms"], 4.0)  # the execution at 150 is in no op
        idle = t["op.idle"]
        self.assertEqual((idle["jobs"], idle["job_ms"], idle["catalyst_ms"]), (0, 0.0, 0.0))

    def test_names_filter_and_untraced_result(self):
        self.assertEqual(list(span_breakdown.breakdown(fake_result(), {"op.idle"})), ["op.idle"])
        with self.assertRaises(ValueError):
            span_breakdown.breakdown({"trace": {}})

    def test_command_line_json(self):
        with tempfile.TemporaryDirectory() as tmp:
            path = os.path.join(tmp, "result.json")
            with open(path, "w") as fh:
                json.dump(fake_result(), fh)
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                span_breakdown.main([path, "--names", "index.query", "--json"])
            self.assertEqual(json.loads(out.getvalue())[path]["index.query"]["n"], 2)

    def test_job_timeline(self):
        spans = span_breakdown.job_timeline(fake_result(), "op.query")
        self.assertEqual([s["start"] for s in spans], [0.0, 200.0])
        self.assertEqual([len(s["jobs"]) for s in spans], [1, 2])  # the child's jobs count
        first, second = spans[1]["jobs"]
        self.assertEqual((first["job"], first["offset_ms"], first["dur_ms"]), (1, 10.0, 20.0))
        self.assertEqual((first["stages"], first["tasks"], first["shuf_w_b"]), (1, 2, 512))
        self.assertEqual((second["offset_ms"], second["run_ms"], second["delay_ms"],
                          second["shuf_r_b"]), (20.0, 30.0, 3.0, 512))
        self.assertEqual(span_breakdown.job_timeline(fake_result(), "op.idle"),
                         [{"start": 300.0, "dur_ms": 10.0, "jobs": []}])

    def test_command_line_jobs(self):
        with tempfile.TemporaryDirectory() as tmp:
            path = os.path.join(tmp, "result.json")
            with open(path, "w") as fh:
                json.dump(fake_result(), fh)
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                span_breakdown.main([path, "--jobs", "index.query"])
            lines = out.getvalue().splitlines()
            self.assertEqual(lines[1], "index.query #1: 80.0 ms, 1 jobs, 4 tasks")
            self.assertEqual(lines[-2].split(), ["2", "15.0", "20.0", "1", "2", "30.0", "3.0",
                                                 "0", "512"])
            self.assertEqual(lines[-1], "index.query: 1 jobs \u00d71 (p50 80 ms), "
                                        "2 jobs \u00d71 (p50 50 ms)")

    def test_job_histogram(self):
        spans = span_breakdown.job_timeline(fake_result(), "op.query")
        spans += span_breakdown.job_timeline(fake_result(), "op.idle")
        self.assertEqual(span_breakdown.job_histogram(spans),
                         [(0, 1, 10.0), (1, 1, 100.0), (2, 1, 60.0)])
        with_three = spans + span_breakdown.job_timeline(fake_result(), "index.query")
        self.assertEqual(span_breakdown.job_histogram(with_three),
                         [(0, 1, 10.0), (1, 2, 90.0), (2, 2, 55.0)])
        self.assertEqual(span_breakdown.render_timeline("absent", []), "absent: no spans")

    def test_histogram_line_gives_each_bucket_its_median_duration(self):
        def span(dur_ms, jobs):
            return {"start": 0.0, "dur_ms": dur_ms, "jobs": [{}] * jobs}
        appends = [span(d, 0) for d in (63.0, 71.0, 66.0)]
        compactions = [span(d, 6) for d in (286.0, 340.0)]
        self.assertEqual(span_breakdown.job_histogram(compactions + appends),
                         [(0, 3, 66.0), (6, 2, 313.0)])
        line = span_breakdown.render_timeline("index.upsert", appends).splitlines()[-1]
        self.assertEqual(line, "index.upsert: 0 jobs \u00d73 (p50 66 ms)")


if __name__ == "__main__":
    unittest.main()
