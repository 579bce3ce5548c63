#!/usr/bin/env python3
"""Where a traced benchmark run spent its time, per span name.

    python3 tools/span_breakdown.py .perfbench/work/rag_docs/result.json [MORE.json ...]
        [--names index.query,index.sections] [--json]

Reads the result file a traced run (`perfbench/run.py --trace 1`) leaves
behind and prints, for every span name: how many spans ran, their median
duration, and per span the Spark work inside it, children included:

    jobs         mean jobs per span
    job_ms       median wall time covered by those jobs (their union,
                 clipped to the span)
    catalyst_ms  median analysis + optimization + planning time of the
                 SQL executions that started inside the span (attributed
                 by time window, as perfbench/metrics.py does)
    tasks        mean tasks per span
    task_ms      median summed task run time
    delay_ms     median summed scheduler delay of those tasks

Given several files (say, a parent and a change run of the same seed),
it prints one table per file. --json prints the same numbers as JSON.
"""
import argparse
import bisect
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "perfbench"))

import metrics  # noqa: E402

COLUMNS = ("n", "dur_ms", "jobs", "job_ms", "catalyst_ms", "tasks", "task_ms", "delay_ms")
MEANS = ("jobs", "tasks")


def per_span(trace):
    """{span name: [one dict of COLUMNS' raw values per span]}."""
    spans = [tuple(s) for s in trace.get("spans", [])]
    by_id = {s[0]: s for s in spans}
    stages_by_job = {}
    for st in trace.get("stages", []):
        stages_by_job.setdefault(st["job"], []).append(st)
    jobs_in = {}  # span id -> jobs run inside it, children included
    for j in trace.get("jobs", []):
        sid = j["span"]
        while sid in by_id:
            jobs_in.setdefault(sid, []).append(j)
            sid = by_id[sid][1]
    queries = sorted(trace.get("queries", []), key=lambda q: q[1])
    starts = [q[1] for q in queries]
    catalyst = [0.0]  # prefix sums of each execution's analysis + optimization + planning
    for q in queries:
        catalyst.append(catalyst[-1] + q[2] + q[3] + q[4])

    out = {}
    for sid, _, name, t0, t1 in spans:
        jobs = jobs_in.get(sid, [])
        stages = [st for j in jobs for st in stages_by_job.get(j["id"], [])]
        lo, hi = bisect.bisect_left(starts, t0), bisect.bisect_right(starts, t1)
        out.setdefault(name, []).append({
            "dur_ms": t1 - t0,
            "jobs": len(jobs),
            "job_ms": metrics.union_ms([(j["start"], j["end"]) for j in jobs], t0, t1),
            "catalyst_ms": catalyst[hi] - catalyst[lo],
            "tasks": sum(st.get("tasks", 0) for st in stages),
            "task_ms": sum(st.get("run_ms", 0.0) for st in stages),
            "delay_ms": sum(st.get("delay_ms", 0.0) for st in stages),
        })
    return out


def breakdown(result, names=None):
    """{span name: {column: value}} for a harness result with a trace."""
    trace = result.get("trace") or {}
    if not trace.get("spans"):
        raise ValueError("the result holds no spans: run perfbench/run.py with --trace 1")
    table = {}
    for name, rows in sorted(per_span(trace).items()):
        if names and name not in names:
            continue
        row = {"n": len(rows)}
        for col in COLUMNS[1:]:
            xs = [r[col] for r in rows]
            row[col] = statistics.mean(xs) if col in MEANS else statistics.median(xs)
        table[name] = row
    return table


def render(table):
    width = max([len("span")] + [len(n) for n in table])
    lines = ["%-*s " % (width, "span") + " ".join("%11s" % c for c in COLUMNS)]
    for name, row in table.items():
        cells = ["%11d" % row["n"]] + ["%11.2f" % row[c] for c in COLUMNS[1:]]
        lines.append("%-*s " % (width, name) + " ".join(cells))
    return "\n".join(lines)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("results", nargs="+", help="result.json of a traced perfbench run")
    ap.add_argument("--names", help="comma-separated span names to keep")
    ap.add_argument("--json", action="store_true", help="print JSON instead of tables")
    a = ap.parse_args(argv)
    names = set(a.names.split(",")) if a.names else None
    tables = {}
    for path in a.results:
        with open(path) as fh:
            tables[path] = breakdown(json.load(fh), names)
    if a.json:
        print(json.dumps(tables, indent=1, sort_keys=True))
    else:
        print("\n\n".join("%s\n%s" % (path, render(t)) for path, t in tables.items()))


if __name__ == "__main__":
    main()
