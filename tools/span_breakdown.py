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

    python3 tools/span_breakdown.py RESULT.json [MORE.json ...] --jobs index.upsert

prints instead the job timeline of every span of that name: one line per
job run inside it (children included), in start order, with

    offset_ms    job start minus span start
    dur_ms       job wall time
    stages       stages that ran (skipped ones are not traced)
    tasks        tasks of those stages
    run_ms       summed task run time
    delay_ms     summed scheduler delay
    shuf_w_b     shuffle bytes written
    shuf_r_b     shuffle bytes read

and ends with one line counting the spans by their number of jobs, with
each bucket's median span duration, say
`index.upsert: 0 jobs ×7 (p50 66 ms), 6 jobs ×7 (p50 300 ms)` (appends
and compactions).
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


JOB_COLUMNS = ("offset_ms", "dur_ms", "stages", "tasks", "run_ms", "delay_ms",
               "shuf_w_b", "shuf_r_b")


def _index(trace):
    """(spans, {job id: its traced stages}, {span id: jobs run inside it, children included})."""
    spans = [tuple(s) for s in trace.get("spans", [])]
    by_id = {s[0]: s for s in spans}
    stages_by_job = {}
    for st in trace.get("stages", []):
        stages_by_job.setdefault(st["job"], []).append(st)
    jobs_in = {}
    for j in trace.get("jobs", []):
        sid = j["span"]
        while sid in by_id:
            jobs_in.setdefault(sid, []).append(j)
            sid = by_id[sid][1]
    return spans, stages_by_job, jobs_in


def per_span(trace):
    """{span name: [one dict of COLUMNS' raw values per span]}."""
    spans, stages_by_job, jobs_in = _index(trace)
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


def job_timeline(result, name):
    """[{"start", "dur_ms", "jobs": [{column: value} per job]}] for every
    span called `name` in a harness result, in start order."""
    trace = result.get("trace") or {}
    if not trace.get("spans"):
        raise ValueError("the result holds no spans: run perfbench/run.py with --trace 1")
    spans, stages_by_job, jobs_in = _index(trace)
    out = []
    for sid, _, span_name, t0, t1 in sorted(spans, key=lambda s: s[3]):
        if span_name != name:
            continue
        jobs = []
        for j in sorted(jobs_in.get(sid, []), key=lambda j: (j["start"], j["id"])):
            stages = stages_by_job.get(j["id"], [])
            def total(key):
                return sum(st.get(key, 0) for st in stages)
            jobs.append({"job": j["id"], "offset_ms": j["start"] - t0,
                         "dur_ms": j["end"] - j["start"], "stages": len(stages),
                         "tasks": total("tasks"), "run_ms": total("run_ms"),
                         "delay_ms": total("delay_ms"), "shuf_w_b": total("shuffle_write_b"),
                         "shuf_r_b": total("shuffle_read_b")})
        out.append({"start": t0, "dur_ms": t1 - t0, "jobs": jobs})
    return out


def job_histogram(spans):
    """[(jobs, spans that ran that many, their median duration in ms)] over
    a job timeline, fewest jobs first."""
    durations = {}
    for sp in spans:
        durations.setdefault(len(sp["jobs"]), []).append(sp["dur_ms"])
    return [(n, len(ds), statistics.median(ds)) for n, ds in sorted(durations.items())]


def render_timeline(name, spans):
    lines = []
    for i, sp in enumerate(spans):
        lines.append("%s #%d: %.1f ms, %d jobs, %d tasks" % (
            name, i + 1, sp["dur_ms"], len(sp["jobs"]), sum(j["tasks"] for j in sp["jobs"])))
        lines.append("  %6s " % "job" + " ".join("%10s" % c for c in JOB_COLUMNS))
        for j in sp["jobs"]:
            lines.append("  %6d " % j["job"] + " ".join(
                "%10d" % j[c] if c in ("stages", "tasks", "shuf_w_b", "shuf_r_b")
                else "%10.1f" % j[c] for c in JOB_COLUMNS))
    lines.append("%s: %s" % (name, ", ".join("%d jobs \u00d7%d (p50 %.0f ms)" % b
                                             for b in job_histogram(spans)) or "no spans"))
    return "\n".join(lines)


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
    ap.add_argument("--jobs", metavar="SPAN", help="print the job timeline of every span SPAN")
    a = ap.parse_args(argv)
    names = set(a.names.split(",")) if a.names else None
    tables = {}
    for path in a.results:
        with open(path) as fh:
            result = json.load(fh)
        tables[path] = job_timeline(result, a.jobs) if a.jobs else breakdown(result, names)
    if a.jobs and not a.json:
        print("\n\n".join("%s\n%s" % (path, render_timeline(a.jobs, t)) for path, t in tables.items()))
    elif a.json:
        print(json.dumps(tables, indent=1, sort_keys=True))
    else:
        print("\n\n".join("%s\n%s" % (path, render(t)) for path, t in tables.items()))


if __name__ == "__main__":
    main()
