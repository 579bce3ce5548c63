"""Turn a harness result file into the benchmark's metrics.

End-to-end metrics come from untraced runs, per-layer metrics from
traced runs. Everything here is a pure function of the result JSON so
the self-tests can exercise it without Spark.
"""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# (name, unit, better): the end-to-end metrics, reported on every workload.
# peak_rss_mb is measured too but only printed in the flat line: how much
# of the heap a run touches depends on when its young collections fall, and
# on rag_docs it spread by up to 0.19 over runs of the same code.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("op_p50_ms", "ms", "lower"),
    ("aux_p50_ms", "ms", "lower"),
    ("items_per_s", "1/s", "higher"),
]

# (name, unit, better): per-layer metrics from the traced run.
PER_LAYER = [
    ("index.query.jobs", "count", "lower"),
    ("index.query.stages", "count", "lower"),
    ("index.query.tasks", "count", "lower"),
    ("index.query.driver_ms", "ms", "lower"),
    ("index.upsert.self_s", "s", "lower"),
    ("catalyst.analysis_ms", "ms", "lower"),
    ("catalyst.optimization_ms", "ms", "lower"),
    ("catalyst.planning_ms", "ms", "lower"),
    ("catalyst.codegen_compile_ms", "ms", "lower"),
    ("catalyst.codegen_classes", "count", "lower"),
    ("scheduler.jobs", "count", "lower"),
    ("scheduler.stages", "count", "lower"),
    ("scheduler.tasks", "count", "lower"),
    ("scheduler.delay_ms", "ms", "lower"),
    ("executor.task_s", "s", "lower"),
    ("executor.cpu_s", "s", "lower"),
    ("executor.gc_s", "s", "lower"),
    ("executor.shuffle_write_mb", "MB", "lower"),
    ("executor.shuffle_read_mb", "MB", "lower"),
    ("executor.spill_mb", "MB", "lower"),
    ("executor.result_mb", "MB", "lower"),
    ("text.split_us_per_doc", "us", "lower"),
    ("text.chunks_per_doc", "count", "lower"),
    ("text.tokens_per_s", "1/s", "higher"),
    ("embed.tokens_per_s", "1/s", "higher"),
    ("filters.ns_per_item", "ns", "lower"),
    ("filters.selectivity", "ratio", "higher"),
    ("serve.ns_per_item_scored", "ns", "lower"),
    ("serve.snapshot_load_ms", "ms", "lower"),
    ("serve.snapshot_items", "count", "higher"),
    ("operators.merge_ms", "ms", "lower"),
    ("operators.merge.jobs", "count", "lower"),
    ("pipeline.jobs", "count", "lower"),
    ("pipeline.task_s", "s", "lower"),
    ("pipeline.kept_ratio", "ratio", "higher"),
    ("dedup.semantic.task_s", "s", "lower"),
    ("dedup.semantic.pairs_per_vec", "ratio", "lower"),
    ("dedup.semantic.planted_recall", "ratio", "higher"),
    ("ann.kmeans_s", "s", "lower"),
    ("jvm.driver_gc_ms", "ms", "lower"),
    ("trace.overhead_pct", "%", "lower"),
]

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def _rank(p, n):
    """1-based nearest rank of percentile p among n samples."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(xs, p):
    """Nearest-rank percentile of a non-empty sample."""
    return sorted(xs)[_rank(p, len(xs)) - 1]


def tail(xs):
    """The highest ladder percentile with at least ten samples beyond it,
    as (p, value), or None when the sample is too small for any."""
    n = len(xs)
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= 10:
            return p, percentile(xs, p)
    return None


def summary(xs):
    """Median, tail percentile and sample count of one latency sample."""
    out = {"n": len(xs)}
    if xs:
        out["p50"] = statistics.median(xs)
        t = tail(xs)
        if t:
            out["tail_p"], out["tail"] = t
    return out


def union_ms(intervals, lo=-math.inf, hi=math.inf):
    """Total length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, end = 0.0, -math.inf
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """{span id: duration minus the time its child spans cover}."""
    kids = {}
    for sid, parent, _, t0, t1 in spans:
        kids.setdefault(parent, []).append((t0, t1))
    return {sid: (t1 - t0) - union_ms(kids.get(sid, []), t0, t1)
            for sid, _, _, t0, t1 in spans}


def end_to_end(result):
    s = result["samples"]
    v = result["values"]

    def med(kind):
        xs = s.get(kind, [])
        return statistics.median(xs) if xs else None

    build = s.get("setup_build", [])
    return {
        "setup_s": result["session_s"] + (statistics.median(build) / 1000 if build else 0.0),
        "op_p50_ms": med("op"),
        "aux_p50_ms": med("aux"),
        "items_per_s": v["bulk_items"] / v["bulk_s"] if v.get("bulk_s") else None,
        "peak_rss_mb": result["rss_hwm_kb"] / 1024.0,
    }


def per_layer(result):
    t = result["trace"]
    v = result["values"]
    spans = [tuple(x) for x in t["spans"]]
    by_id = {x[0]: x for x in spans}
    selfs = self_times(spans)
    stages_by_job = {}
    for st in t["stages"]:
        stages_by_job.setdefault(st["job"], []).append(st)

    def ancestors(sid):
        while sid in by_id:
            yield sid
            sid = by_id[sid][1]

    jobs_in = {}  # span id -> jobs run inside it, children included
    for j in t["jobs"]:
        for a in ancestors(j["span"]):
            jobs_in.setdefault(a, []).append(j)

    def counts(sids):
        """Per-span means of jobs, stages, tasks and summed task metrics."""
        n = len(sids)
        tot = {"jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0.0, "cpu_ns": 0.0, "gc_ms": 0.0,
               "shuffle_write_b": 0.0, "shuffle_read_b": 0.0, "spill_b": 0.0,
               "result_b": 0.0, "delay_ms": 0.0}
        for sid in sids:
            for j in jobs_in.get(sid, []):
                tot["jobs"] += 1
                for st in stages_by_job.get(j["id"], []):
                    tot["stages"] += 1
                    for k in tot:
                        if k in st:
                            tot[k] += st[k]
        per = {k: (x / n if n else 0.0) for k, x in tot.items()}
        per["delay_per_task_ms"] = tot["delay_ms"] / tot["tasks"] if tot["tasks"] else 0.0
        return per

    def named(*names):
        return [x[0] for x in spans if x[2] in names]

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    reads = named("index.query", "index.sections")
    rq = counts(reads)
    driver = [(by_id[sid][4] - by_id[sid][3]) -
              union_ms([(j["start"], j["end"]) for j in jobs_in.get(sid, [])],
                       by_id[sid][3], by_id[sid][4]) for sid in reads]
    # engine ops: top-level op spans that ran at least one Spark job
    engine = [x[0] for x in spans if x[1] == 0 and x[2].startswith("op.") and jobs_in.get(x[0])]
    eng = counts(engine)
    n_eng = len(engine)
    windows = [(by_id[sid][3], by_id[sid][4]) for sid in engine]
    qes = [q for q in t["queries"] if any(a <= q[1] <= b for a, b in windows)]
    blocks = [p for p in t["periods"] if p[0] == "block"]

    def per_eng(x):
        return x / n_eng if n_eng else 0.0

    mb = 1024.0 * 1024.0
    # tracing overhead: median op latency in traced blocks against
    # untraced blocks of the same run
    plain, traced = result["samples"].get("op"), result["samples"].get("traced.op")
    overhead = (100.0 * (statistics.median(traced) / statistics.median(plain) - 1.0)
                if plain and traced else 0.0)
    out = {
        "index.query.jobs": rq["jobs"],
        "index.query.stages": rq["stages"],
        "index.query.tasks": rq["tasks"],
        "index.query.driver_ms": mean(driver),
        "index.upsert.self_s": mean([selfs[sid] for sid in named("index.upsert")]) / 1000.0,
        "catalyst.analysis_ms": per_eng(sum(q[2] for q in qes)),
        "catalyst.optimization_ms": per_eng(sum(q[3] for q in qes)),
        "catalyst.planning_ms": per_eng(sum(q[4] for q in qes)),
        "catalyst.codegen_compile_ms": per_eng(sum(p[4] for p in blocks)),
        "catalyst.codegen_classes": per_eng(sum(p[3] for p in blocks)),
        "scheduler.jobs": eng["jobs"],
        "scheduler.stages": eng["stages"],
        "scheduler.tasks": eng["tasks"],
        "scheduler.delay_ms": eng["delay_per_task_ms"],
        "executor.task_s": eng["run_ms"] / 1000.0,
        "executor.cpu_s": eng["cpu_ns"] / 1e9,
        "executor.gc_s": eng["gc_ms"] / 1000.0,
        "executor.shuffle_write_mb": eng["shuffle_write_b"] / mb,
        "executor.shuffle_read_mb": eng["shuffle_read_b"] / mb,
        "executor.spill_mb": eng["spill_b"] / mb,
        "executor.result_mb": eng["result_b"] / mb,
        "operators.merge.jobs": counts(named("operators.merge"))["jobs"],
        "pipeline.jobs": counts(named("pipeline.run"))["jobs"],
        "pipeline.task_s": counts(named("pipeline.run"))["run_ms"] / 1000.0,
        "dedup.semantic.task_s": counts(named("dedup.semantic"))["run_ms"] / 1000.0,
        "jvm.driver_gc_ms": float(sum(p[5] for p in blocks)),
        "trace.overhead_pct": overhead,
    }
    # layers the harness timed directly; 0 where the workload has no such layer
    for name, _, _ in PER_LAYER:
        if name not in out:
            out[name] = float(v.get(name, 0.0))
    return out


def result_line(result, trace):
    """The final stdout line: {correct, attempted, failed, metrics}."""
    table = PER_LAYER if trace else END_TO_END
    values = per_layer(result) if trace else end_to_end(result)
    metrics = {}
    for name, unit, _ in table:
        x = values.get(name)
        if x is None or isinstance(x, bool) or not math.isfinite(float(x)):
            raise ValueError("metric %s was not measured" % name)
        metrics[name] = {"value": float(x), "unit": unit}
    return {"correct": result["failed"] == 0, "attempted": int(result["attempted"]),
            "failed": int(result["failed"]), "metrics": metrics}
