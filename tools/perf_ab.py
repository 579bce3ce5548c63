#!/usr/bin/env python3
"""Same-protocol A/B run of the benchmark: a parent revision against the working tree.

    python3 tools/perf_ab.py --workload rag_docs --seeds 11-15
        [--parent HEAD] [--seconds 12] [--scratch DIR] [--out FILE]
        [--trace] [--layers serve.ns_per_item_scored,index.query.driver_ms]

Run from anywhere inside a graft checkout. Both sides are exported with
`git archive` into DIR/parent and DIR/change; the change side is the
working tree as `git add -A` would stage it, taken through a temporary
index, so uncommitted and untracked files count and the real index is
left alone. A side whose directory already holds the same tree is kept,
with its build and generated inputs. Each side is built once, then for
every seed both sides run

    python3 perfbench/run.py --workload W --seed S --seconds T --trace 0

one after the other, alternating which side runs first (the parent on
the first seed). The host's CPU steal is read from /proc/stat around
each run, and each run's sample counts (the `samples.<kind>.n` keys of
the flat line run.py prints before its result line) are kept with it, so
a median over few samples can be told from one over many. The tool
prints one line per run, then, for every end-to-end
metric in BENCHMARK.json: each side's median and quartiles, the
change/parent ratio of the medians, how many seed pairs the change won,
and whether the median gap is larger than the parent's quartile
distance. --trace runs the pairs with `--trace 1`, whose result line
holds the per-layer metrics instead of the end-to-end ones, so the
end-to-end summary is left out. --layers names per-layer keys of the
flat line (each declared under `per_layer` in BENCHMARK.json, which
gives its direction); each is summarised the same way over the seed
pairs whose flat lines both hold it. Nothing in the checkout changes;
--out keeps the raw runs as JSON.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

SIDES = ("parent", "change")


def parse_seeds(spec):
    """'11-15' or '1,4,9' (or a mix) -> list of ints, in order."""
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.strip().partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def quartiles(xs):
    """(q1, median, q3) of a non-empty sample, inclusive method."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def summarize(parent, change, better):
    """Compare paired samples of one metric (index i of each = seed i).

    Returns the medians and quartiles of both sides, the change/parent
    ratio of the medians, the pairs the change won (strictly better in
    the metric's direction) and whether the change's median is better
    than the parent's by more than the parent's quartile distance.
    """
    if len(parent) != len(change) or not parent:
        raise ValueError("need one parent and one change value per seed")
    sign = 1.0 if better == "higher" else -1.0
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    return {
        "parent": (p1, pm, p3),
        "change": (c1, cm, c3),
        "ratio": cm / pm if pm else float("nan"),
        "wins": sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0),
        "pairs": len(parent),
        "clear": sign * (cm - pm) > (p3 - p1),
    }


def cpu_steal_ticks(stat_text):
    """The steal field of the aggregate 'cpu' line of /proc/stat, in ticks."""
    for line in stat_text.splitlines():
        f = line.split()
        if f and f[0] == "cpu":
            return int(f[8]) if len(f) > 8 else 0
    return 0


def read_steal_s():
    try:
        with open("/proc/stat") as fh:
            return cpu_steal_ticks(fh.read()) / os.sysconf("SC_CLK_TCK")
    except OSError:
        return float("nan")


def git(repo, *args, env=None):
    return subprocess.check_output(["git", "-C", repo] + list(args), env=env, text=True).strip()


def export(repo, treeish, dest):
    """Extract `treeish` into `dest`, unless `dest` already holds that tree
    (then its build and generated inputs are reused)."""
    tree = git(repo, "rev-parse", treeish + "^{tree}")
    stamp = os.path.join(dest, ".perf_ab_tree")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == tree:
                return
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "-C", repo, "archive", "--format=tar", tree],
                               stdout=subprocess.PIPE)
    subprocess.check_call(["tar", "-x", "-C", dest], stdin=archive.stdout)
    archive.stdout.close()
    if archive.wait() != 0:
        raise SystemExit("perf_ab: git archive %s failed" % treeish)
    with open(stamp, "w") as fh:
        fh.write(tree)


def working_tree(repo):
    """A tree object of the working tree as `git add -A` would stage it."""
    with tempfile.TemporaryDirectory() as tmp:
        env = dict(os.environ, GIT_INDEX_FILE=os.path.join(tmp, "index"))
        git(repo, "read-tree", "HEAD", env=env)
        git(repo, "add", "-A", env=env)
        return git(repo, "write-tree", env=env)


def build(side_dir):
    """Build graft and the harness once, outside any timed run."""
    code = "import sys; sys.path.insert(0, 'perfbench'); import run; run.build()"
    subprocess.check_call([sys.executable, "-c", code], cwd=side_dir)


def run_once(side_dir, workload, seed, seconds, trace=False):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "1" if trace else "0"]
    steal0, t0 = read_steal_s(), time.time()
    proc = subprocess.run(cmd, cwd=side_dir, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True)
    steal, wall = read_steal_s() - steal0, time.time() - t0
    if proc.returncode != 0:
        raise SystemExit("perf_ab: %s failed in %s:\n%s" % (" ".join(cmd), side_dir, proc.stderr))
    r = parse_run(proc.stdout)
    r.update(steal_s=steal, wall_s=wall)
    return r


def parse_run(stdout):
    """A run's record from run.py's stdout: the metrics and op counts of its
    result line (the last line), the flat line just before it, and that
    line's sample count per kind (`samples.<kind>.n`)."""
    lines = stdout.strip().splitlines()
    line, flat = json.loads(lines[-1]), json.loads(lines[-2])
    counts = {k[len("samples."):-len(".n")]: v for k, v in flat.items()
              if k.startswith("samples.") and k.endswith(".n")}
    return {"metrics": {k: m["value"] for k, m in line["metrics"].items()},
            "failed": line["failed"], "attempted": line["attempted"], "samples_n": counts,
            "flat": flat}


def layer_summaries(runs, names, better_of):
    """(name, summary) for each named per-layer key, summarised over the
    seed pairs whose flat lines both hold a number for it; the summary is
    None when no pair does."""
    out = []
    for name in names:
        pairs = [(p["flat"].get(name), c["flat"].get(name))
                 for p, c in zip(runs["parent"], runs["change"])]
        pairs = [(p, c) for p, c in pairs
                 if isinstance(p, (int, float)) and isinstance(c, (int, float))]
        out.append((name, summarize([p for p, _ in pairs], [c for _, c in pairs],
                                    better_of[name]) if pairs else None))
    return out


def fmt(x):
    return "%.4g" % x


def summary_line(name, m):
    return "%s %s (%s-%s) -> %s (%s-%s) %.3f %d/%d %s" % (
        name, fmt(m["parent"][1]), fmt(m["parent"][0]), fmt(m["parent"][2]),
        fmt(m["change"][1]), fmt(m["change"][0]), fmt(m["change"][2]),
        m["ratio"], m["wins"], m["pairs"], "yes" if m["clear"] else "no")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 11-15 or 3,5,8")
    ap.add_argument("--parent", default="HEAD", help="revision to compare against")
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--scratch", default=os.path.join(tempfile.gettempdir(), "graft_perf_ab"))
    ap.add_argument("--out", help="write the raw runs here as JSON")
    ap.add_argument("--trace", action="store_true", help="run the pairs with --trace 1")
    ap.add_argument("--layers", default="", help="per-layer keys to summarise, comma-separated")
    a = ap.parse_args(argv)
    repo = git(os.getcwd(), "rev-parse", "--show-toplevel")
    with open(os.path.join(repo, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics = [] if a.trace else [(m["name"], m["better"]) for m in bench["end_to_end"]]
    better_of = {m["name"]: m["better"] for m in bench["per_layer"]}
    layers = [n.strip() for n in a.layers.split(",") if n.strip()]
    unknown = [n for n in layers if n not in better_of]
    if unknown:
        raise SystemExit("perf_ab: --layers names keys BENCHMARK.json does not declare: "
                         + ", ".join(unknown))
    trees = {"parent": a.parent, "change": working_tree(repo)}
    dirs = {s: os.path.join(a.scratch, s) for s in SIDES}
    for s in SIDES:
        export(repo, trees[s], dirs[s])
        build(dirs[s])
    runs = {s: [] for s in SIDES}
    for i, seed in enumerate(parse_seeds(a.seeds)):
        order = SIDES if i % 2 == 0 else SIDES[::-1]
        for pos, s in enumerate(order):
            r = run_once(dirs[s], a.workload, seed, a.seconds, a.trace)
            r.update(seed=seed, side=s, position=pos + 1)
            runs[s].append(r)
            print("seed %d %-6s run %d steal_s %.2f failed %d/%d %s samples.n %s" % (
                seed, s, pos + 1, r["steal_s"], r["failed"], r["attempted"],
                " ".join("%s %s" % (n, fmt(r["metrics"][n])) for n, _ in metrics)
                + "".join(" %s %s" % (n, r["flat"].get(n, "-")) for n in layers),
                " ".join("%s %d" % kv for kv in sorted(r["samples_n"].items()))), flush=True)
    print("metric parent_median (q1-q3) -> change_median (q1-q3) ratio wins gap>parent_iqr")
    for name, better in metrics:
        print(summary_line(name, summarize([r["metrics"][name] for r in runs["parent"]],
                                           [r["metrics"][name] for r in runs["change"]], better)))
    for name, m in layer_summaries(runs, layers, better_of):
        print(summary_line(name, m) if m else "%s not in any pair's flat line" % name)
    if a.out:
        with open(a.out, "w") as fh:
            json.dump({"workload": a.workload, "parent": a.parent, "trace": a.trace,
                       "runs": runs}, fh, indent=1)


if __name__ == "__main__":
    main()
