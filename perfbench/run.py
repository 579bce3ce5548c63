"""graft benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload rag_docs --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds graft and the
harness from source with sbt (perfbench/harness); later runs reuse the
build until a source file changes. Inputs come from gen.py under
.perfbench/data/ and are reused when the seed matches. The JVM runs with
local[nproc] and spark.sql.shuffle.partitions = nproc.

Standard output ends with two JSON lines: a flat one with every metric,
its unit and the sample counts behind it, then the result line
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics of a traced run.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
STATE = os.path.join(ROOT, ".perfbench")
CLASSPATH = os.path.join(HARNESS, "target", "runtime.classpath")
STAMP = os.path.join(STATE, "build.stamp")
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every file the build reads (graft, its build, the harness)."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HARNESS, "src"), os.path.join(HARNESS, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            # build outputs and sbt's generated meta-build are not sources
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(STATE, exist_ok=True)
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                             cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(CLASSPATH):
        fail("build failed, see " + log)
    with open(STAMP, "w") as f:
        f.write(stamp)


def run_jvm(workload, data, seconds, trace):
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(STATE, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)] + [
        "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", cp, "graftbench.Main", "--workload", workload, "--data", data, "--work", work,
        "--seconds", str(seconds), "--trace", "1" if trace else "0", "--cores", str(cores),
        "--out", out]
    log = os.path.join(STATE, "jvm-%s.log" % workload)
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("%s did not finish within %d s, see %s" % (workload, JVM_TIMEOUT_S, log))
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(out):
        fail("%s exited with %d, see %s" % (workload, rc, log))
    with open(out) as f:
        result = json.load(f)
    result["cores"] = cores
    return result


def flat_line(result, line, manifest, seed, trace):
    """Every metric by name with its unit, plus what stands behind it."""
    flat = {"workload": result["workload"], "seed": seed, "trace": int(trace),
            "cores": result["cores"], "checks": result["checks"]}
    for name, m in line["metrics"].items():
        flat[name] = m["value"]
        flat[name + ".unit"] = m["unit"]
    flat["peak_rss_mb"] = result["rss_hwm_kb"] / 1024.0
    flat["peak_rss_mb.unit"] = "MB"
    for kind, xs in sorted(result["samples"].items()):
        for k, x in metrics.summary(xs).items():
            flat["samples.%s.%s" % (kind, k)] = x
    for k, x in sorted(manifest["counts"].items()):
        flat["inputs." + k] = x
    return flat


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no graft sources next to perfbench/; run from the root of a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    build()
    data = os.path.join(STATE, "data", "%s-%d" % (a.workload, a.seed))
    manifest = gen.generate(a.workload, a.seed, data)
    t0 = time.time()
    result = run_jvm(a.workload, data, a.seconds, bool(a.trace))
    for e in result.get("errors", []):
        print("perfbench: " + e, file=sys.stderr)
    line = metrics.result_line(result, bool(a.trace))
    flat = flat_line(result, line, manifest, a.seed, a.trace)
    flat["wall_s"] = time.time() - t0
    print(json.dumps(flat, sort_keys=True))
    print(json.dumps(line))


if __name__ == "__main__":
    main()
