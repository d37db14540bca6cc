#!/usr/bin/env python3
"""graft benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout builds graft and
the benchmark from source with sbt (perfbench/build.sbt depends on the root
build); later runs reuse the build while the sources are unchanged. The run
itself is one JVM (perfbench.Main) at local[n], n = the CPUs this process
may use. Human-readable lines come first; the last line of standard output
is the JSON result. Build output, work data and trace files go under
.bench_build/perfbench/ in the checkout.

Extra flags for the benchmark's own tests: --tiny (small inputs, one set-up)
and --perturb (corrupt one result, which must then count as failed).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("curate_warc", "sql_headline", "stream_fold", "graph_iter")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "3g"
# A throughput collector, and a JIT that compiles hot code after a tenth of
# the usual invocations: with the defaults, operation times kept falling for
# three or four operations after the warm-up; with these they are flat after
# one.
JVM_OPTS = ["-XX:+UseParallelGC", "-XX:CompileThresholdScaling=0.1",
            "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData"]

# Spark on JDK 17 outside spark-submit needs these (as in the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: graft's main sources and build, and ours."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout
    and waits for it, so nothing it started outlives this call."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise


def classpath():
    """The benchmark's runtime classpath, building first if sources changed."""
    stamp = os.path.join(OUT, "classpath.txt")
    want = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            have, cp = (fh.read().split("\n") + ["", ""])[:2]
        if have == want and cp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    log("perfbench: building graft and the benchmark with sbt ...")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE, text=True)
    if code != 0:
        sys.stderr.write(out or "")
        sys.exit("perfbench: build failed")
    cp = out.strip().splitlines()[-1].strip()
    if not all(os.path.exists(p) for p in cp.split(os.pathsep)):
        sys.stderr.write(out)
        sys.exit("perfbench: the build printed no usable classpath")
    os.makedirs(OUT, exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(want + "\n" + cp + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--perturb", action="store_true")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        sys.exit("perfbench: graft's sources are not next to perfbench/; run from a full checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        sys.exit("perfbench: needs java and sbt on PATH")

    cp = classpath()
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    # Per-process scratch, so a concurrent run cannot delete this one's.
    tmp = os.path.join(OUT, "tmp-%d" % os.getpid())
    warehouse = os.path.join(OUT, "warehouse-%d" % os.getpid())
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(OUT, "result-%s-%d.json" % (a.workload, a.seed))
    if os.path.exists(result):
        os.remove(result)
    cmd = ["java", "-Xmx" + HEAP] + JVM_OPTS
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.sql.warehouse.dir=" + warehouse, "-Dderby.system.home=" + tmp,
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--root", OUT, "--out", result]
    cmd += ["--tiny"] if a.tiny else []
    cmd += ["--perturb"] if a.perturb else []
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    code, _ = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env)
    shutil.rmtree(warehouse, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    if code is None:
        sys.exit("perfbench: run exceeded %d s and was stopped" % RUN_TIMEOUT_S)
    if code != 0 or not os.path.exists(result):
        sys.exit("perfbench: run failed (exit %s)" % code)
    with open(result) as fh:
        line = json.dumps(json.load(fh))
    print(line, flush=True)


if __name__ == "__main__":
    main()
