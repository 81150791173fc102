#!/usr/bin/env python3
"""graft benchmark runner.

Builds graft (``src/main/scala``) and the benchmark harness
(``perfbench/src``) from source with the Scala compiler that ships in
Spark's jar directory, then runs one closed-loop workload in a fresh JVM
and re-prints the harness's report.  The last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.

    python3 perfbench/run.py --workload mor_churn --seed 1 --seconds 10 --trace 0

Run it from the repository root.  Build outputs, warehouses, logs and
trace files go under ``.bench_build/`` in that directory.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("mor_read", "mor_churn", "curate")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# spark-submit normally injects (the same list the project's build uses).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the project's
    build.sbt `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("no Spark jar directory (set SPARK_HOME)")


def sources(tree):
    out = []
    for d, _, files in os.walk(tree):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:20]


def compile_tree(name, srcs, classpath, stamp, jars):
    """scalac `srcs` into .bench_build/perfbench/<name>-<stamp>; reused
    when the stamp (a hash of every source) is unchanged."""
    dest = os.path.join(OUT, f"{name}-{stamp}")
    if os.path.isdir(dest):
        return dest
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, f"{name}.sources")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.pathsep.join(classpath + [os.path.join(jars, "*")])
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp,
           "@" + argfile]
    t0 = time.time()
    log = os.path.join(OUT, f"build-{name}.log")
    with open(log, "w") as lf:
        rc = run_child(cmd, lf, BUILD_TIMEOUT_S)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"compiling {name} failed (exit {rc})")
    os.rename(tmp, dest)
    print(f"perfbench: built {name} in {time.time() - t0:.1f}s", file=sys.stderr)
    return dest


def run_child(cmd, out, timeout, stdout=None, env=None):
    """Run `cmd` in its own process group; on timeout or termination kill
    the group and wait for it, so no process outlives the benchmark."""
    p = subprocess.Popen(cmd, stdout=stdout or out, stderr=out, env=env,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    graft_src = os.path.join(ROOT, "src", "main", "scala")
    graft_res = os.path.join(ROOT, "src", "main", "resources")
    if not os.path.isdir(graft_src):
        fail(f"no graft sources under {graft_src}; run from the repository root")
    jars = spark_jars()
    os.makedirs(OUT, exist_ok=True)
    gsrcs = sources(graft_src)
    graft = compile_tree("graft", gsrcs, [], digest(gsrcs), jars)
    bsrcs = sources(os.path.join(HERE, "src"))
    bench = compile_tree("harness", bsrcs, [graft], digest(bsrcs, graft), jars)
    return [bench, graft, graft_res, os.path.join(jars, "*")]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: sf0.001-sized inputs for the self-test")
    ap.add_argument("--plant-wrong", action="store_true",
                    help="corrupt one answer per read kind; the run must fail")
    a = ap.parse_args()
    # termination unwinds through run_child, which stops the JVM first
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = build()
    run_dir = os.path.join(OUT, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    trace_dir = os.path.join(ROOT, ".bench_build", "traces")
    os.makedirs(trace_dir, exist_ok=True)
    local = os.path.join(run_dir, "spark-local")
    cmd = (["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Xss8m",
            "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={run_dir}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(cp), "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--scale", a.scale, "--plant-wrong", str(a.plant_wrong).lower(),
              "--dir", run_dir, "--local-dir", local,
              "--trace-out", os.path.join(
                  trace_dir, f"{a.workload}-seed{a.seed}.json")])
    out_path = os.path.join(run_dir, "stdout.txt")
    log_path = os.path.join(ROOT, ".bench_build", "perfbench",
                            f"jvm-{a.workload}.log")
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    t0 = time.time()
    with open(out_path, "w") as so, open(log_path, "w") as lf:
        rc = run_child(cmd, lf, JVM_TIMEOUT_S, stdout=so, env=env)
    print(f"perfbench: JVM ran {time.time() - t0:.1f}s", file=sys.stderr)
    lines = open(out_path).read().splitlines()
    shutil.rmtree(run_dir, ignore_errors=True)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if rc != 0 or not isinstance(result, dict):
        sys.stderr.write("\n".join(open(log_path).read().splitlines()[-60:]) + "\n")
        fail(f"harness JVM exited {rc} without a result (log: {log_path})")
    for ln in lines:
        print(ln)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
