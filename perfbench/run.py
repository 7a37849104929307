#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the harness in perfbench/ together with the program's sources
(src/main/scala) with sbt on first use, then runs the workload in one JVM
with Spark local[N], N = the cores this process may use. Build output and
the run's scratch files go to .bench_build/ at the root of the checkout.
Prints one JSON object as the last line of stdout; exits non-zero, without
a result, if anything fails.
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
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "perfbench", "scala-2.13", "classes")
STAMP = os.path.join(BUILD, "build.stamp")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700  # with the run after it, within the first run's 900 s
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every source and build file the harness is compiled from."""
    h = hashlib.sha256()
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for tree in trees:
        for d, _, names in os.walk(tree):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def spark_home():
    """The Spark installation: SPARK_HOME, else the one spark-submit runs from."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("no Spark installation: set SPARK_HOME")
    return home


def build(env):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("no program sources (src/main/scala) next to perfbench/")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    log("building harness and program with sbt")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep the build's JVM scratch files inside the checkout too
    env = dict(env, SBT_OPTS=f"{env.get('SBT_OPTS', '')} -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    rc, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                      BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=sys.stderr,
                      stdin=subprocess.DEVNULL)
    if rc != 0:
        raise SystemExit(f"build failed (sbt exit {rc})")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec, [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", help="write the catalog's expected results here")
    a = ap.parse_args()

    spec, names = expected_metrics(a.trace)
    workloads = [w["name"] for w in spec["workloads"]]
    if a.workload not in workloads:
        raise SystemExit(f"unknown workload {a.workload}; one of {workloads}")
    env = dict(os.environ, SPARK_HOME=spark_home())
    build(env)

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, "run", f"{a.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # C1 only: C2 keeps speeding this code up for ~35 s of passes, longer than
    # a run lasts, so under it every run would measure a different point of
    # its warm-up. C1 reaches its steady state within the warm-up. A fixed
    # heap size keeps the collector from resizing it between passes.
    cmd = [java, "-XX:TieredStopAtLevel=1", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(env["SPARK_HOME"], "jars", "*"),
            "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--cores", str(cores),
            "--data", os.path.join(HERE, "data", "sf0.01"),
            "--expected", os.path.join(HERE, "expected_catalog.tsv")]
    if a.record_expected:
        cmd += ["--record-expected", os.path.abspath(a.record_expected)]
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep both in the checkout
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        rc, out = run_group(cmd, RUN_TIMEOUT_S, cwd=work, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if rc != 0 or not lines:
        raise SystemExit(f"workload run failed (exit {rc})")
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        raise SystemExit(f"malformed result: {lines[-1]}")
    if sorted(result["metrics"]) != sorted(names):
        raise SystemExit(f"metrics {list(result['metrics'])} differ from BENCHMARK.json's {names}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
