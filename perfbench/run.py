#!/usr/bin/env python3
"""Benchmark of the Iowa ETL engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine's sources
together with the benchmark's (perfbench/build.sbt, sbt offline); later
runs reuse the build while the sources are unchanged. The run itself is
one JVM (perfbench.Main) on local[4]; its log, data and traces stay under
perfbench/.work. The last line of standard output is one JSON object:
with --trace 0 the end-to-end metrics, with --trace 1 the per-layer ones
listed in BENCHMARK.json.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")

BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData"] + [
    arg
    for pkg in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar",
    )
    for arg in ("--add-opens", "java.base/%s=ALL-UNNAMED" % pkg)
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution: set SPARK_HOME")
    return home


def build(env):
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp and os.path.isdir(CLASSES):
        return
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        code = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                            "-J-XX:-UsePerfData", "compile"],
                           HERE, env, out, time.time() + BUILD_TIMEOUT_S)
    if code != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail("build failed (exit %s), log in %s" % (code, log))
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def run_bounded(cmd, cwd, env, out, deadline):
    """Runs cmd in its own process group; kills the group at the deadline."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found under %s" % os.path.join(ROOT, "src"))
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    build(env)

    run_dir = os.path.join(WORK, "%s-seed%d" % (a.workload, a.seed))
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    result = os.path.join(run_dir, "result.json")
    cp = os.pathsep.join([CLASSES, os.path.join(env["SPARK_HOME"], "jars", "*")])
    cmd = ["java"] + JVM_OPTS + [
        "-Djava.io.tmpdir=" + tmp, "-Dderby.system.home=" + tmp,
        "-Dspark.ui.enabled=false", "-cp", cp, "graft.perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", run_dir, "--out", result,
    ]
    log = os.path.join(WORK, "%s-seed%d-trace%s.log" % (a.workload, a.seed, a.trace))
    with open(log, "w") as out:
        code = run_bounded(cmd, run_dir, env, out, time.time() + RUN_TIMEOUT_S)
    if code != 0 or not os.path.exists(result):
        sys.stderr.write(open(log).read()[-4000:])
        fail("run failed (exit %s), log in %s" % (code, log))
    with open(result) as fh:
        r = json.load(fh)
    shutil.rmtree(os.path.join(run_dir, "data"), ignore_errors=True)

    if a.trace == "1":
        # layers a workload never calls read 0
        metrics = {m["name"]: {"value": r["layers"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": r["e2e"][m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    if any(m["value"] is None for m in metrics.values()):
        fail("a metric has no value: %s" % json.dumps(r))
    print("perfbench: %s seed %d: %d timed passes, %d untraced; log %s" % (
        a.workload, a.seed, r["passes"], r["untraced_passes"], log))
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
