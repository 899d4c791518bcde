#!/usr/bin/env python3
"""Run one workload of the SiriDB-client benchmark and print its result.

Usage (from the repository root):

    python3 perfbench/run.py --workload ingest|query --seed N \
        --seconds S --trace 0|1

The first run in a checkout compiles the program's sources together
with the benchmark's (an sbt build in perfbench/); later runs reuse
the build while no source changed. The run then starts one JVM that
hosts the program's server and the benchmark client, and prints the
JVM's human-readable report followed, as the last line, by one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are BENCHMARK.json's end_to_end metrics, with --trace 1 its
per_layer metrics.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")
WORK = os.path.join(BENCH, ".work")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 700
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    return sorted(files)


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"{cmd[0]} timed out after {timeout} s", 5)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def build(root):
    files = source_files(root)
    stamp = stamp_of(files)
    if os.path.exists(STAMP) and os.path.isdir(CLASSES):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    env["SBT_OPTS"] += " -Dsbt.server.autostart=false"
    t0 = time.time()
    code, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], BUILD_TIMEOUT_S,
                          cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          stdin=subprocess.DEVNULL)
    if code != 0:
        sys.stderr.write(out.decode(errors="replace")[-4000:])
        die("build failed", 3)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        die("run from the repository root (no BENCHMARK.json here)", 2)
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        die("the program's sources (src/main/scala) are missing", 2)
    with open(spec_path) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {a.workload}", 2)
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home and shutil.which("spark-submit"):
        spark_home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        die("no Spark installation: set SPARK_HOME", 2)
    os.environ["SPARK_HOME"] = spark_home

    build(root)

    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xms2g", "-Xmx2g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"),
            "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
    try:
        code, out = run_group(cmd, JVM_TIMEOUT_S, cwd=work, stdout=subprocess.PIPE,
                              stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    text = out.decode(errors="replace")
    lines = text.splitlines()
    for line in lines:
        if not line.startswith("PERFBENCH_RESULT "):
            print(line)
    if code != 0:
        die(f"benchmark process exited with {code}", 4)
    res = [l for l in lines if l.startswith("PERFBENCH_RESULT ")]
    if not res:
        die("benchmark process printed no result", 4)
    got = json.loads(res[-1][len("PERFBENCH_RESULT "):])

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        g = got["metrics"].get(m["name"])
        if g is None:
            die(f"metric {m['name']} was not measured", 4)
        if g["unit"] != m["unit"]:
            die(f"metric {m['name']} measured in {g['unit']}, declared {m['unit']}", 4)
        metrics[m["name"]] = {"value": g["value"], "unit": g["unit"]}
    print(json.dumps({"correct": bool(got["correct"]), "attempted": int(got["attempted"]),
                      "failed": int(got["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
