#!/usr/bin/env python3
"""graft benchmark: build the engine and the benchmark from source, run one
workload in one JVM at local[4], and print one JSON result line.

    python3 perfbench/run.py --workload extract_bulk --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. Everything it builds or writes goes
under .bench_build/ there (CARGO_TARGET_DIR-style): compiled classes under
.bench_build/perfbench/, run state under .bench_build/work/, span traces
under .bench_build/traces/. The last line of standard output is the JSON
object {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer
list, each as {"value", "unit"}. Exit code 0 only for a complete result.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
BUILD = os.path.join(OUT, "perfbench")
WORK = os.path.join(OUT, "work")
WORKLOADS = ("extract_bulk", "curate")
HEAP = "3g"
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 880

# Spark 4 on JDK 17 needs these outside spark-submit (build.sbt has the same
# list, from org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    # the same default location build.sbt takes Spark's jars from
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not os.path.isdir(jars):
        fail(f"no Spark jars at {jars} (set SPARK_HOME)")
    return jars


def scala_sources():
    """The engine's main sources and the benchmark's own, sorted."""
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    if not os.path.isdir(roots[0]):
        fail(f"no engine sources at {roots[0]}: run from a graft checkout")
    out = []
    for r in roots:
        for d, _, files in os.walk(r):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(jars):
    """Compiles engine + benchmark with scalac unless the stamp matches.
    Returns the classes dir and whether a build ran."""
    srcs = scala_sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, False
    shutil.rmtree(BUILD, ignore_errors=True)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(classes)
    os.makedirs(tmp)
    compiler = [os.path.join(jars, j) for j in sorted(os.listdir(jars))
                if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        fail(f"scala compiler jars not found in {jars}")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(jars, "*")] + srcs
    print(f"perfbench: compiling {len(srcs)} Scala sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        fail("compilation failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, True


def metric_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.monotonic()

    e2e, layers = metric_spec()
    jars = spark_jars()
    classes, built = build(jars)
    budget = (BUILD_TIMEOUT_S if built else RUN_TIMEOUT_S) - (time.monotonic() - started)

    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    trace_out = os.path.join(OUT, "traces", f"{a.workload}-seed{a.seed}.jsonl")
    cp = os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"),
                          os.path.join(jars, "*")])
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", WORK, "--trace-out", trace_out])
    log_path = os.path.join(OUT, "last_run.log")
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, cwd=WORK)
        try:
            stdout, _ = proc.communicate(timeout=max(10, budget))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {budget:.0f} s (log: {log_path})")
    shutil.rmtree(WORK, ignore_errors=True)
    lines = stdout.decode(errors="replace").strip().splitlines()
    if proc.returncode != 0 or not lines:
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark JVM exited with {proc.returncode}")

    res = json.loads(lines[-1])
    want = layers if a.trace else e2e
    got = res["metrics"]
    if set(got) != set(want):
        fail(f"metric names differ from BENCHMARK.json: "
             f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}")
    for k, v in got.items():
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            fail(f"metric {k} is not a finite number: {v}")
    for line in lines[:-1]:
        if line.startswith("# "):
            print(line)
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": got[k], "unit": want[k]} for k in sorted(want)},
    }))


if __name__ == "__main__":
    main()
