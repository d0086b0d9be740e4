#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a source tree. The first call builds the program and
the harness with sbt (perfbench/build.sbt) and caches the runtime class
path under perfbench/target; later calls start the JVM directly, so no
build tool runs on the timed path. A run is one JVM doing set-up, warm-up
and the measured operations. The last stdout line is one JSON object:
correct, attempted, failed, metrics. A traced run also leaves its spans
and counters in perfbench/target/traces/<workload>-s<seed>.jsonl.
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
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "runtime-classpath.txt")
DIGEST_FILE = os.path.join(TARGET, "sources.sha256")
WORKLOADS = ("wordstats_etl", "neardup_clusters")
HEAP = "2g"
# a fixed young generation keeps the collector's sizing, and so the heap
# left after each collection, the same from one JVM to the next
YOUNG = "512m"
BUILD_TIMEOUT_S = 840
RUN_DEADLINE_S = 170
# Spark on JDK 17 needs these when a session starts outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dirpath, dirnames, filenames in os.walk(r):
            dirnames.sort()
            files += [os.path.join(dirpath, f) for f in filenames]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """The cached runtime class path, building first when sources changed."""
    digest = source_digest()
    if os.path.isfile(CLASSPATH_FILE) and os.path.isfile(DIGEST_FILE):
        with open(DIGEST_FILE) as fh:
            if fh.read().strip() == digest:
                with open(CLASSPATH_FILE) as cp:
                    return cp.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        sys.exit("perfbench: sbt is not on PATH; it is needed to build the program")
    log("building program and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    t0 = time.time()
    try:
        proc = subprocess.run(
            [sbt, "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: build did not finish in {BUILD_TIMEOUT_S} s")
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        sys.exit(f"perfbench: build failed (exit {proc.returncode})")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as fh:
        fh.write(cp + "\n")
    with open(DIGEST_FILE, "w") as fh:
        fh.write(digest + "\n")
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def run_jvm(cp, args, work, deadline):
    """The harness JVM; returns its RESULT object, or exits on failure."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "conf", "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args + ["--work", work]
    left = deadline - time.time()
    if left < 10:
        sys.exit("perfbench: no time left for the next JVM")
    try:
        proc = subprocess.run(cmd, cwd=work, stdin=subprocess.DEVNULL,
                              stdout=subprocess.PIPE, text=True, timeout=left)
    except subprocess.TimeoutExpired:
        sys.exit("perfbench: harness JVM ran past the run's deadline")
    results = [l for l in proc.stdout.splitlines() if l.startswith("RESULT ")]
    if proc.returncode != 0 or not results:
        sys.stderr.write(proc.stdout[-2000:])
        sys.exit(f"perfbench: harness JVM failed (exit {proc.returncode})")
    return json.loads(results[-1][len("RESULT "):])


def declared_metrics(trace):
    """Metric names BENCHMARK.json declares for this mode, if it exists."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        sys.exit("perfbench: no program sources (build.sbt, src/main/scala/graft) "
                 f"next to {os.path.relpath(HERE)}; run from the root of a source tree")

    cp = classpath()
    deadline = time.time() + RUN_DEADLINE_S
    units = declared_metrics(a.trace)
    run_dir = os.path.join(TARGET, "runs", f"{a.workload}-s{a.seed}-p{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    try:
        os.makedirs(run_dir)
        result = run_jvm(cp, args, run_dir, deadline)
        if a.trace:
            traces = os.path.join(TARGET, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.move(os.path.join(run_dir, "trace.jsonl"),
                        os.path.join(traces, f"{a.workload}-s{a.seed}.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    names = list(units) if units is not None else list(result["metrics"])
    missing = [n for n in names if n not in result["metrics"]]
    if missing:
        sys.exit(f"perfbench: run reported no value for {', '.join(missing)}")
    metrics = {n: {"value": result["metrics"][n], "unit": units[n] if units else ""} for n in names}
    print(json.dumps({"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
