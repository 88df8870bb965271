#!/usr/bin/env python3
"""Run one perfbench workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the harness together
with the engine from source (sbt, into perfbench/target); later runs reuse
that build while the sources are unchanged. Each run starts one JVM with
Spark local[<=4], generates its inputs from the seed under perfbench/.work
(removed afterwards) and prints
    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
A traced run (--trace 1) prints the per-layer metrics and writes its spans
to perfbench/.traces/. The harness takes its metric names and units from
BENCHMARK.json; the result is checked against it: a metric missing, extra
or in another unit fails the run.
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
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
TRACES = os.path.join(HERE, ".traces")
ENGINE_SRC = os.path.join(ROOT, "src", "main")

BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the repository's build
# passes the same list to its forked runs).
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

child = None


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def stop_child(*_):
    if child is not None and child.poll() is None:
        child.kill()
        child.wait()
    sys.exit(130)


def source_digest():
    h = hashlib.sha256()
    trees = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for t in trees:
        for d, _, names in os.walk(t):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Builds the harness if its sources changed; returns the run classpath."""
    stamp = os.path.join(BUILD, "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            old, cp = f.read().split("\n", 1)
        if old == digest:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        global child
        child = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = child.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            child.kill()
            child.wait()
            rc = -1
        child = None
    with open(log) as f:
        lines = f.read().splitlines()
    if rc != 0 or not lines:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (rc {rc}); see {log}")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        f.write(digest + "\n" + cp)
    return cp


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def check(result, trace):
    want = expected_metrics(trace)
    got = {k: v.get("unit") for k, v in result["metrics"].items()}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        units = sorted(k for k in set(want) & set(got) if want[k] != got[k])
        fail(f"metrics differ from BENCHMARK.json: missing {missing}, extra {extra}, unit {units}", 3)
    for k in ("correct", "attempted", "failed"):
        if k not in result:
            fail(f"result lacks {k}", 3)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}: run from a full checkout")
    for s in (signal.SIGTERM, signal.SIGINT):
        signal.signal(s, stop_child)
    t0 = time.time()
    cp = classpath()

    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-XX:-DontCompileHugeMethods", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "--add-modules=jdk.incubator.vector"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # HotSpot's GC and JIT thread CPU counters, for the process CPU figures
    cmd += ["--add-exports", "java.management/sun.management=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", WORK,
            "--spec", os.path.join(ROOT, "BENCHMARK.json")]
    if args.trace:
        cmd += ["--spans", os.path.join(TRACES, f"{args.workload}-seed{args.seed}.json")]

    global child
    child = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = child.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        child.kill()
        child.wait()
        shutil.rmtree(WORK, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    rc = child.returncode
    child = None
    shutil.rmtree(WORK, ignore_errors=True)

    lines = out.splitlines()
    sys.stderr.write("".join(l + "\n" for l in lines[:-1]))
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail(f"no result line (rc {rc})", 5)
    check(result, args.trace)
    print(f"perfbench: {args.workload} seed {args.seed} done in {time.time() - t0:.1f} s", file=sys.stderr)
    print(json.dumps(result))
    sys.exit(rc)


if __name__ == "__main__":
    main()
