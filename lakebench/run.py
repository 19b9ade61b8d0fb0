#!/usr/bin/env python3
"""Run one lakebench workload and print its result as the last stdout line.

    python3 lakebench/run.py --workload lookup|ingest|dedup --seed N \
        --seconds S --trace 0|1
    python3 lakebench/run.py --selftest

Run from the repository root. The first run builds the library and the
benchmark from source with sbt (into ``lakebench/target`` and the
library's own ``target``); later runs reuse the build while no source or
build file has changed. Each run works in its own scratch directory under
``.bench_build/`` and deletes it on exit. See ``lakebench/README.md`` for
the workloads and metrics.
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
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_build")
STAMP = os.path.join(WORK, "lakebench.stamp")
CLASSPATH = os.path.join(BENCH, "target", "classpath.txt")

BUILD_TIMEOUT_S = 840
RUN_BUDGET_S = 175
WORKLOADS = ("lookup", "ingest", "dedup")
# A fixed heap with a fixed young generation under the parallel collector:
# the resident set then tracks what the program keeps, not when the
# collector happened to grow the heap, so peak_rss_mb repeats run to run.
JVM_MEMORY = ["-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+UseParallelGC"]
# Spark on JDK 17 needs these outside spark-submit (the library's own
# build passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sources():
    """Every file the build reads: the library's and the benchmark's."""
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        if os.path.isdir(d):
            paths += [os.path.join(d, f) for f in sorted(os.listdir(d))
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for dirpath, dirnames, files in os.walk(top):
            dirnames.sort()
            paths += [os.path.join(dirpath, f) for f in sorted(files)]
    return paths


def fingerprint():
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout
    or interrupt, and always wait for it."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build():
    """sbt build of the library and the benchmark, skipped while the
    sources match the last successful build."""
    want = fingerprint()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == want:
                return
    log("lakebench: building with sbt ...")
    t = time.time()
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                   BUILD_TIMEOUT_S, cwd=BENCH, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(CLASSPATH):
        raise SystemExit(f"lakebench: sbt build failed (exit {rc})")
    with open(STAMP, "w") as f:
        f.write(want)
    log(f"lakebench: built in {time.time() - t:.1f} s")


def calibrate():
    """A fixed CPU loop, timed: near-constant on a quiet machine,
    stretched under contention."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x = (x * 31 + i) & 0xFFFFFFFF
    return (time.perf_counter() - t) * 1e3


def loadavg():
    with open("/proc/loadavg") as f:
        return " ".join(f.read().split()[:3])


def java():
    exe = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    return exe if os.path.exists(exe) else "java"


def run(args, scratch):
    result = os.path.join(scratch, "result.json")
    with open(CLASSPATH) as f:
        cp = os.pathsep.join(line.strip() for line in f if line.strip())
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    cmd = [java(), *JVM_MEMORY, f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "lakebench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--scratch", scratch,
            "--result", result, "--launched-ms", repr(time.time() * 1e3)]
    if args.small:
        cmd.append("--small")
    # Spark's shuffle and spill files stay in the scratch directory too
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"))
    rc = run_group(cmd, RUN_BUDGET_S - (time.time() - args.started), cwd=ROOT,
                   stdin=subprocess.DEVNULL, env=env)
    if rc != 0 or not os.path.exists(result):
        raise SystemExit(f"lakebench: {args.workload} run failed (exit {rc})")
    with open(result) as f:
        res = json.loads(f.read())
    trace_file = result + ".trace.jsonl"
    if args.trace and os.path.exists(trace_file):
        keep = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.jsonl")
        os.makedirs(os.path.dirname(keep), exist_ok=True)
        shutil.move(trace_file, keep)
        print(f"trace: spans written to {os.path.relpath(keep, ROOT)}")
    return res


def selftest(args):
    """Each workload on tiny inputs, traced: its answers must check out
    and its timed actions' plans must keep their scans, joins and
    exchanges (the plan check runs inside every run)."""
    ok = True
    for w in WORKLOADS:
        ns = argparse.Namespace(workload=w, seed=1, seconds=2, trace=1, small=True,
                                started=time.time())
        scratch = os.path.join(WORK, f"selftest-{os.getpid()}-{w}")
        os.makedirs(scratch)
        try:
            res = run(ns, scratch)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
        passed = res["correct"] and res["failed"] == 0
        ok &= passed
        print(f"selftest {w}: {'PASS' if passed else 'FAIL'} ({res['attempted']} ops)")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=4)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    sys.stdout.reconfigure(line_buffering=True)  # our lines interleave with the JVM's
    args.small = False
    if not args.selftest and not args.workload:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("lakebench: run from a checkout of the repository; "
                         "the library sources (build.sbt, src/main/scala/graft) are missing")
    os.makedirs(WORK, exist_ok=True)
    build()
    args.started = time.time()  # the run's own time budget starts after the build
    if args.selftest:
        return selftest(args)

    print(f"load: nproc={os.cpu_count()} loadavg_start={loadavg()} calib_start_ms={calibrate():.1f}")
    scratch = os.path.join(WORK, f"run-{os.getpid()}-{int(time.time() * 1e3)}")
    os.makedirs(scratch)
    try:
        res = run(args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(f"load: loadavg_end={loadavg()} calib_end_ms={calibrate():.1f}")
    print(json.dumps(res), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
