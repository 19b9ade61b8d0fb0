#!/usr/bin/env python3
"""Profile one lakebench workload with Java Flight Recorder: exclusive CPU
shares per category, for executor and driver threads.

    python3 tools/profile_bench.py --workload dedup [--checkout .] [--seed 11]
        [--seconds 45] [--delay 35] [--duration 20] [--out DIR] [--top 15]

It builds the checkout's library the way ``lakebench/run.py`` does, then
runs ``python3 lakebench/run.py --workload W --seed N --seconds S`` with a
flight recording passed to the benchmark JVM through ``JAVA_TOOL_OPTIONS``.
The recording starts ``--delay`` seconds after the JVM starts and lasts
``--duration`` seconds, so it should sit inside the timed phase; the
script prints the phase window the run reports and warns when the
recording falls outside it. The recording has a fixed duration because the
benchmark JVM ends with ``halt``, which writes no recording at exit.

The samples are read with ``jfr print --stack-depth 300`` (the default
depth, 5 frames, is too shallow to attribute a sample). Each execution
sample counts once, for the first category in CATEGORIES that matches any
of its frames, or as ``other``. Executor samples are those of Spark's task
threads (``Executor task launch worker``); every other Java thread counts as
driver. JIT and GC threads are not Java threads and are not sampled.

The lists of top leaf methods (``--top``) name generated code by class and
method. Every query's whole-stage codegen stages share the class names
``GeneratedIteratorForCodegenStageN``, numbered from 1 within each query, so
a row such as ``Stage1.generate_doConsume_0`` lumps together the first
stage of every query the workload runs, not one stage of one query (in a
``dedup`` profile that one row read 24.5% of executor samples).

The recording and the table go to ``--out`` (default: a new temporary
directory); nothing is written under ``lakebench/`` beyond what the
benchmark's own build and run write.
"""

import argparse
import collections
import importlib.util
import os
import re
import subprocess
import sys
import tempfile

# (category, frame substrings), in priority order: a sample goes to the
# first category with a matching frame anywhere in its stack. Frames that
# drive a whole pipeline from below (the shuffle writer's write loop, the
# sorter's insert loop, an aggregate's input loop) are not listed, or every
# sample of the stage would match them: each category names frames that
# are on the stack only while that work itself runs.
CATEGORIES = [
    ("fallback sort (SortBasedAggregator)", ["SortBasedAggregator", "UnsafeKVExternalSorter"]),
    ("collect_set/collect_list buffers", ["expressions.aggregate.Collect"]),
    ("array sort (sort_array)", ["expressions.SortArray", "Arrays.parallelSort"]),
    ("boxing (GenericArrayData.<init>)", ["GenericArrayData.<init>"]),
    ("tokenizer (WordTokens)", ["graft.functions.WordTokens"]),
    ("shingle/minhash/simhash kernels", ["graft.functions.ShingleHashes", "graft.functions.MinHash",
                                         "graft.functions.SimHash64"]),
    ("pair kernel", ["graft.ops.PairKernel", "graft.functions.PairsInBucket"]),
    ("set kernels (SortedDistinct, SetOverlap)", ["graft.functions.SortedDistinct",
                                                  "graft.functions.SetOverlap"]),
    # driver-side costs paid per query: the ASM ClassReader and ZipFile
    # leaf frames of closure cleaning, and the Hadoop-conf copy plus the
    # InMemoryFileIndex listing of a `spark.read.parquet(...)`
    ("closure cleaning (ClosureCleaner)", ["ClosureCleaner"]),
    ("data source resolution (DataSource.resolveRelation)", ["DataSource.resolveRelation"]),
    ("codegen (Janino)", ["org.codehaus.janino", "org.codehaus.commons", "CodeGenerator"]),
    ("shuffle write", ["DiskBlockObjectWriter", "ShuffleExternalSorter", "insertRecordIntoSorter",
                       "writeSortedFile", "mergeSpills", "ShufflePartitionPairsWriter",
                       "LocalDiskShuffleMapOutputWriter", "commitAllPartitions"]),
    ("shuffle read", ["ShuffleBlockFetcherIterator", "BufferReleasingInputStream", "net.jpountz"]),
    ("row sort (SortExec)", ["UnsafeExternalSorter", "UnsafeInMemorySorter", "RadixSort",
                             "UnsafeExternalRowSorter.insertRow", "UnsafeSorterSpill"]),
    ("array_distinct/array_intersect", ["ArrayDistinct", "ArrayIntersect", "OpenHashSet"]),
    ("hash aggregate map", ["UnsafeFixedWidthAggregationMap", "BytesToBytesMap",
                            "ObjectAggregationMap"]),
    ("sorted-group walk (MapGroups)", ["MapGroupsExec", "GroupedIterator"]),
    # Parquet's writer frames also sit under `parquet` packages: match
    # them first, or every write sample counts as a read
    ("parquet write", ["ParquetOutputWriter", "InternalParquetRecordWriter", "ColumnWriter",
                       "ValuesWriter"]),
    ("parquet read", ["parquet"]),
    ("noop write", ["NoopWriter"]),
    ("planning (Catalyst)", ["catalyst.rules.RuleExecutor", "QueryPlanner",
                             "catalyst.analysis.Analyzer"]),
    ("whole-stage generated code", ["GeneratedClass$GeneratedIterator"]),
]

EXECUTOR = "Executor task launch worker"


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def load_runner(checkout):
    """lakebench/run.py of the checkout, as a module (its main() is not run)."""
    path = os.path.join(checkout, "lakebench", "run.py")
    spec = importlib.util.spec_from_file_location("lakebench_run", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def samples(jfr_file):
    """(thread name, frames leaf first) per jdk.ExecutionSample, streamed
    from `jfr print`."""
    cmd = ["jfr", "print", "--events", "jdk.ExecutionSample", "--stack-depth", "300", jfr_file]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    thread, frames, in_stack = None, [], False
    for line in proc.stdout:
        s = line.strip()
        if s.startswith("jdk.ExecutionSample"):
            thread, frames, in_stack = None, [], False
        elif s.startswith("sampledThread = "):
            m = re.match(r'sampledThread = "(.*)" \(', s)
            thread = m.group(1) if m else s
        elif s.startswith("stackTrace = ["):
            in_stack = True
        elif in_stack and s == "]":
            in_stack = False
        elif in_stack and s and s != "...":
            frames.append(s)
        elif s == "}" and thread is not None:
            yield thread, frames
            thread = None
    if proc.wait() != 0:
        raise SystemExit(f"profile_bench: jfr print failed (exit {proc.returncode})")


def categorize(frames):
    for name, keys in CATEGORIES:
        if any(k in f for f in frames for k in keys):
            return name
    return "other"


def method(frame):
    """`pkg.Class.method` of a frame line (arguments and line dropped)."""
    return frame.split("(")[0]


def table(counts, totals):
    names = [c for c, _ in CATEGORIES] + ["other"]
    width = max(len(n) for n in names)
    out = [f"{'category':<{width}}  {'executor':>9}  {'driver':>9}",
           f"{'samples':<{width}}  {totals['executor']:>9}  {totals['driver']:>9}"]
    for n in names:
        cells = []
        for side in ("executor", "driver"):
            t = totals[side]
            cells.append(f"{100.0 * counts[side][n] / t:8.1f}%" if t else f"{'-':>9}")
        if any(counts[side][n] for side in ("executor", "driver")):
            out.append(f"{n:<{width}}  {cells[0]}  {cells[1]}")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("lookup", "ingest", "dedup"))
    ap.add_argument("--checkout", default=".")
    ap.add_argument("--seed", type=int, default=11)
    ap.add_argument("--seconds", type=int, default=45)
    ap.add_argument("--delay", type=int, default=35, help="recording start, s after JVM start")
    ap.add_argument("--duration", type=int, default=20, help="recording length, s")
    ap.add_argument("--out", help="directory for the recording and the table")
    ap.add_argument("--top", type=int, default=15, help="leaf methods listed per thread side")
    args = ap.parse_args()

    checkout = os.path.abspath(args.checkout)
    out = os.path.abspath(args.out) if args.out else tempfile.mkdtemp(prefix="profile_bench-")
    os.makedirs(out, exist_ok=True)
    rec = os.path.join(out, f"{args.workload}-seed{args.seed}.jfr")
    if os.path.exists(rec):
        os.remove(rec)

    # build first, without the recording options: sbt is a JVM too
    runner = load_runner(checkout)
    os.makedirs(runner.WORK, exist_ok=True)
    runner.build()

    env = dict(os.environ)
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") +
                                f" -XX:StartFlightRecording=delay={args.delay}s,"
                                f"duration={args.duration}s,settings=profile,filename={rec}").strip()
    cmd = [sys.executable, "lakebench/run.py", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    log(f"profile_bench: {' '.join(cmd)} (recording {args.delay}-{args.delay + args.duration} s)")
    proc = subprocess.run(cmd, cwd=checkout, env=env, stdin=subprocess.DEVNULL,
                          stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    report = proc.stdout.splitlines()
    if proc.returncode != 0:
        raise SystemExit(f"profile_bench: run failed (exit {proc.returncode}):\n" +
                         "\n".join(report[-20:]))
    if not os.path.exists(rec):
        raise SystemExit("profile_bench: no recording was written; the JVM ended before "
                         f"{args.delay + args.duration} s: lower --delay/--duration or raise --seconds")

    lines = []
    phases = next((l for l in report if l.startswith("phases_s:")), None)
    if phases:
        p = dict((k, float(v)) for k, v in (kv.split("=") for kv in phases.split()[1:]))
        start = p.get("session", 0) + p.get("setup", 0) + p.get("warm_up", 0) + p.get("truth", 0)
        end = start + p.get("timed", 0)
        lines.append(f"{phases}  → timed phase ≈ {start:.1f}-{end:.1f} s after JVM start")
        if args.delay < start or args.delay + args.duration > end:
            lines.append(f"WARNING: the recording ({args.delay}-{args.delay + args.duration} s) "
                         "is not inside the timed phase")

    counts = {"executor": collections.Counter(), "driver": collections.Counter()}
    leaves = {"executor": collections.Counter(), "driver": collections.Counter()}
    totals = collections.Counter()
    for thread, frames in samples(rec):
        side = "executor" if thread.startswith(EXECUTOR) else "driver"
        totals[side] += 1
        counts[side][categorize(frames)] += 1
        if frames:
            leaves[side][method(frames[0])] += 1

    lines.append(f"workload={args.workload} seed={args.seed} checkout={checkout}")
    lines += table(counts, totals)
    for side in ("executor", "driver"):
        if totals[side]:
            lines.append(f"top leaf methods, {side} ({totals[side]} samples):")
            lines += [f"  {100.0 * n / totals[side]:5.1f}%  {m}"
                      for m, n in leaves[side].most_common(args.top)]
    text = "\n".join(lines)
    with open(os.path.join(out, f"{args.workload}-seed{args.seed}.txt"), "w") as f:
        f.write(text + "\n")
    print(text)
    log(f"profile_bench: recording and table in {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
