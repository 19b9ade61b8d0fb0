#!/usr/bin/env python3
"""Compare two checkouts on lakebench workloads with alternating pairs.

    python3 tools/bench_pairs.py --parent ../parent --change . \\
        --workload dedup --seeds 11-20 [--seconds 4] [--trace 0] [--out pairs.json]

``--workload`` takes one workload or a comma list (``lookup,ingest,dedup``);
the workloads run one after another, each over all the seeds. For each seed
it runs ``python3 lakebench/run.py --workload W --seed N --seconds S
--trace T`` once in each checkout, one after the other: the parent first on
odd seeds, the change first on even seeds. Each run builds its own
checkout's library the way the benchmark does (the first run of a checkout
pays the build; later runs reuse it). Nothing under ``lakebench/`` is
written by this script.

Per metric it prints each side's median and quartiles, the change's wins
out of the pairs (ties count for neither side), and two verdicts:

- ``gain``: the change wins at least 9 of every 10 pairs and its median is
  better than the parent's by more than the parent's interquartile range;
- ``bound``: for an end-to-end metric of BENCHMARK.json, whether the
  change's median is within the metric's bound of the parent's.

It prints one table per workload, then one line saying whether any
workload breached a bound. It also reports how many runs on each side were
correct with no failed operations. ``--out`` writes, per workload, the
summary and every run as JSON: its result object plus its stdout report
(load stamps, and with ``--trace 1`` the per-layer lines that the result
object leaves out). One workload writes that record alone; several write
``{"workloads": [records], "bounds_breached": [names]}``.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def seed_range(text):
    lo, _, hi = text.partition("-")
    lo, hi = int(lo), int(hi or lo)
    if hi < lo:
        raise argparse.ArgumentTypeError(f"empty seed range {text}")
    return list(range(lo, hi + 1))


def run_once(checkout, args, workload, seed):
    """One lakebench run in `checkout`; the result object, or an error."""
    cmd = [sys.executable, "lakebench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace)]
    t = time.time()
    proc = subprocess.run(cmd, cwd=checkout, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    except json.JSONDecodeError:
        res = None
    if not isinstance(res, dict) or "metrics" not in res:
        return {"error": f"exit {proc.returncode}", "wall_s": time.time() - t, "report": lines}
    res["wall_s"] = time.time() - t
    # the human-readable report: load stamps and the layers not in the result
    res["report"] = lines[:-1]
    return res


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def directions(checkout):
    """Metric name -> (better, bound or None), from BENCHMARK.json."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        bench = json.load(f)
    out = {m["name"]: (m["better"], m.get("bound")) for m in bench.get("per_layer", [])}
    out.update({m["name"]: (m["better"], m.get("bound")) for m in bench["end_to_end"]})
    return out


def summarize(pairs, dirs):
    """Per-metric summary over the pairs whose two runs both produced a result."""
    ok = [(p, c) for p, c in pairs if "metrics" in p and "metrics" in c]
    names = [n for n in dirs if ok and all(n in p["metrics"] and n in c["metrics"] for p, c in ok)]
    rows = []
    for name in names:
        better, bound = dirs[name]
        pv = [p["metrics"][name]["value"] for p, _ in ok]
        cv = [c["metrics"][name]["value"] for _, c in ok]
        sign = 1 if better == "lower" else -1
        wins = sum(1 for a, b in zip(pv, cv) if sign * (b - a) < 0)
        pq, cq = quartiles(pv), quartiles(cv)
        gap = sign * (pq[1] - cq[1])  # > 0 when the change is better
        row = {
            "metric": name, "unit": ok[0][0]["metrics"][name]["unit"], "better": better,
            "pairs": len(ok), "change_wins": wins,
            "parent": {"q1": pq[0], "median": pq[1], "q3": pq[2]},
            "change": {"q1": cq[0], "median": cq[1], "q3": cq[2]},
            "delta_frac": (cq[1] - pq[1]) / abs(pq[1]) if pq[1] else None,
            "gain": wins * 10 >= 9 * len(ok) and gap > pq[2] - pq[0],
        }
        if bound is not None:
            row["bound"] = bound
            limit = pq[1] * (1 + bound) if better == "lower" else pq[1] * (1 - bound)
            row["within_bound"] = sign * (cq[1] - limit) <= 0
        rows.append(row)
    return rows


def side_health(runs):
    good = sum(1 for r in runs if r.get("correct") is True and r.get("failed") == 0)
    return {"runs": len(runs), "correct_and_no_failures": good,
            "errors": sum(1 for r in runs if "error" in r)}


def fmt(x):
    return f"{x:.4g}" if isinstance(x, float) else str(x)


WORKLOADS = ("lookup", "ingest", "dedup")


def workload_list(text):
    names = [w.strip() for w in text.split(",") if w.strip()]
    bad = [w for w in names if w not in WORKLOADS]
    if not names or bad:
        raise argparse.ArgumentTypeError(f"workloads are a comma list of {', '.join(WORKLOADS)}")
    return names


def compare(args, workload):
    """Alternating pairs on one workload: prints its table, returns its JSON record."""
    pairs = []
    for seed in args.seeds:
        order = ("parent", "change") if seed % 2 else ("change", "parent")
        got = {}
        for side in order:
            res = run_once(getattr(args, side), args, workload, seed)
            got[side] = res
            brief = res.get("error") or " ".join(
                f"{k}={fmt(v['value'])}" for k, v in list(res["metrics"].items())[:3])
            log(f"{workload} seed {seed} {side}: correct={res.get('correct')} "
                f"failed={res.get('failed')} {brief}")
        pairs.append((got["parent"], got["change"]))

    rows = summarize(pairs, directions(args.change))
    health = {"parent": side_health([p for p, _ in pairs]),
              "change": side_health([c for _, c in pairs])}
    print(f"workload={workload} seeds={args.seeds[0]}-{args.seeds[-1]} "
          f"seconds={args.seconds} trace={args.trace}")
    print(f"  health: parent {health['parent']}  change {health['change']}")
    for r in rows:
        p, c = r["parent"], r["change"]
        extra = f" within_bound({r['bound']})={r['within_bound']}" if "bound" in r else ""
        delta = f"{100 * r['delta_frac']:+.1f}%" if r["delta_frac"] is not None else "n/a"
        print(f"  {r['metric']} [{r['unit']}, {r['better']} better]: "
              f"parent {fmt(p['median'])} (q1 {fmt(p['q1'])}, q3 {fmt(p['q3'])}) -> "
              f"change {fmt(c['median'])} (q1 {fmt(c['q1'])}, q3 {fmt(c['q3'])}) {delta}, "
              f"change wins {r['change_wins']}/{r['pairs']}, gain={r['gain']}{extra}")
    sys.stdout.flush()
    return {"workload": workload, "seeds": args.seeds, "seconds": args.seconds,
            "trace": args.trace, "health": health, "summary": rows,
            "runs": [{"seed": s, "parent": p, "change": c}
                     for s, (p, c) in zip(args.seeds, pairs)]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True, type=workload_list,
                    help="one workload or a comma list, e.g. lookup,ingest,dedup")
    ap.add_argument("--seeds", required=True, type=seed_range, help="e.g. 11-20")
    ap.add_argument("--seconds", type=int, default=4)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="write every run and the summary here as JSON")
    args = ap.parse_args()
    for d in (args.parent, args.change):
        if not os.path.isfile(os.path.join(d, "lakebench", "run.py")):
            ap.error(f"{d} is not a checkout with lakebench/run.py")

    records = [compare(args, w) for w in args.workload]
    breached = [f"{rec['workload']}.{r['metric']}" for rec in records
                for r in rec["summary"] if r.get("within_bound") is False]
    print("bounds: " + (f"BREACHED by {', '.join(breached)}" if breached
                        else f"none breached across {', '.join(args.workload)}"))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(records[0] if len(records) == 1 else
                      {"workloads": records, "bounds_breached": breached}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
