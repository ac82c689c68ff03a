#!/usr/bin/env python3
"""Interleaved A/B of the perfbench workloads between two checkouts.

For each seed and workload, runs `perfbench/run.py` once in the base
checkout and once in the change checkout (which one goes first alternates
from pair to pair), and counts the processes the machine started during
each run: the `processes` line of /proc/stat, read before and after. Each
run is appended to --out as one JSON line.

    python3 tools/bench_ab.py run --base DIR --change DIR \\
        --workloads stream_neardup,batch_catalog --seeds 101-110 \\
        [--seconds 10] [--trace 0] --out FILE.jsonl
    python3 tools/bench_ab.py summary FILE.jsonl [--benchmark BENCHMARK.json]

`summary` prints, per workload and end-to-end metric: each side's median
and [Q1, Q3] (statistics.quantiles n=4), the change's median gain,
whether that gain exceeds the base's Q3 - Q1, and in how many pairs the
change was better. A run that
failed its gates counts as a lost pair and is left out of the medians.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def processes():
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("processes "):
                return int(line.split()[1])
    return -1


def run_one(checkout, workload, seed, seconds, trace):
    before, t0 = processes(), time.monotonic()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=checkout, capture_output=True, text=True)
    took, after = time.monotonic() - t0, processes()
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = {"correct": False, "metrics": {}}
    return {"workload": workload, "seed": seed, "seconds": seconds,
            "trace": trace, "exit": p.returncode,
            "correct": bool(result.get("correct")),
            "metrics": result.get("metrics", {}),
            "processes": after - before, "run_s": round(took, 1),
            "summary": next((l for l in lines if l.startswith("summary ")),
                            ""),
            "stderr_tail": "" if p.returncode == 0 else p.stderr[-800:]}


def cmd_run(a):
    sides = {"base": os.path.abspath(a.base),
             "change": os.path.abspath(a.change)}
    with open(a.out, "a") as out:
        for i, seed in enumerate(seeds(a.seeds)):
            for w in a.workloads.split(","):
                order = ["base", "change"] if i % 2 == 0 else \
                    ["change", "base"]
                for side in order:
                    rec = run_one(sides[side], w, seed, a.seconds, a.trace)
                    rec.update(side=side, pair=i)
                    out.write(json.dumps(rec) + "\n")
                    out.flush()
                    print(f"{w} seed={seed} {side}: exit={rec['exit']} "
                          f"procs={rec['processes']} {rec['summary']}",
                          flush=True)


def value(m):
    """A metric as run.py writes it: {"value": v, "unit": u}."""
    return float(m["value"])


def cmd_summary(a):
    with open(a.benchmark) as f:
        better = {m["name"]: m["better"]
                  for m in json.load(f)["end_to_end"]}
    recs = [json.loads(l) for l in open(a.file) if l.strip()]
    for w in sorted({r["workload"] for r in recs}):
        runs = [r for r in recs if r["workload"] == w and not r["trace"]]
        pairs = {}
        for r in runs:
            pairs.setdefault((r["seed"], r["pair"]), {})[r["side"]] = r
        full = [p for p in pairs.values() if len(p) == 2]
        print(f"== {w}: {len(full)} pairs, failed runs: "
              f"{sum(not r['correct'] for r in runs)}")
        procs = {s: statistics.median(p[s]["processes"] for p in full)
                 for s in ("base", "change")} if full else {}
        print(f"   processes/run median: base {procs.get('base')} "
              f"change {procs.get('change')}")
        for name, way in better.items():
            xs = {s: [value(p[s]["metrics"][name]) for p in full
                      if p[s]["correct"] and name in p[s]["metrics"]]
                  for s in ("base", "change")}
            if len(xs["base"]) < 2 or not xs["change"]:
                continue
            sign = 1 if way == "lower" else -1
            wins = sum(
                1 for p in full
                if p["base"]["correct"] and p["change"]["correct"] and
                sign * (value(p["base"]["metrics"][name]) -
                        value(p["change"]["metrics"][name])) > 0)
            mb, mc = statistics.median(xs["base"]), \
                statistics.median(xs["change"])
            qb = statistics.quantiles(xs["base"], n=4)
            qc = statistics.quantiles(xs["change"], n=4) \
                if len(xs["change"]) > 1 else [mc, mc, mc]
            gain = sign * (mb - mc)
            print(f"   {name:22s} base {mb:9.4g} [{qb[0]:.4g}, {qb[2]:.4g}]"
                  f"  change {mc:9.4g} [{qc[0]:.4g}, {qc[2]:.4g}]"
                  f"  gain {gain / mb:+6.1%}  gap>base IQR "
                  f"{gain > qb[2] - qb[0]!s:5s}  wins {wins}/{len(full)}")


def main():
    p = argparse.ArgumentParser()
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--base", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--workloads", required=True)
    r.add_argument("--seeds", required=True)
    r.add_argument("--seconds", type=int, default=10)
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--out", required=True)
    s = sub.add_parser("summary")
    s.add_argument("file")
    s.add_argument("--benchmark", default="BENCHMARK.json")
    a = p.parse_args()
    cmd_run(a) if a.cmd == "run" else cmd_summary(a)


if __name__ == "__main__":
    main()
