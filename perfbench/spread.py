#!/usr/bin/env python3
"""Repeated-run evidence for the benchmark.

Runs perfbench/run.py once per seed for each workload and reports, per
end-to-end metric, the median and the spread: the distance between the
first and third quartile (statistics.quantiles(values, n=4)) as a share
of the median, next to the metric's bound from BENCHMARK.json.

    python3 perfbench/spread.py --workloads stream_neardup,batch_catalog \\
        --seeds 1-10 [--seconds 10] [--out FILE.json]
    python3 perfbench/spread.py --compare FIRST.json SECOND.json

Run from the repository root. A run that fails its gates is reported and
left out of the figures. `--compare` sets two such reports side by side:
for each metric, how far the second median lies from the first, as a
share of the first, next to the metric's bound.
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


def run(workload, seed, seconds, trace=0):
    t0 = time.monotonic()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        capture_output=True, text=True)
    took = time.monotonic() - t0
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    try:
        return json.loads(last), p.returncode, took
    except json.JSONDecodeError:
        return None, p.returncode, took


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / statistics.median(values)


def compare(first, second, bounds):
    a, b = (json.load(open(f))["workloads"] for f in (first, second))
    ok = True
    for w in a:
        for m, fa in a[w]["metrics"].items():
            fb = b.get(w, {}).get("metrics", {}).get(m)
            if fb is None:
                continue
            change = (fb["median"] - fa["median"]) / fa["median"]
            within = abs(change) <= bounds[m]
            ok &= within
            print(f"{w:15s} {m:22s} first={fa['median']:10.4g} "
                  f"second={fb['median']:10.4g} change={change:+.3f} "
                  f"bound={bounds[m]} {'ok' if within else 'OUTSIDE'}")
    return ok


def main():
    a = argparse.ArgumentParser()
    a.add_argument("--workloads")
    a.add_argument("--compare", nargs=2, metavar="REPORT")
    a.add_argument("--seeds", default="1-10")
    a.add_argument("--seconds", type=int)
    a.add_argument("--out")
    args = a.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    if args.compare:
        sys.exit(0 if compare(*args.compare, bounds) else 1)
    if not args.workloads:
        a.error("--workloads or --compare is required")
    report = {"started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
              "cpus": os.cpu_count(), "seconds": seconds,
              "seeds": seeds(args.seeds), "workloads": {}}
    for w in args.workloads.split(","):
        runs, took = [], []
        for s in seeds(args.seeds):
            result, code, t = run(w, s, seconds)
            took.append(t)
            ok = result is not None and result["correct"] and code == 0
            print(f"{w} seed={s} exit={code} run_s={t:.1f} " + (
                " ".join(f"{k}={v['value']:.5g}"
                         for k, v in result["metrics"].items())
                if result else "no result"), flush=True)
            if ok:
                runs.append({k: v["value"]
                             for k, v in result["metrics"].items()})
        figures = {}
        for m in bounds:
            vals = [r[m] for r in runs if m in r]
            if len(vals) >= 2:
                med, spr = spread(vals)
                figures[m] = {"median": med, "spread": spr,
                              "bound": bounds[m], "values": vals}
                print(f"  {w:15s} {m:22s} median={med:10.4g} "
                      f"spread={spr:6.3f} bound={bounds[m]}", flush=True)
        report["workloads"][w] = {"runs_ok": len(runs),
                                  "run_seconds_each": took,
                                  "metrics": figures}
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
