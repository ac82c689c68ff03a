#!/usr/bin/env python3
"""Where the time goes: a per-layer ledger from traced runs.

For each workload, runs the benchmark untraced and traced, one after
the other, on `--pairs` seeds. It reads the first seed's traced spans
(.bench_build/traces/) and reports each layer's self time — the
instants at which it is the deepest open span, so the layers add up to
the wall time — over the measured phase (the blocking path a metric is
timed on) and over the whole run. The tracing overhead is the median of
the traced runs' own end-to-end figures against the median of the
untraced runs'.

    python3 perfbench/attribution.py --seed 11 --pairs 3 [--out FILE.md]

Run from the repository root.
"""
import argparse
import json
import statistics
import subprocess
import sys
from collections import defaultdict

# the spans whose subtrees are each workload's measured phase
MEASURED = {
    "stream_neardup": {"drain", "paced"},
    "batch_catalog": {"catalog.construct", "plans.executedPlan",
                      "catalog.execute"},
}
LAYERS = ["bench", "core", "streaming", "llm", "functions", "catalog",
          "plans", "exec"]


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        workload, "--seed", str(seed), "--seconds",
                        str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload} trace={trace} failed:\n{p.stdout[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def self_times(spans, roots):
    """Self time per layer over the subtrees of `roots`, and their wall:
    each instant goes to the deepest span open at it (the latest started
    among equals), so the layers add up to the wall."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    depth, sub, stack = {}, [], [(r, 0) for r in roots]
    while stack:
        s, d = stack.pop()
        depth[s["id"]] = d
        sub.append(s)
        stack += [(c, d + 1) for c in children[s["id"]]]
    inside = [(r["start_ms"], r["end_ms"]) for r in roots]
    cuts = sorted({t for s in sub for t in (s["start_ms"], s["end_ms"])})
    out, wall = defaultdict(float), 0.0
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        if b <= a or not any(lo <= mid < hi for lo, hi in inside):
            continue
        top = max((s for s in sub if s["start_ms"] <= mid < s["end_ms"]),
                  key=lambda s: (depth[s["id"]], s["start_ms"]))
        out[top["layer"]] += b - a
        wall += b - a
    return out, wall


def table(title, times, wall):
    rows = [f"| {l} | {times.get(l, 0.0):.0f} | "
            f"{100 * times.get(l, 0.0) / wall:.1f}% |" for l in LAYERS
            if times.get(l, 0.0) > 0.5]
    return [f"*{title}* — wall {wall:.0f} ms", "",
            "| layer | self ms | share |", "|---|---|---|", *rows, ""]


def main():
    a = argparse.ArgumentParser()
    a.add_argument("--seed", type=int, default=11)
    a.add_argument("--pairs", type=int, default=3)
    a.add_argument("--seconds", type=int)
    a.add_argument("--out")
    args = a.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    seconds = args.seconds or bench["run_seconds"]
    seeds = list(range(args.seed, args.seed + args.pairs))
    md = [f"# Where the time goes (seed {args.seed}, --seconds {seconds})",
          ""]
    for w in MEASURED:
        plain, traced = [], []
        for seed in seeds:
            plain.append(run(w, seed, seconds, 0)["metrics"])
            run(w, seed, seconds, 1)
            with open(f".bench_build/traces/{w}-seed{seed}.json") as f:
                traced.append(json.load(f))
        spans = traced[0]["spans"]
        measured, mwall = self_times(
            spans, [s for s in spans if s["name"] in MEASURED[w]])
        whole, wall = self_times(spans, [s for s in spans if s["id"] == 0])
        md += [f"## {w}", ""]
        md += table("measured phase (" + ", ".join(sorted(MEASURED[w])) +
                    ")", measured, mwall)
        md += table("whole run (set-up, input generation and gates "
                    "included)", whole, wall)
        md += [f"Tracing overhead: medians of {len(seeds)} traced and "
               f"{len(seeds)} untraced runs, seeds {seeds[0]}-{seeds[-1]}, "
               "run in turn:", "",
               "| metric | untraced | traced | change |", "|---|---|---|---|"]
        for m, (_, unit) in traced[0]["e2e"].items():
            if m in plain[0]:
                u = statistics.median(p[m]["value"] for p in plain)
                v = statistics.median(t["e2e"][m][0] for t in traced)
                md.append(f"| {m} | {u:.4g} {unit} | {v:.4g} {unit} | "
                          f"{100 * (v - u) / u:+.1f}% |")
        md.append("")
        print(f"done {w}", flush=True)
    text = "\n".join(md) + "\n"
    if args.out:
        with open(args.out, "w") as f:
            f.write(text)
    print(text)


if __name__ == "__main__":
    main()
