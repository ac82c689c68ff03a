#!/usr/bin/env python3
"""Smoke check of the benchmark itself, at tiny size (--seconds 1).

For each workload, an untraced and a traced run must exit 0, print every
metric of BENCHMARK.json by name with its unit on a `metric` line, end
with the one-line JSON result holding exactly the end-to-end metrics
(untraced) or the per-layer metrics (traced), each with its declared
unit, and pass every output gate. A copy holding only BENCHMARK.json and
perfbench/ must refuse to run: non-zero exit, no result.

    python3 perfbench/selfcheck.py [--workloads a,b]   # from the repo root
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

KEYS = {"correct", "attempted", "failed", "metrics"}


def check_run(workload, trace, bench):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        workload, "--seed", "7", "--seconds", "1",
                        "--trace", str(trace)],
                       capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    assert p.returncode == 0, f"{workload} trace={trace}: exit " \
        f"{p.returncode}\n{p.stdout[-2000:]}\n{p.stderr[-2000:]}"
    result = json.loads(lines[-1])
    assert set(result) == KEYS, result.keys()
    assert result["correct"] is True and result["failed"] == 0, result
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    want = bench["per_layer" if trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in want}
    got = result["metrics"]
    assert set(got) == set(units), sorted(set(got) ^ set(units))
    for name, unit in units.items():
        assert got[name]["unit"] == unit, (name, got[name], unit)
        assert isinstance(got[name]["value"], (int, float)), (name, got[name])
    printed = {tuple(l.split()[1:4:2]) for l in lines
               if l.startswith("metric ")}
    everything = bench["end_to_end"] + (bench["per_layer"] if trace else [])
    for m in everything:
        assert (m["name"], m["unit"]) in printed, f"not printed: {m}"
    for m in bench["end_to_end"]:
        if not trace:
            assert got[m["name"]]["value"] > 0, f"zero metric: {m['name']}"
    assert lines[-2].startswith(f"summary {workload} "), lines[-2]
    print(f"ok {workload} trace={trace} ({len(got)} metrics)")


def check_refuses(bench):
    bare = os.path.join(".bench_build", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy("BENCHMARK.json", bare)
    for path in bench["paths"]:
        shutil.copytree(path, os.path.join(bare, path))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "batch_catalog", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=bare, capture_output=True,
                       text=True, timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0, "a bare copy ran"
    assert not any(l.startswith("{") for l in p.stdout.splitlines()), p.stdout
    print("ok bare copy refuses to run")


def main():
    a = argparse.ArgumentParser()
    a.add_argument("--workloads")
    args = a.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in bench["workloads"]])
    check_refuses(bench)
    for w in names:
        for trace in (0, 1):
            check_run(w, trace, bench)


if __name__ == "__main__":
    main()
