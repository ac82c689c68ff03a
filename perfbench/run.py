#!/usr/bin/env python3
"""graft benchmark: one command for every workload.

    python3 perfbench/run.py --workload stream_neardup|batch_catalog
                             --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds (perfbench/build.py).
Each run is one JVM; it prints `metric <name> <value> <unit>` lines, a
`summary` line, and as its last line one JSON object
{"correct", "attempted", "failed", "metrics"} holding the end-to-end
metrics (--trace 0) or the per-layer metrics (--trace 1). A traced run
also writes its spans to .bench_build/traces/. Exit status 0 means every
output gate passed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("stream_neardup", "batch_catalog")
NEEDED = ["src/main/scala", "examples/neardup_topology.yaml",
          "perfbench/data/sf0.01", "perfbench/catalog/expected.json"]
RUN_TIMEOUT_S = 170


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    missing = [n for n in NEEDED if not os.path.exists(n)]
    if missing:
        sys.exit("graftbench: run from the repository root; missing " +
                 ", ".join(missing))
    build.build()

    tag = f"{a.workload}-{a.seed}-{'t' if a.trace else 'u'}-{os.getpid()}"
    work = os.path.join(build.BUILD, "work", tag)
    trace_out = os.path.join(build.BUILD, "traces",
                             f"{a.workload}-seed{a.seed}.json")
    cmd = build.jvm_command("graftbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--repo", os.getcwd(), "--work", os.path.abspath(work),
        "--trace-out", os.path.abspath(trace_out)])
    os.makedirs(work, exist_ok=True)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            env=build.jvm_env(), start_new_session=True)

    def stop(*_):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    signal.signal(signal.SIGTERM, lambda *x: (stop(), sys.exit(143)))
    timer = threading.Timer(RUN_TIMEOUT_S, stop)
    timer.start()
    result = None
    e2e = {}
    try:
        for line in proc.stdout:
            if line.startswith("RESULT "):
                result = json.loads(line[len("RESULT "):])
                continue
            sys.stdout.write(line)
            sys.stdout.flush()
            f = line.split()
            # end-to-end names carry no dot; per-layer names all do
            if len(f) == 4 and f[0] == "metric" and "." not in f[1]:
                e2e[f[1]] = f"{float(f[2]):.6g}{f[3]}"
        proc.wait()
    finally:
        timer.cancel()
        stop()
        shutil.rmtree(work, ignore_errors=True)
    if result is None or proc.returncode not in (0, 1):
        sys.exit(f"graftbench: {a.workload} produced no result "
                 f"(exit {proc.returncode})")
    print(f"summary {a.workload} seed={a.seed} trace={a.trace} "
          f"correct={result['correct']} "
          f"failed={result['failed']}/{result['attempted']} " +
          " ".join(f"{k}={v}" for k, v in e2e.items()))
    print(json.dumps(result, separators=(",", ":")))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
