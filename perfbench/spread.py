#!/usr/bin/env python3
"""Runs one workload over several seeds and reports, per end-to-end metric,
the median and the interquartile spread as a share of the median, next to a
third of the metric's bound from BENCHMARK.json.

  python3 perfbench/spread.py --workload curate --seeds 1-5 [--seconds 8]

Run it from the repository root. Each run's JSON line and wall time are
appended to .bench_build/spread/<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    out_dir = os.path.join(".bench_build", "spread")
    os.makedirs(out_dir, exist_ok=True)
    log = os.path.join(out_dir, f"{a.workload}.jsonl")
    runs = []
    for seed in seeds_of(a.seeds):
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(seconds),
             "--trace", str(a.trace)],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        wall = time.time() - t0
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}, no result", flush=True)
            continue
        r = json.loads(lines[-1])
        runs.append(r)
        digest = [l.rsplit(" ", 1)[-1] for l in p.stderr.splitlines()
                  if l.startswith("[perfbench] input digest")]
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, "wall_s": wall, "input_digest":
                                digest[-1] if digest else None, "result": r}) + "\n")
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
        print(f"seed {seed}: {wall:.1f}s correct={r['correct']} "
              f"failed={r['failed']}/{r['attempted']} {vals} "
              f"input={digest[-1] if digest else '?'}", flush=True)
    if a.trace or len(runs) < 2:
        return
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4)
        spread = (q[2] - q[0]) / med
        print(f"{m['name']:16s} median {med:12.5g}  spread {spread:6.3f}  "
              f"third of bound {m['bound'] / 3:6.3f}  "
              f"{'ok' if spread < m['bound'] / 3 else 'WIDE'}")


if __name__ == "__main__":
    main()
