#!/usr/bin/env python3
"""Steadiness check: run the benchmark on several seeds and report, for
each end-to-end metric, the interquartile spread as a share of the
median, next to the metric's bound from BENCHMARK.json.

Run from the root of a checkout:

    python3 perfbench/steady.py --workload catalog --runs 10 --first-seed 100

A spread at or above a third of its bound is flagged. setup_s is judged
on its median only, so its spread is shown but not flagged. With --save,
the raw values go to a JSON file; with --against, the medians are
compared with those of an earlier saved set.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(workload, seed, trace):
    p = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--trace", str(trace)],
                       capture_output=True, text=True)
    sys.stderr.write(p.stderr)
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--save", default="")
    ap.add_argument("--against", default="")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for i in range(a.runs):
        r = run(a.workload, a.first_seed + i, 0)
        if not r["correct"]:
            raise SystemExit(f"seed {a.first_seed + i}: incorrect output")
        for k in values:
            values[k].append(r["metrics"][k]["value"])
        print(f"seed {a.first_seed + i}: " +
              " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)
    old = {}
    if a.against:
        with open(a.against) as f:
            old = json.load(f)["values"]
    ok = True
    for m in spec["end_to_end"]:
        v = values[m["name"]]
        q1, med, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / med
        flag = ""
        if m["name"] != "setup_s" and spread >= m["bound"] / 3:
            flag, ok = "  SPREAD", False
        line = (f"{m['name']:14s} median {med:10.4f} {m['unit']:3s} spread {spread:6.3f} "
                f"(bound {m['bound']}, limit {m['bound'] / 3:.3f}){flag}")
        if m["name"] in old:
            shift = statistics.median(v) / statistics.median(old[m["name"]]) - 1
            worse = shift if m["better"] == "lower" else -shift
            line += f"  vs saved {shift:+.3f}" + ("  SHIFT" if worse > m["bound"] else "")
            ok &= worse <= m["bound"]
        print(line)
    if a.save:
        with open(a.save, "w") as f:
            json.dump({"workload": a.workload, "values": values}, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
