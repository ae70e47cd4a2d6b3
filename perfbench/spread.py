#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end and the printed workload metrics.

    python3 perfbench/spread.py [--runs 10] [--first-seed 100] \
        [--seconds 10] [workload ...]

Runs the benchmark once per seed (seeds first-seed .. first-seed+runs-1)
on each workload and prints, per end-to-end metric, the median, the
quartiles and the spread: the distance between the first and third
quartile as a share of the median (`statistics.quantiles(values, n=4)`),
next to the metric's bound in BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    bench = json.load(open(os.path.join(os.path.dirname(HERE),
                                        "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("workloads", nargs="*",
                    default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in args.workloads:
        values = {}
        for seed in range(args.first_seed, args.first_seed + args.runs):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(args.seconds),
                 "--trace", "0"], capture_output=True, text=True)
            last = json.loads(p.stdout.strip().splitlines()[-1])
            print(f"{w} seed {seed}: rc {p.returncode} correct "
                  f"{last['correct']} " + " ".join(
                      f"{k}={v['value']:.4g}"
                      for k, v in last["metrics"].items()), flush=True)
            for k, v in last["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            with open(os.path.join(HERE, "results",
                                   f"{w}-seed{seed}-trace0.json")) as f:
                for k, v in json.load(f)["workload_metrics"].items():
                    values.setdefault(k, []).append(v)
        for k, xs in values.items():
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            print(f"{w} {k}: median {med:.4g} q1 {q1:.4g} q3 {q3:.4g} "
                  f"spread {spread:.3f} bound {bounds.get(k, '-')}",
                  flush=True)


if __name__ == "__main__":
    main()
