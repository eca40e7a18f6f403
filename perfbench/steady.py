#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

Run from the root of a graft checkout:

    python3 perfbench/steady.py --runs 10 --out perfbench/results/steadiness.json [--workloads a,b]

Runs each workload --runs times untraced, each with another seed, and
records for every end-to-end metric the ten values, their median and
quartiles (Python's statistics.quantiles(values, n=4)) and the spread
(Q3 - Q1) / median, next to the metric's bound from BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.exit(f"{workload} seed {seed}: exit {r.returncode}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def main():
    spec = json.load(open("BENCHMARK.json"))
    p = argparse.ArgumentParser()
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    p.add_argument("--out")
    args = p.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {"run_seconds": spec["run_seconds"], "runs": args.runs, "workloads": {}}
    for w in args.workloads.split(","):
        values, failed = {}, 0
        for k in range(args.runs):
            res = run(w, args.first_seed + k, spec["run_seconds"], 0)
            failed += res["failed"] + (0 if res["correct"] else 1)
            for name, m in res["metrics"].items():
                values.setdefault(name, []).append(m["value"])
        stats = {}
        for name, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            stats[name] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
                           "bound": bounds.get(name), "values": vs}
            print(f"{w:13s} {name:20s} median {med:12.4f}  spread {(q3 - q1) / med:7.4f}  "
                  f"bound {bounds.get(name)}", flush=True)
        report["workloads"][w] = {"seeds": list(range(args.first_seed, args.first_seed + args.runs)),
                                  "failed_runs_or_ops": failed, "metrics": stats}
        if args.out:
            os.makedirs(os.path.dirname(args.out), exist_ok=True)
            with open(args.out, "w") as fh:
                json.dump(report, fh, indent=1)


if __name__ == "__main__":
    main()
