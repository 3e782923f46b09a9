#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/steady.py --workload taxi_live --seeds 1-10 [--out FILE]

Run from the repository root. For each end-to-end metric it prints the
median over the seeds and the interquartile range as a share of the
median (statistics.quantiles, n=4), next to the metric's bound from
BENCHMARK.json.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import analysis  # noqa: E402


def seeds_of(spec):
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def main():
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--out")
    a = p.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = str(bench["run_seconds"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for seed in seeds_of(a.seeds):
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                  "--seconds", seconds, "--trace", "0"]
        t0 = time.time()
        r = subprocess.run(cmd, capture_output=True, text=True)
        wall = time.time() - t0
        line = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "{}"
        res = json.loads(line) if line.startswith("{") else {}
        runs.append({"seed": seed, "exit": r.returncode, "wall_s": wall, "result": res})
        vals = {k: round(v["value"], 3) for k, v in res.get("metrics", {}).items()}
        print(f"seed {seed}: exit {r.returncode} {wall:.1f} s correct={res.get('correct')} "
              f"{vals}", flush=True)
    table = {}
    for name, bound in bounds.items():
        vals = [r["result"]["metrics"][name]["value"] for r in runs
                if r["result"].get("metrics")]
        if len(vals) >= 2:
            table[name] = {"median": analysis.median(vals),
                           "spread": analysis.spread(vals), "bound": bound}
            print(f"{name:22s} median {table[name]['median']:12.3f}  "
                  f"spread {table[name]['spread']:.4f}  bound {bound}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "runs": runs, "spread": table}, f,
                      indent=1)


if __name__ == "__main__":
    main()
