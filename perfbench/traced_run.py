#!/usr/bin/env python3
"""Write the traced-run artifact of each workload.

    python3 perfbench/traced_run.py [--seed 1]

Run from the repository root. For each workload it runs the benchmark
once untraced and once traced with the same seed, and writes
perfbench/results/traced_<workload>.json with the run context, every
per-layer metric, the per-layer self times, the span count per layer
and the tracing overhead (traced minus untraced end-to-end figures).
For the battery it adds the per-query seconds and the share of the
battery spent in planning, with no task running, and in tasks.
"""
import argparse
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(workload, seed, trace, seconds):
    with tempfile.NamedTemporaryFile(suffix=".json", dir=HERE, delete=False) as f:
        report = f.name
    try:
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
             "--report", report], capture_output=True, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stderr[-3000:])
            raise SystemExit(f"traced_run: {workload} trace={trace} failed")
        with open(report) as f:
            return json.load(f)
    finally:
        os.remove(report)


def main():
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--seed", type=int, default=1)
    a = p.parse_args()
    with open("BENCHMARK.json") as f:
        seconds = json.load(f)["run_seconds"]
    out_dir = os.path.join(HERE, "results")
    os.makedirs(out_dir, exist_ok=True)
    for w in ("taxi_live", "taxi_drain", "battery"):
        plain = run_once(w, a.seed, 0, seconds)
        traced = run_once(w, a.seed, 1, seconds)
        layers = {k: v["value"] for k, v in traced["result"]["metrics"].items()}
        counts = {}
        for s in traced["spans"]:
            counts[s["layer"]] = counts.get(s["layer"], 0) + 1
        overhead = {k: {"untraced": plain["end_to_end"][k],
                        "traced": traced["end_to_end"][k],
                        "traced_minus_untraced": traced["end_to_end"][k] -
                        plain["end_to_end"][k]}
                    for k in plain["end_to_end"]}
        art = {
            "workload": w,
            "context": traced["context"],
            "correct": traced["result"]["correct"] and plain["result"]["correct"],
            "per_layer": layers,
            "self_time_s": {k[len("self."):-len("_s")]: v for k, v in layers.items()
                            if k.startswith("self.")},
            "spans_per_layer": counts,
            "tracing_overhead": overhead,
        }
        if w == "battery":
            total = traced["detail"]["battery_s"]
            plans_s = (layers["plans.analysis_ms"] + layers["plans.optimization_ms"] +
                       layers["plans.planning_ms"]) / 1000.0
            art["battery"] = {
                "battery_s": total,
                "query_s": traced["detail"]["query_s"],
                "plans_share": plans_s / total,
                "driver_only_share": layers["operators.driver_only_s"] / total,
                "task_run_s": layers["operators.task_run_s"],
                "cores_busy_share": layers["operators.cores_busy_share"],
            }
        else:
            art["reps"] = traced["detail"]["reps"]
        path = os.path.join(out_dir, f"traced_{w}.json")
        with open(path, "w") as f:
            json.dump(art, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"traced_run: wrote {path}")


if __name__ == "__main__":
    main()
