#!/usr/bin/env python3
"""Steadiness record: runs each workload with several seeds and appends one
set per workload to the record: per end-to-end metric the median, the
quartiles and the spread (quartile distance over median), with the engine's
calibration probe beside each run.

    python3 perfbench/steadiness.py --runs 10 --out perfbench/steadiness.json

Run from the repository root. The probe is timed after each run's measured
window, so it does not touch the run's metrics.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=101)
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--out", default=os.path.join(HERE, "steadiness.json"))
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record = {"cpus": 4, "run_seconds": bench["run_seconds"], "workloads": {}}
    if os.path.exists(a.out):
        with open(a.out) as f:
            record = json.load(f)
    for w in a.workloads:
        runs = []
        for i in range(a.runs):
            seed = a.first_seed + i
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed",
                 str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0",
                 "--probe", "1"], capture_output=True, text=True)
            if p.returncode != 0:
                raise SystemExit(f"{w} seed {seed} failed: {p.stderr[-2000:]}")
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            probe = next(float(l.split()[1]) for l in lines if l.startswith("calibration_probe_s"))
            runs.append({"seed": seed, "wall_s": round(time.time() - t0, 1), "probe_s": probe,
                         "correct": res["correct"], "attempted": res["attempted"],
                         "failed": res["failed"],
                         "metrics": {k: v["value"] for k, v in res["metrics"].items()}})
            print(f"{w} seed={seed} {runs[-1]}", flush=True)
        summary = {}
        for name in bounds:
            xs = [r["metrics"][name] for r in runs]
            q1, med, q3 = statistics.quantiles(xs, n=4)
            summary[name] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
                             "bound": bounds[name]}
        record["workloads"].setdefault(w, []).append({"summary": summary, "runs": runs})
        with open(a.out, "w") as f:
            json.dump(record, f, indent=1)
        for name, s in summary.items():
            print(f"{w} {name} median={s['median']:.5g} spread={s['spread']:.4f} "
                  f"bound={s['bound']}", flush=True)


if __name__ == "__main__":
    main()
