"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py [--seeds 1-10]

Runs perfbench/run.py for run_seconds of BENCHMARK.json once per seed
and workload (untraced) -- with one
seed, the command that runs every workload -- and prints each run's
metrics with their units and its wall time; then prints, per workload and metric, the
median of the per-run values and the inter-quartile distance as a share
of that median -- the figure each metric's bound in BENCHMARK.json is
compared against.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = str(bench["run_seconds"])
    for w in bench["workloads"]:
        w = w["name"]
        runs = []
        for s in seeds(a.seeds):
            r = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", seconds, "--trace", "0"],
                capture_output=True, text=True)
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or len(lines) < 2:
                sys.exit(f"{w} seed {s} failed ({r.returncode}):\n"
                         + r.stderr[-3000:])
            runs.append(json.loads(lines[-1]))
            wall = json.loads(lines[-2])["conditions"]["wall_s"]
            print(f"{w} seed {s}: " + ", ".join(
                f"{k}={v['value']:.4g} {v['unit']}"
                for k, v in runs[-1]["metrics"].items())
                + f" (run wall {wall:.1f} s)", flush=True)
        for name, bound in bounds.items() if len(runs) > 1 else ():
            vals = [r["metrics"][name]["value"] for r in runs]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4)
            share = (q[2] - q[0]) / med if med else float("inf")
            flag = "ok" if share < bound / 3 else (
                "within bound" if share <= bound else "OVER BOUND")
            print(f"  {w:15s} {name:18s} median {med:12.4f}  "
                  f"iqr/median {share:.4f}  bound {bound}  {flag}")


if __name__ == "__main__":
    main()
