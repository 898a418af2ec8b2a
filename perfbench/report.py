"""Traced layer report: per workload, one untraced and one traced run at
the same seed and core count, written as JSON plus a Markdown table.

    python3 perfbench/report.py --cores 4

Each run uses seed 1 and lasts run_seconds of BENCHMARK.json.

Output: perfbench/results/traced_c<cores>.json and .md. Each workload's
row lists every layer's median self time per op, the counts taken at the
same boundaries, and the tracing overhead: the traced op median minus the
untraced one.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SEED = 1


def run(workload, seed, seconds, cores, trace):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
         "--cores", str(cores)], capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or len(lines) < 2:
        sys.exit(f"{workload} trace={trace} failed:\n{r.stderr[-3000:]}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def markdown(report):
    out = [f"# Traced layer report, {report['cores']} cores", ""]
    for w, row in report["workloads"].items():
        c = row["conditions"]
        out += [f"## {w}", "",
                f"seed {c['seed']}, {c['cores']} of {c['nproc']} cores, "
                f"{c['seconds']:.0f} s per run, load {c['load_avg_1m_start']:.2f}"
                f" -> {c['load_avg_1m_end']:.2f}, Spark {c['spark_version']}, "
                f"JDK {c['java_version']}, commit {c['git_commit']}", ""]
        for kind, t in row["layers"].items():
            self_ms = t["self_ms_p50"]
            total = sum(self_ms.values())
            out += [f"**{kind}** ops: {t['ops']}, traced p50 "
                    f"{t['op_p50_ms']:.1f} ms, untraced p50 "
                    f"{row['untraced_p50_ms'].get(kind, float('nan')):.1f} ms, "
                    f"tracing overhead {row['overhead_ms'].get(kind, float('nan')):.1f} ms, "
                    f"sum of self-time medians {total:.1f} ms", "",
                    "| layer | self ms (p50) | share |", "|---|---|---|"]
            for k, v in sorted(self_ms.items(), key=lambda kv: -kv[1]):
                out.append(f"| {k} | {v:.1f} | {v / total:.0%} |" if total
                           else f"| {k} | {v:.1f} | |")
            out += ["", "| count | p50 |", "|---|---|"]
            out += [f"| {k} | {v:.4g} |" for k, v in t["counts_p50"].items()]
            out.append("")
        if row.get("lsh"):
            out += ["LSH per batch: " + ", ".join(
                f"{k} = {v:.0f}" for k, v in sorted(row["lsh"].items())), ""]
    return "\n".join(out) + "\n"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, required=True)
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    report = {"cores": a.cores, "workloads": {}}
    seconds = bench["run_seconds"]
    for w in (w["name"] for w in bench["workloads"]):
        plain, _ = run(w, SEED, seconds, a.cores, 0)
        traced, result = run(w, SEED, seconds, a.cores, 1)
        untraced = {k[:-len("_p50_ms")]: v for k, v in plain["metrics"].items()
                    if k.endswith("_p50_ms")}
        report["workloads"][w] = {
            "conditions": traced["conditions"],
            "untraced_conditions": plain["conditions"],
            "untraced_metrics": plain["metrics"],
            "untraced_p50_ms": untraced,
            "overhead_ms": {k: t["op_p50_ms"] - untraced[k]
                            for k, t in traced["layers"].items()
                            if k in untraced},
            "layers": traced["layers"],
            "lsh": traced.get("lsh", {}),
            "per_layer": result["metrics"],
        }
        print(f"{w}: done", file=sys.stderr)
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    base = os.path.join(HERE, "results", f"traced_c{a.cores}")
    with open(base + ".json", "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    with open(base + ".md", "w") as f:
        f.write(markdown(report))


if __name__ == "__main__":
    main()
