"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload scd_long_log --seed 1 --seconds 10 \
        --trace 0 [--cores N]

Builds graft and the runner from source (perfbench/build.py), generates
the workload's inputs from the seed (perfbench/gen.py), runs the Scala
runner for --seconds in one closed-loop client, checks the captured
outputs against DuckDB (perfbench/check.py), and prints two lines: a
detail object with every named metric and the run conditions, then the
result object {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
Exits 1 when a check fails or an op fails, 2 when the run cannot start;
the work directory (inputs, captures, runner log) is kept only then.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("scd_long_log", "scd_churn", "pipeline_dedup")
# per workload: the op the end-to-end latency and throughput are taken
# over, the input rows one such op consumes, and the traced op kinds the
# per-layer metrics are taken over, per record of the first kind
PRIMARY = {
    "scd_long_log": ("sweep", gen.CUSTOMER_ROWS * gen.ASOF_POINTS, ("read",)),
    "scd_churn": ("churn", gen.LINEITEM_ROWS, ("append", "read", "compact")),
    "pipeline_dedup": ("pipeline", gen.DEDUP_DOCS, ("pipeline",))}
# self-time layers that are graft API calls building the op's DataFrame
GRAFT_LAYERS = ("scd.read_sidecar", "scd.parse", "scd.load_base",
                "scd.compile", "sources.resolve", "ops.load",
                "ops.quality_build", "ops.lsh_build", "ops.survivor_build")
# per-layer self times reported under their own name, with "_ms"
OWN_LAYERS = ("scd.read_sidecar", "scd.parse", "scd.compile",
              "sources.resolve", "sources.add_update", "scd.compact",
              "ops.quality_build", "ops.lsh_build", "ops.survivor_build")
PER_LAYER_COUNTS = {
    "graft.build_jobs": "count", "scd.stmts_retained": "count",
    "sources.sidecar_bytes": "bytes", "exec.jobs": "count",
    "exec.stages": "count", "exec.tasks": "count", "exec.rows_read": "count",
    "exec.bytes_written": "bytes", "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes"}
JVM_HEAP = "2g"
ROUNDS = 3  # session set-up rounds per run; setup_s takes their median
RUNNER_TIMEOUT_S = 160  # a run must end within 180 s


def nproc():
    return len(os.sched_getaffinity(0))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q):
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))] if xs else 0.0


def git_commit():
    try:
        r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or None
    except OSError:
        return None


def layer_table(trace, kind):
    """Median self ms per layer and median count per counter over the
    traced ops of `kind`."""
    ops = [o for o in trace if o["kind"] == kind]
    layers = sorted({k for o in ops for k in o["self_ms"]})
    counts = sorted({k for o in ops for k in o["counts"]})
    return {
        "ops": len(ops),
        "op_p50_ms": median([o["total_ms"] for o in ops]),
        "self_ms_p50": {k: median([o["self_ms"].get(k, 0.0) for o in ops])
                        for k in layers},
        "counts_p50": {k: median([o["counts"].get(k, 0.0) for o in ops])
                       for k in counts},
    }


def per_layer_metrics(workload, trace, extra):
    """Per op of the workload: sums over the traced records of its kinds
    divided by the records of the first kind (on scd_churn an op is an
    append, a read and, every 20th op, a compaction). A mean, not a
    median: the tracker reports whole milliseconds, and a mean keeps a
    small phase from reading the same in every run. `exec.task_skew` is
    the mean over records."""
    kinds = PRIMARY[workload][2]
    ops = [o for o in trace if o["kind"] in kinds]
    n = sum(o["kind"] == kinds[0] for o in trace)

    def mean(f):
        return sum(f(o) for o in ops) / n if n else 0.0

    def self_ms(o, *layers):
        return sum(o["self_ms"].get(k, 0.0) for k in layers)

    m = {
        "graft.build_ms": (mean(lambda o: self_ms(o, *GRAFT_LAYERS)), "ms"),
        "spark.analysis_ms": (mean(lambda o: self_ms(
            o, "spark.analysis", "spark.user_filter")), "ms"),
        "spark.optimization_ms": (mean(lambda o: self_ms(o, "spark.optimization")), "ms"),
        "spark.planning_ms": (mean(lambda o: self_ms(o, "spark.planning")), "ms"),
        "exec.execute_ms": (mean(lambda o: self_ms(o, "exec.execute")), "ms"),
        "exec.task_ms_sum": (mean(lambda o: o["counts"]["exec.task_ms_sum"]), "ms"),
        "jvm.gc_ms": (mean(lambda o: o["counts"]["jvm.gc_ms"]), "ms"),
        "trace.op_ms": (mean(lambda o: o["total_ms"]), "ms"),
    }
    for layer in OWN_LAYERS:
        m[layer + "_ms"] = (mean(lambda o: self_ms(o, layer)), "ms")
    for c, unit in PER_LAYER_COUNTS.items():
        m[c] = (mean(lambda o: o["counts"].get(c, 0.0)), unit)
    skews = [o["counts"]["exec.task_skew"] for o in ops
             if "exec.task_skew" in o["counts"]]
    m["exec.task_skew"] = (statistics.fmean(skews) if skews else 0.0, "ratio")
    rows_out = sum(o["counts"].get("exec.rows_out", 0.0) for o in ops)
    m["exec.rows_read_per_row_out"] = (
        sum(o["counts"]["exec.rows_read"] for o in ops) / max(rows_out, 1.0),
        "ratio")
    # LSH counts per batch, counted once per distinct batch of the run
    cands = [v for k, v in extra.items() if k.startswith("lsh_candidates")]
    pairs = [v for k, v in extra.items() if k.startswith("lsh_pairs")]
    m["ops.lsh_candidates"] = (statistics.fmean(cands) if cands else 0.0, "count")
    m["ops.lsh_pairs"] = (statistics.fmean(pairs) if pairs else 0.0, "count")
    m["ops.lsh_pairs_per_candidate"] = (
        sum(pairs) / sum(cands) if cands else 0.0, "ratio")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=nproc())
    a = ap.parse_args()
    t_start = time.time()
    load_start = os.getloadavg()[0]
    try:
        cp, src_sha = build.ensure()
    except build.BuildError as e:
        print(f"[perfbench] cannot build: {e}", file=sys.stderr)
        sys.exit(2)

    work = os.path.join(build.OUT, "work",
                        f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    t0 = time.time()
    gen.generate(a.workload, a.seed, inputs)
    gen_s = time.time() - t0

    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + build.ADD_OPENS
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload,
              "--inputs", inputs, "--work", work, "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--cores", str(a.cores),
              "--rounds", str(ROUNDS), "--out", out])
    log = os.path.join(work, "runner.log")
    t0 = time.time()
    with open(log, "w") as lf:
        try:
            rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                timeout=RUNNER_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "a timeout"
    runner_s = time.time() - t0
    if rc != 0 or not os.path.exists(out):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-6000:])
        print(f"[perfbench] runner exited with {rc}", file=sys.stderr)
        sys.exit(2)
    with open(out) as f:
        res = json.load(f)

    oracle = None
    if a.workload == "pipeline_dedup":
        with open(os.path.join(work, "oracle_dedup_survivor.sql")) as f:
            oracle = f.read()
    t0 = time.time()
    try:
        n_checked, fails = check.check(a.workload, inputs, res["captures"],
                                       oracle)
    except duckdb.Error as e:
        n_checked, fails = 0, [f"checker error: {e}"]
    check_s = time.time() - t0
    for msg in fails:
        print(f"[perfbench] CHECK FAILED {msg}", file=sys.stderr)

    kind, rows_per_op, _ = PRIMARY[a.workload]
    s = res["samples_ms"]
    prim = s.get(kind, [])
    attempted, failed = res["attempted"], res["failed"] + len(fails)
    # input generation, the median set-up round (session start and table
    # layout) and the warm-up over every op shape
    setup_s = gen_s + median(res["setup_rounds_s"]) + res["warmup_s"]
    peak_rss_mb = res["vm_hwm_kb"] / 1024.0
    rows_per_s = (rows_per_op * len(prim) / (sum(prim) / 1e3)) if prim else 0.0
    detail = {
        "setup_s": setup_s, "setup_rounds_s": res["setup_rounds_s"],
        "warmup_s": res["warmup_s"], "gen_s": gen_s, "runner_s": runner_s,
        "check_s": check_s,
        f"{kind}_p50_ms": median(prim), f"{kind}_samples": len(prim),
        "error_rate": failed / max(attempted, 1),
        "peak_rss_mb": peak_rss_mb, "outputs_checked": n_checked,
    }
    if a.workload != "pipeline_dedup":
        detail["read_p50_ms"] = median(s["read"])
        detail["read_samples"] = len(s["read"])
    if a.workload == "scd_churn":
        if len(s["read"]) >= 100:
            detail["read_p90_ms"] = quantile(s["read"], 0.9)
        detail["append_p50_ms"] = median(s.get("append", []))
        detail["compact_p50_ms"] = median(s.get("compact", []))
        detail["compactions"] = len(s.get("compact", []))
        detail.update(res["extra"])
    if a.workload == "pipeline_dedup":
        detail["docs_per_s"] = rows_per_s
    conditions = dict(res["conditions"], nproc=nproc(), seed=a.seed,
                      load_avg_1m_start=load_start,
                      load_avg_1m_end=os.getloadavg()[0],
                      git_commit=git_commit(), source_sha256=src_sha,
                      seconds=a.seconds, rounds=ROUNDS,
                      wall_s=time.time() - t_start)
    line = {"workload": a.workload, "trace": a.trace,
            "conditions": conditions, "metrics": detail}
    if a.trace:
        line["layers"] = {k: layer_table(res["trace"], k)
                          for k in sorted({o["kind"] for o in res["trace"]})}
        line["lsh"] = {k: v for k, v in res["extra"].items()
                       if k.startswith("lsh_")}
        metrics = per_layer_metrics(a.workload, res["trace"], res["extra"])
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_p50_ms": {"value": median(prim), "unit": "ms"},
            "input_rows_per_s": {"value": rows_per_s, "unit": "1/s"},
        }
    correct = not fails and n_checked > 0
    print(json.dumps(line, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.stdout.flush()
    if correct and failed == 0:
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(0)
    print(f"[perfbench] work directory kept: {work}", file=sys.stderr)
    sys.exit(1)


if __name__ == "__main__":
    main()
