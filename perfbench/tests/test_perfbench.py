"""Self-tests of the benchmark's generator and checker (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import shutil
import sys
import tempfile
import unittest

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(HERE)), ".bench_build")


def files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


class Generated(unittest.TestCase):
    """Inputs for seeds 1 (twice) and 2 of every workload, made once."""

    @classmethod
    def setUpClass(cls):
        os.makedirs(SCRATCH, exist_ok=True)
        cls.tmp = tempfile.mkdtemp(dir=SCRATCH, prefix="selftest-")
        cls.dirs = {}
        for w in gen.GENERATORS:
            for tag, seed in (("a", 1), ("b", 1), ("c", 2)):
                d = os.path.join(cls.tmp, f"{w}-{tag}")
                gen.generate(w, seed, d)
                cls.dirs[w, tag] = d

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def out(self, name):
        return os.path.join(self.tmp, name)


class SeedTest(Generated):
    def test_same_seed_gives_byte_identical_inputs(self):
        for w in gen.GENERATORS:
            a, b = self.dirs[w, "a"], self.dirs[w, "b"]
            self.assertEqual(files(a), files(b))
            for f in files(a):
                self.assertTrue(filecmp.cmp(os.path.join(a, f),
                                            os.path.join(b, f), shallow=False),
                                f"{w}: {f} differs between two seed-1 runs")

    def test_other_seed_gives_other_logs_and_corpora(self):
        for w, f in (("scd_long_log", "updates.log"),
                     ("scd_long_log", "customer/part-00000.parquet"),
                     ("scd_churn", "stmts.tsv"),
                     ("pipeline_dedup", "batches/b0/part-00000.parquet")):
            self.assertFalse(
                filecmp.cmp(os.path.join(self.dirs[w, "a"], f),
                            os.path.join(self.dirs[w, "c"], f), shallow=False),
                f"{w}: {f} is the same for seeds 1 and 2")

    def test_long_log_points_stay_in_range(self):
        with open(os.path.join(self.dirs["scd_long_log", "a"], "points.tsv")) as f:
            counts = [int(line.split("\t")[1]) for line in f]
        self.assertEqual(len(counts), gen.ASOF_POINTS)
        self.assertEqual(counts, sorted(counts))
        self.assertTrue(all(10 <= n <= gen.LOG_STATEMENTS for n in counts))

    def test_churn_captures_one_read_per_block(self):
        with open(os.path.join(self.dirs["scd_churn", "a"], "ops.tsv")) as f:
            caps = [line.strip() == "1" for line in f]
        block = gen.COMPACT_EVERY
        self.assertEqual(len(caps) % block, 0)
        for b in range(0, len(caps), block):
            self.assertEqual(sum(caps[b:b + block]), 1, f"block at op {b}")


def replay_to_parquet(base, statements, table, path, where=None):
    """What a correct engine would write: `statements` replayed in DuckDB."""
    con = duckdb.connect()
    con.execute(f"CREATE TABLE {table} AS SELECT * FROM {check.parquet(base)}")
    for s in statements:
        con.execute(s)
    os.makedirs(path)
    sql = f"SELECT * FROM {table}" + (f" WHERE {where}" if where else "")
    con.execute(f"COPY ({sql}) TO '{path}/part-0.parquet' (FORMAT PARQUET)")


class CheckerTest(Generated):
    def test_long_log_read_with_a_dropped_statement_fails(self):
        inputs = self.dirs["scd_long_log", "a"]
        stmts = check.long_log_statements(inputs)
        base = os.path.join(inputs, "customer")
        with open(os.path.join(inputs, "filter.txt")) as f:
            flt = f.read().strip()
        k = 60
        replay_to_parquet(base, stmts[:k], "customer", self.out("ll-good"), flt)
        replay_to_parquet(base, stmts[:k], "customer", self.out("ll-good-all"))
        # drop the first statement whose effect the full read can see
        bad = None
        for j in range(k):
            path = self.out(f"ll-bad-{j}")
            replay_to_parquet(base, stmts[:j] + stmts[j + 1:k], "customer", path)
            if check.compare(duckdb.connect(), "SELECT * FROM "
                             + check.parquet(self.out("ll-good-all")), path):
                bad = path
                break
        self.assertIsNotNone(bad)
        good = [{"kind": "long_log", "retained": k, "filtered": True,
                 "path": self.out("ll-good")},
                {"kind": "long_log", "retained": k, "filtered": False,
                 "path": self.out("ll-good-all")}]
        self.assertEqual(check.check("scd_long_log", inputs, good), (2, []))
        n, fails = check.check("scd_long_log", inputs, good + [
            {"kind": "long_log", "retained": k, "filtered": False, "path": bad}])
        self.assertEqual(n, 3)
        self.assertEqual(len(fails), 1)
        self.assertIn("rows differ", fails[0])

    def test_churn_snapshot_missing_a_statement_fails(self):
        inputs = self.dirs["scd_churn", "a"]
        stmts = check.churn_statements(inputs)
        base = os.path.join(inputs, "lineitem")
        replay_to_parquet(base, stmts[:20], "lineitem", self.out("ch-good"))
        replay_to_parquet(base, stmts[:19], "lineitem", self.out("ch-bad"))
        cap = {"kind": "churn_snapshot", "statements": 20}
        self.assertEqual(check.check("scd_churn", inputs,
                                     [dict(cap, path=self.out("ch-good"))]),
                         (1, []))
        n, fails = check.check("scd_churn", inputs,
                               [dict(cap, path=self.out("ch-bad"))])
        self.assertEqual(len(fails), 1)

    def test_dedup_with_one_survivor_flipped_fails(self):
        batch = os.path.join(self.dirs["pipeline_dedup", "a"], "batches", "b0")
        oracle = ("WITH RECURSIVE one AS (SELECT doc_id FROM documents)\n"
                  "SELECT doc_id, doc_id AS cluster_id, doc_id AS survivor_id,\n"
                  "  CAST(1 AS BIGINT) AS is_survivor FROM one")
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM {check.parquet(batch)}")
        for name, flip in (("dd-good", ""), ("dd-bad", "WHERE doc_id <> 7")):
            os.makedirs(self.out(name))
            con.execute(
                f"COPY (SELECT doc_id, doc_id AS cluster_id, doc_id AS survivor_id, "
                f"CAST(1 AS BIGINT) AS is_survivor FROM documents {flip} UNION ALL "
                f"SELECT doc_id, doc_id, doc_id, CAST(0 AS BIGINT) FROM documents "
                f"WHERE doc_id = 7 AND '{flip}' <> '') "
                f"TO '{self.out(name)}/part-0.parquet' (FORMAT PARQUET)")
        good = {"kind": "dedup", "batch": batch, "path": self.out("dd-good")}
        self.assertEqual(check.check("pipeline_dedup", None, [good], oracle),
                         (1, []))
        n, fails = check.check("pipeline_dedup", None,
                               [dict(good, path=self.out("dd-bad"))], oracle)
        self.assertEqual(len(fails), 1)

    def test_materialized_keeps_the_recursive_cte(self):
        sql = ("WITH RECURSIVE a AS (SELECT 1),\nb AS (SELECT 2),\n"
               "r(x) AS (SELECT 1 UNION SELECT x + 1 FROM r WHERE x < 3)\n"
               "SELECT * FROM r")
        m = check.materialized(sql)
        self.assertIn("WITH RECURSIVE a AS MATERIALIZED (", m)
        self.assertIn("\nb AS MATERIALIZED (", m)
        self.assertIn("\nr(x) AS (", m)


def record(kind, total, self_ms, counts=()):
    return {"kind": kind, "total_ms": total, "self_ms": dict(self_ms),
            "counts": dict({"exec.task_ms_sum": 0.0, "jvm.gc_ms": 0.0,
                            "exec.rows_read": 0.0}, **dict(counts))}


class PerLayerTest(unittest.TestCase):
    def test_churn_op_covers_append_read_and_compaction(self):
        trace = []
        for i in range(1, 21):
            trace.append(record("append", 30.0, {"sources.add_update": 30.0}))
            trace.append(record("read", 500.0, {"sources.resolve": 1.0,
                                                "exec.execute": 499.0},
                                {"scd.stmts_retained": i,
                                 "sources.sidecar_bytes": 50.0 * i}))
        trace.append(record("compact", 400.0, {"scd.compact": 400.0},
                            {"exec.bytes_written": 1e6}))
        m = run.per_layer_metrics("scd_churn", trace, {})
        self.assertEqual(m["trace.op_ms"]["value"], 530.0 + 400.0 / 20)
        self.assertEqual(m["sources.add_update_ms"]["value"], 30.0)
        self.assertEqual(m["scd.compact_ms"]["value"], 20.0)
        self.assertEqual(m["exec.bytes_written"]["value"], 1e6 / 20)
        self.assertEqual(m["scd.stmts_retained"]["value"], 10.5)
        self.assertEqual(m["sources.sidecar_bytes"]["value"], 525.0)

    def test_every_per_layer_metric_of_the_benchmark_is_reported(self):
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)),
                               "BENCHMARK.json")) as f:
            want = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
        for w in run.WORKLOADS:
            got = run.per_layer_metrics(w, [record(run.PRIMARY[w][2][0], 1.0,
                                                   {})], {})
            self.assertEqual({k: v["unit"] for k, v in got.items()}, want)


if __name__ == "__main__":
    unittest.main()
