"""Output checks for the graft benchmark, against DuckDB.

  scd_long_log    each captured read equals DuckDB executing the retained
                  statements, in file order, on a copy of `customer`
                  (plus the read's filter);
  scd_churn       each compaction snapshot and each captured read equals
                  DuckDB replaying every appended statement on `lineitem`;
  pipeline_dedup  each captured batch equals the repository's
                  `dedup_survivor` oracle SQL run over that batch.

A match is exact: same column names and DuckDB types, and an empty
EXCEPT ALL in both directions.
"""
import os
import re

import duckdb


def parquet(path):
    return f"read_parquet('{os.path.join(path, '*.parquet')}')"


def compare(con, oracle_sql, path):
    """'' when the parquet output at `path` equals `oracle_sql`, else a
    one-line reason."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE o AS {oracle_sql}")
    con.execute(f"CREATE OR REPLACE TEMP VIEW s AS SELECT * FROM {parquet(path)}")
    oschema = sorted((r[0], r[1]) for r in con.execute("DESCRIBE o").fetchall())
    sschema = sorted((r[0], r[1]) for r in con.execute("DESCRIBE s").fetchall())
    if oschema != sschema:
        return f"schema differs: spark={sschema} oracle={oschema}"
    cols = ", ".join(f'"{c}"' for c, _ in oschema)
    only_o = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM o "
                         f"EXCEPT ALL SELECT {cols} FROM s)").fetchone()[0]
    only_s = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM s "
                         f"EXCEPT ALL SELECT {cols} FROM o)").fetchone()[0]
    if only_o or only_s:
        n_o = con.execute("SELECT count(*) FROM o").fetchone()[0]
        n_s = con.execute("SELECT count(*) FROM s").fetchone()[0]
        return (f"rows differ: {only_o} only in oracle, {only_s} only in "
                f"spark (oracle {n_o} rows, spark {n_s} rows)")
    return ""


def replay_checks(con, table, base, statements, targets):
    """Replay `statements` in order onto a copy of `base`; `targets` is a
    list of (n_statements, extra_where or None, path, label). Returns
    failure strings."""
    con.execute(f"CREATE OR REPLACE TABLE {table} AS SELECT * FROM {parquet(base)}")
    failures, applied = [], 0
    for n, where, path, label in sorted(targets, key=lambda t: t[0]):
        while applied < n:
            con.execute(statements[applied])
            applied += 1
        sql = f"SELECT * FROM {table}" + (f" WHERE {where}" if where else "")
        why = compare(con, sql, path)
        if why:
            failures.append(f"{label}: {why}")
    return failures


def long_log_statements(inputs):
    with open(os.path.join(inputs, "updates.log"), encoding="utf-8") as f:
        return [l.strip() for l in f if l.strip() and not l.startswith("--")]


def churn_statements(inputs):
    with open(os.path.join(inputs, "stmts.tsv"), encoding="utf-8") as f:
        return [l.rstrip("\n").split("\t", 1)[1] for l in f]


def materialized(sql):
    """`sql` with every non-recursive CTE declared AS MATERIALIZED.
    DuckDB otherwise inlines a CTE at each reference, and the oracle's
    shingle and signature CTEs are referenced several times (19 s against
    1.4 s per 5k-doc batch, same rows)."""
    return re.sub(r"(?m)^(WITH RECURSIVE |)(\w+) AS \(",
                  r"\1\2 AS MATERIALIZED (", sql)


def check(workload, inputs, captures, oracle_sql=None):
    """Returns (number of outputs checked, failure strings)."""
    con = duckdb.connect()
    if workload == "scd_long_log":
        with open(os.path.join(inputs, "filter.txt")) as f:
            flt = f.read().strip()
        targets = [(c["retained"], flt if c["filtered"] else None, c["path"],
                    f"read of {c['retained']} statements"
                    + (" filtered" if c["filtered"] else ""))
                   for c in captures if c["kind"] == "long_log"]
        fails = replay_checks(con, "customer", os.path.join(inputs, "customer"),
                              long_log_statements(inputs), targets)
    elif workload == "scd_churn":
        targets = [(c["statements"], None, c["path"],
                    f"{c['kind']} after {c['statements']} statements")
                   for c in captures if c["kind"].startswith("churn")]
        fails = replay_checks(con, "lineitem", os.path.join(inputs, "lineitem"),
                              churn_statements(inputs), targets)
    else:
        fails = []
        targets = [c for c in captures if c["kind"] == "dedup"]
        for c in targets:
            con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                        + parquet(c["batch"]))
            why = compare(con, materialized(oracle_sql), c["path"])
            if why:
                fails.append(f"dedup of {c['batch']}: {why}")
    return len(targets), fails
