"""Seeded input generation for the graft benchmark.

Every input a workload reads is made here from the workload seed, so the
same seed gives byte-identical files and the Scala runner receives only
the generated inputs. Shapes follow the sf0.1 tables of the repository's
test data: `customer` (15k rows x 5 columns), `lineitem` (600k rows x 11
columns) and `documents` (5k docs drawn from a 30-word vocabulary).

Layout written under `out`:
  scd_long_log   customer/*.parquet, updates.log, points.tsv, ops.tsv, filter.txt
  scd_churn      lineitem/*.parquet, stmts.tsv, ops.tsv
  pipeline_dedup batches/b<i>/*.parquet, ops.tsv
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes (documented in README.md; change them there too).
CUSTOMER_ROWS = 15_000
LOG_STATEMENTS = 200
ASOF_POINTS = 8
ASOF_MIN_RETAINED, ASOF_MAX_RETAINED = 25, 200
FILTERED = (2, 6)  # as-of points read through a filter: a quarter of reads
LINEITEM_ROWS = 600_000
LINEITEM_FILES = 16
CHURN_STATEMENTS = 2_000
COMPACT_EVERY = 20
LONG_LOG_CAPTURE_SHARE = 1 / 8
DEDUP_BATCHES = 3
DEDUP_DOCS = 5_000
NEAR_COPY_SHARE = 0.10
WARMUP_DOCS = 500
OPS = 5_000  # length of each seeded op list; a run uses a prefix

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast the row agg key query a scan batch").split()
YEAR_START_MS = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
                    .timestamp() * 1000)
DAY_MS = 86_400_000
HOUR_MS = 3_600_000


def rng(seed, stream):
    return np.random.default_rng([seed, stream])


def write_parquet(table, path, files=1, row_group=None):
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(files):
        part = table.slice(i * n // files, (i + 1) * n // files - i * n // files)
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"),
                       row_group_size=row_group or part.num_rows,
                       compression="snappy")


def write_lines(path, lines):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write("".join(line + "\n" for line in lines))


# ---- scd_long_log --------------------------------------------------------

def customer_table(seed):
    r = rng(seed, 1)
    n = CUSTOMER_ROWS
    keys = np.arange(1, n + 1, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": r.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n)],
    })


def long_log_statement(r, kind):
    """One UPDATE or DELETE on `customer` (kinds 0-1 are DELETEs). No
    statement SETs c_custkey, so a filter on it pushes below the replay
    to the scan. Arithmetic uses dyadic constants, so Spark and DuckDB
    agree bit for bit."""
    m = int(r.choice([3, 5, 7, 11, 13]))
    rem = int(r.integers(0, m))
    if kind < 2:
        m = int(r.choice([401, 503, 601, 701]))
        return f"DELETE FROM customer WHERE c_custkey % {m} = {int(r.integers(0, m))};"
    if kind == 2:
        d = float(r.choice([-100.25, 12.5, 250.75, 0.5]))
        return (f"UPDATE customer SET c_acctbal = c_acctbal + {d} "
                f"WHERE c_custkey % {m} = {rem};")
    if kind == 3:
        return (f"UPDATE customer SET c_mktsegment = "
                f"'{SEGMENTS[r.integers(0, 5)]}' "
                f"WHERE c_nationkey = {int(r.integers(0, 25))};")
    if kind == 4:
        return (f"UPDATE customer SET c_nationkey = (c_nationkey + "
                f"{int(r.integers(1, 25))}) % 25 "
                f"WHERE c_acctbal > {int(r.integers(0, 9000))};")
    if kind == 5:
        return (f"UPDATE customer SET c_name = c_name || '*' "
                f"WHERE c_custkey % {m} = {rem};")
    if kind == 6:
        return (f"UPDATE customer SET c_acctbal = c_acctbal * 2, "
                f"c_mktsegment = 'MACHINERY' "
                f"WHERE c_mktsegment = '{SEGMENTS[r.integers(0, 5)]}' "
                f"AND c_custkey % {m} = {rem};")
    return (f"UPDATE customer SET c_acctbal = c_acctbal - 0.25 "
            f"WHERE c_nationkey IN ({int(r.integers(0, 25))}, "
            f"{int(r.integers(0, 25))}) AND c_acctbal < 5000;")


def asof_counts():
    """Retained-statement counts of the as-of points: 25, 50, ... 200."""
    step = (ASOF_MAX_RETAINED - ASOF_MIN_RETAINED) // (ASOF_POINTS - 1)
    return [ASOF_MIN_RETAINED + j * step for j in range(ASOF_POINTS)]


def long_log(seed):
    """LOG_STATEMENTS statements in `-- time=` groups of 1-3 dated over
    2024, and a group ends at every as-of count. The sequence of
    statement kinds is the same for every seed (each run of 8 holds
    every kind once, two of them DELETEs), so every seed compiles to the
    same plan shape at each as-of point; the seed picks the constants,
    the grouping and the times. Returns (log lines, group ends as
    (statements so far, time))."""
    fixed = rng(0, 2)
    kinds = np.concatenate([fixed.permutation(8)
                            for _ in range(LOG_STATEMENTS // 8 + 1)])
    r = rng(seed, 2)
    stmts = [long_log_statement(r, int(k)) for k in kinds[:LOG_STATEMENTS]]
    sizes, done = [], 0
    for cut in asof_counts():
        while done < cut:
            sizes.append(int(min(r.integers(1, 4), cut - done)))
            done += sizes[-1]
    if done < LOG_STATEMENTS:
        sizes.append(LOG_STATEMENTS - done)
    days = np.sort(r.choice(np.arange(366), len(sizes), replace=False))
    lines, ends, i = [], [], 0
    for g, size in enumerate(sizes):
        t = YEAR_START_MS + int(days[g]) * DAY_MS + int(r.integers(0, DAY_MS))
        lines.append(f"-- time={t}")
        lines += stmts[i:i + size]
        i += size
        ends.append((i, t))
    return lines, ends


def gen_long_log(seed, out):
    write_parquet(customer_table(seed), os.path.join(out, "customer"),
                  row_group=1_000)
    lines, ends = long_log(seed)
    write_lines(os.path.join(out, "updates.log"), lines)
    times = dict(ends)
    write_lines(os.path.join(out, "points.tsv"),
                [f"{times[n]}\t{n}" for n in asof_counts()])
    r = rng(seed, 3)
    lo = int(r.integers(1, CUSTOMER_ROWS - 1_500))
    write_lines(os.path.join(out, "filter.txt"),
                [f"c_custkey BETWEEN {lo} AND {lo + 1_499}"])
    # ops visit the points in blocks, each a seeded permutation of all
    # points; the reads at the points in FILTERED are filtered
    rows = []
    while len(rows) < OPS:
        rows += [(int(p), int(p in FILTERED)) for p in r.permutation(ASOF_POINTS)]
    cap = r.random(OPS) < LONG_LOG_CAPTURE_SHARE
    write_lines(os.path.join(out, "ops.tsv"),
                [f"{p}\t{f}\t{int(c)}" for (p, f), c in zip(rows, cap)])


# ---- scd_churn -----------------------------------------------------------

def lineitem_table(seed):
    r = rng(seed, 4)
    n = LINEITEM_ROWS
    qty = r.integers(1, 51, n).astype(np.float64)
    price = np.round(r.uniform(900.0, 2100.0, n), 2)
    epoch = np.datetime64("1992-01-01")
    return pa.table({
        "l_orderkey": (np.arange(n, dtype=np.int64) // 4) * 4 + 1,
        "l_partkey": r.integers(1, 20_001, n, dtype=np.int64),
        "l_suppkey": r.integers(1, 1_001, n, dtype=np.int64),
        "l_linenumber": (np.arange(n) % 4 + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price, 2),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n)],
        "l_shipdate": pa.array(epoch + r.integers(0, 2_500, n)
                               .astype("timedelta64[D]"), pa.date32()),
    })


def churn_statements(seed):
    """Seeded statements for `CALL graft.add_update`, one per op, dated
    an hour apart from 2024-01-01 (always in the past). As in the long
    log, the kind sequence is the same for every seed."""
    kinds = rng(0, 5).integers(0, 5, CHURN_STATEMENTS)
    r = rng(seed, 5)
    out = []
    for i, kind in enumerate(kinds):
        if kind == 0:
            m = int(r.choice([997, 1009]))
            s = f"DELETE FROM lineitem WHERE l_orderkey % {m} = {int(r.integers(0, m))};"
        elif kind == 1:
            m = int(r.choice([97, 101, 103]))
            s = (f"UPDATE lineitem SET l_discount = l_discount + 0.25 "
                 f"WHERE l_orderkey % {m} = {int(r.integers(0, m))};")
        elif kind == 2:
            m = int(r.choice([89, 97]))
            s = (f"UPDATE lineitem SET l_returnflag = "
                 f"'{('A', 'N', 'R')[r.integers(0, 3)]}', l_linestatus = 'F' "
                 f"WHERE l_partkey % {m} = {int(r.integers(0, m))};")
        elif kind == 3:
            s = (f"UPDATE lineitem SET l_quantity = l_quantity + 1.0 "
                 f"WHERE l_suppkey = {int(r.integers(1, 1_001))};")
        else:
            s = (f"UPDATE lineitem SET l_tax = l_tax * 0.5 "
                 f"WHERE l_linenumber = {int(r.integers(1, 5))} "
                 f"AND l_partkey % 50 = {int(r.integers(0, 50))};")
        out.append((YEAR_START_MS + i * HOUR_MS, s))
    return out


def gen_churn(seed, out):
    write_parquet(lineitem_table(seed), os.path.join(out, "lineitem"),
                  files=LINEITEM_FILES)
    write_lines(os.path.join(out, "stmts.tsv"),
                [f"{t}\t{s}" for t, s in churn_statements(seed)])
    # one seeded read per block of COMPACT_EVERY ops is captured
    r = rng(seed, 6)
    picks = {b * COMPACT_EVERY + int(r.integers(0, COMPACT_EVERY))
             for b in range(OPS // COMPACT_EVERY)}
    write_lines(os.path.join(out, "ops.tsv"),
                [str(int(i in picks)) for i in range(OPS)])


# ---- pipeline_dedup ------------------------------------------------------

def corpus_batch(seed, b):
    """`documents`-shaped batch: random 10-100 token docs, then a
    NEAR_COPY_SHARE of them overwritten by a copy of an original (never a
    copy of a copy, so every near-duplicate cluster is a star of depth
    one) with one token replaced: 3-shingle Jaccard ~0.8-0.95 for long
    docs, while short copies fall below the 0.8 threshold."""
    r = rng(seed, 100 + b)
    n = DEDUP_DOCS
    docs = [list(r.choice(VOCAB, int(r.integers(10, 101)))) for _ in range(n)]
    copies = r.choice(np.arange(n), int(n * NEAR_COPY_SHARE), replace=False)
    originals = np.setdiff1d(np.arange(n), copies)
    for i in copies:
        src = list(docs[int(r.choice(originals))])
        src[int(r.integers(0, len(src)))] = str(r.choice(VOCAB))
        docs[i] = src
    texts = [" ".join(d) for d in docs]
    return pa.table({
        "doc_id": np.arange(b * 100_000, b * 100_000 + n, dtype=np.int64),
        "text": texts,
        "lang": [("en", "en", "en", "de", "fr", "es", "zh")[i]
                 for i in r.integers(0, 7, n)],
        "source": [f"src{i}" for i in r.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def gen_pipeline(seed, out):
    for b in range(DEDUP_BATCHES):
        write_parquet(corpus_batch(seed, b),
                      os.path.join(out, "batches", f"b{b}"))
    # the warm-up batch is the same for every seed
    write_parquet(corpus_batch(0, DEDUP_BATCHES).slice(0, WARMUP_DOCS),
                  os.path.join(out, "batches", "warmup"))
    write_lines(os.path.join(out, "ops.tsv"),
                [str(b % DEDUP_BATCHES) for b in range(OPS)])


GENERATORS = {"scd_long_log": gen_long_log, "scd_churn": gen_churn,
              "pipeline_dedup": gen_pipeline}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    GENERATORS[workload](seed, out)
