#!/usr/bin/env python3
"""Make perfbench/expected.json: the result digest of every read-only op,
verified against the DuckDB oracle.

Run from the repository root:

    python3 perfbench/calibrate.py [--seed 1]

For each query workload it runs the benchmark once in calibration mode
(every result kept, repeats checked against each other), then compares
each op's result with the op's oracle SQL (`SparkEntry.oracleSql`) run
by DuckDB over the same generated tables: columns by name, rows as a
multiset, doubles to 9 significant digits (the digest's own rounding).
Only when every op matches does it write the digests, with the data
sizes and the seed, to expected.json.
"""
import argparse
import json
import math
import os
import re
import subprocess
import sys
import tempfile

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

QUERY_WORKLOADS = ["corpus_kernels"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon_value(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return "0" if v == 0 else f"{v:.9g}"
    if v is None:
        return "NULL"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(canon_value(x) for x in v.values()) + "}"
    return str(v)


def canon(rel):
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(canon_value(r[i]) for i in order) for r in rel.fetchall())
    return [cols[i] for i in order], rows


def check(data, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = 0
    for name, sql in sorted(oracle.items()):
        sql = re.sub(r"/[^'\"\s]*/sf0\.01", data, sql)
        g_cols, g_rows = canon(con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'"))
        e_cols, e_rows = canon(con.sql(sql))
        if g_cols != e_cols:
            print(f"FAIL {name}: columns {g_cols} != oracle {e_cols}")
        elif g_rows != e_rows:
            diff = [(a, b) for a, b in zip(g_rows, e_rows) if a != b][:1]
            print(f"FAIL {name}: {len(g_rows)} rows vs oracle {len(e_rows)}; first diff {diff}")
        else:
            print(f"PASS {name} ({len(g_rows)} rows)")
            continue
        bad += 1
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    digests = {}
    for w in QUERY_WORKLOADS:
        with tempfile.TemporaryDirectory(dir=run.BUILD) as out:
            subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", w, "--seed", str(a.seed), "--seconds", "1",
                            "--trace", "0", "--calibrate", out], check=True)
            if check(run.data_dir(), out):
                sys.exit(f"{w}: results differ from the oracle; expected.json not written")
            with open(os.path.join(out, "digests.json")) as f:
                digests[w] = json.load(f)
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump({"data": run.DATA, "sized_on_seed": a.seed, "digests": digests},
                  f, indent=1, sort_keys=True)
        f.write("\n")
    print("wrote expected.json")


if __name__ == "__main__":
    main()
