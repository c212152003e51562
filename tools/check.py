#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [query ...]

Each query filter is a name or a shell-style glob (`'sql_txn_delete*'`);
a filter that matches no query fails with exit 2.

Reads each <verifyOutDir>/<name> parquet (Spark result), runs the matching
oracle SQL from <verifyOutDir>/oracle_sql.json in DuckDB with views over
<sfDir>/*.parquet, sorts columns by name + rows by all columns, and
compares values. Exit 0 iff everything matches.
"""
import fnmatch
import json
import math
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    """Sort columns by name, normalize values, sort rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = repr(v)
            elif v is None:
                v = "NULL"
            else:
                v = str(v)
            vals.append(v)
        out.append(tuple(vals))
    out.sort()
    return [cols[i] for i in order], out


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    patterns = sys.argv[3:]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    matched = {p: {n for n in oracle if fnmatch.fnmatchcase(n, p)}
               for p in patterns}
    unknown = [p for p, names in matched.items() if not names]
    if unknown:
        print(f"FAIL: unknown query name(s) in filter: {sorted(unknown)}")
        sys.exit(2)
    only = set().union(*matched.values())
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        try:
            got = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            g_cols, g_rows = canon(got.fetchall(), got.columns)
        except Exception as e:
            print(f"FAIL {name}: spark result unreadable: {e}")
            n_fail += 1
            continue
        try:
            exp = con.sql(sql)
            # The driver compares via pandas, where several DuckDB types
            # change representation (HUGEINT/UBIGINT -> float64/object,
            # DECIMAL -> Decimal objects, TIMESTAMP -> Timestamp repr) and
            # hash differently from Spark's parquet values even when the
            # numbers are equal ("150000.0" vs "150000"). fetchall() hides
            # that (python ints), so lint the DECLARED types against an
            # allowlist of representation-stable ones and fail loudly.
            SAFE_TYPES = {"BOOLEAN", "TINYINT", "SMALLINT", "INTEGER",
                          "BIGINT", "FLOAT", "DOUBLE", "VARCHAR", "DATE"}
            wide = [f"{c}:{t}" for c, t in zip(exp.columns, exp.types)
                    if str(t) not in SAFE_TYPES]
            if wide:
                print(f"FAIL {name}: oracle column(s) {wide} not in the "
                      f"driver-safe type allowlist {sorted(SAFE_TYPES)}; "
                      f"CAST to a safe type (e.g. BIGINT/DOUBLE/VARCHAR)")
                n_fail += 1
                continue
            e_cols, e_rows = canon(exp.fetchall(), exp.columns)
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        if g_cols != e_cols:
            print(f"FAIL {name}: columns {g_cols} != {e_cols}")
            n_fail += 1
        elif len(g_rows) != len(e_rows):
            print(f"FAIL {name}: rows {len(g_rows)} != {len(e_rows)}")
            n_fail += 1
        elif g_rows != e_rows:
            bad = [(a, b) for a, b in zip(g_rows, e_rows) if a != b]
            print(f"FAIL {name}: {len(bad)} differing rows; first: "
                  f"spark={bad[0][0]} oracle={bad[0][1]}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(g_rows)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass / {n_fail} fail ==")
    sys.exit(1 if n_fail or n_pass == 0 else 0)


if __name__ == "__main__":
    main()
