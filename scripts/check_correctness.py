#!/usr/bin/env python3
"""DEV-ONLY local mirror of the driver's correctness gate.

Runs after `sbt "runMain graft.Verify <sfDir> <outDir>"`:
for each <outDir>/<name>/ parquet dir, run the matching oracle SQL from
<outDir>/oracle_sql.json in DuckDB over the same sf parquet tables and
compare (column-name-sorted, row-sorted) values. Every oracle_sql.json key
must have an output directory and every errors.json entry is a failure, so a
query cannot pass by being absent; the summary prints n_pass/n_expected,
where n_expected is the number of oracle-backed queries.

Usage: python3 scripts/check_correctness.py <sfDir> <outDir>
"""
import json
import math
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.10g}"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def table_canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    errors = json.load(open(os.path.join(out_dir, "errors.json")))
    outputs = {n for n in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, n))}
    n_pass = n_fail = 0
    for name in sorted(outputs | set(oracle) | set(errors)):
        d = os.path.join(out_dir, name)
        if name in errors:
            print(f"FAIL {name}: query error: {errors[name][:200]}")
            n_fail += 1
            continue
        if name not in outputs:
            print(f"FAIL {name}: no output directory")
            n_fail += 1
            continue
        spark_rel = con.sql(f"SELECT * FROM '{d}/*.parquet'")
        s_cols, s_rows = table_canon(spark_rel.columns, spark_rel.fetchall())
        if name not in oracle:
            print(f"ROWS-ONLY {name}: {len(s_rows)} rows (no oracle)")
            continue
        try:
            o_rel = con.sql(oracle[name])
            o_cols, o_rows = table_canon(o_rel.columns, o_rel.fetchall())
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        if s_cols != o_cols:
            print(f"FAIL {name}: columns {s_cols} vs oracle {o_cols}")
            n_fail += 1
        elif s_rows != o_rows:
            n_fail += 1
            diff_a = [r for r in s_rows if r not in set(o_rows)][:3]
            diff_b = [r for r in o_rows if r not in set(s_rows)][:3]
            print(f"FAIL {name}: {len(s_rows)} vs {len(o_rows)} rows")
            for r in diff_a:
                print(f"   spark-only: {r[:200]}")
            for r in diff_b:
                print(f"   oracle-only: {r[:200]}")
        else:
            n_pass += 1
            print(f"PASS {name} ({len(s_rows)} rows)")
    print(f"== {n_pass}/{len(oracle)} pass, {n_fail} fail ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
