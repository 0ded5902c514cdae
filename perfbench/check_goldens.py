#!/usr/bin/env python3
"""One-off cross-check of goldens.txt against DuckDB.

`run.py --make-goldens` writes each timed query's Spark result as parquet
and the queries' oracle SQL (SparkEntry.oracleSql). This script runs every
oracle SQL in DuckDB over the same sf0.1 tables and checks that the row
count matches goldens.txt and that the rows match the Spark output
(columns sorted by name, floats to 6 significant digits, rows sorted).

Usage: python3 perfbench/check_goldens.py <sf0.1 dir>
"""
import glob
import json
import math
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, ".work", "goldens", "run", "goldens_out")


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return f"{(0.0 if v == 0 else v):.6g}"
        return repr(v)
    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


def main(sf_dir):
    con = duckdb.connect()
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(OUT, "oracle_sql.json")))
    goldens = {}
    for line in open(os.path.join(HERE, "goldens.txt")):
        if line.strip() and not line.startswith("#"):
            n, rows, _ = line.split()
            goldens[n] = int(rows)
    bad = 0
    for name, sql in sorted(oracle.items()):
        oc = con.execute(sql)
        ocols = [d[0] for d in oc.description]
        orows = oc.fetchall()
        sc = con.execute("SELECT * FROM read_parquet(?)",
                         [glob.glob(os.path.join(OUT, name, "*.parquet"))])
        scols = [d[0] for d in sc.description]
        srows = sc.fetchall()
        ok = (len(orows) == goldens.get(name) and sorted(ocols) == sorted(scols)
              and canon(orows, ocols) == canon(srows, scols))
        bad += not ok
        print(("ok  " if ok else "BAD ") + f"{name}: duckdb {len(orows)} rows, "
              f"golden {goldens.get(name)}")
    print(f"{len(oracle) - bad} match, {bad} differ")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main(sys.argv[1])
