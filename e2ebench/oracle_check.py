#!/usr/bin/env python3
"""Checks the pinned analytic-suite fingerprints against the DuckDB oracle.

`python3 e2ebench/run.py --pin <out>` runs every SparkEntry.queries entry
twice over the generated analytic-suite tables and writes <out>/pins.tsv
(name, fingerprint, stable-across-two-runs, ms), each result as
<out>/<name>/*.parquet, and <out>/oracle_sql.json. This script runs each
query's oracle SQL in DuckDB over the same generated tables and compares it
with the Spark result exactly: columns by name, rows sorted, floats at full
precision (the comparison of tools/check_oracle.py).

It then checks e2ebench/expected/analytic_fingerprints.tsv: every pinned
query must be stable, and must either match the oracle or have no oracle
SQL (those keep a pinned fingerprint only).

Usage: python3 e2ebench/oracle_check.py <out> [<tables dir>]
  <tables dir> defaults to .bench_build/work/analytic-data
Exit 1 when a pinned query is unstable, mismatches the oracle, or differs
from the fingerprint in pins.tsv.
"""
import json
import math
import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df):
    cols = sorted(df.columns)
    df = df[cols]

    def cell(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        return str(v)
    return cols, sorted(tuple(cell(v) for v in row)
                        for row in df.itertuples(index=False, name=None))


def main(out, tables):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet/*.parquet'")
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    pins = {}
    for line in open(os.path.join(out, "pins.tsv")):
        name, fp, stable, _ = line.rstrip("\n").split("\t")
        pins[name] = (fp, stable == "true")
    verdict = {}
    for name in sorted(pins):
        if name not in oracle:
            verdict[name] = "no-oracle"
            continue
        try:
            got = canon(con.execute(f"SELECT * FROM '{out}/{name}/*.parquet'").df())
            want = canon(con.execute(oracle[name]).df())
            verdict[name] = "oracle-match" if got == want else "ORACLE-MISMATCH"
        except Exception as e:  # noqa: BLE001 — report and continue
            verdict[name] = f"ORACLE-ERROR {type(e).__name__}: {str(e)[:120]}"
    for name in sorted(verdict):
        print(f"{verdict[name]:16s} stable={pins[name][1]!s:5s} {name}")
    bad = 0
    expected = os.path.join(ROOT, "e2ebench", "expected", "analytic_fingerprints.tsv")
    for line in open(expected):
        if not line.strip() or line.startswith("#"):
            continue
        name, fp = line.split()
        ok = (name in pins and pins[name][1] and pins[name][0] == fp
              and verdict[name] in ("oracle-match", "no-oracle"))
        if not ok:
            bad += 1
            print(f"PINNED-BAD {name}: pin={pins.get(name)} verdict={verdict.get(name)}")
    print(f"{sum(v == 'oracle-match' for v in verdict.values())} oracle matches, "
          f"{sum(v == 'no-oracle' for v in verdict.values())} without oracle SQL, "
          f"{bad} bad pinned entries")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2] if len(sys.argv) > 2
         else os.path.join(ROOT, ".bench_build", "work", "analytic-data"))
