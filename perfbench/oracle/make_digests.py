#!/usr/bin/env python3
"""Regenerate oracle/digests.json: run each query's DuckDB oracle SQL
(oracle/queries.sql.json, exported from graft.SparkEntry.oracleSql) over
the committed fixture and digest the result with run.py's
canonicalization, the one scripts/compare_driver.py uses.

    python3 perfbench/oracle/make_digests.py
"""
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import duckdb  # noqa: E402
from run import DATA, digest  # noqa: E402

with open(os.path.join(HERE, "queries.sql.json")) as f:
    sql = json.load(f)
con = duckdb.connect()
for p in sorted(glob.glob(os.path.join(DATA, "*.parquet"))):
    name = os.path.basename(p)[: -len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
out = {}
for name in sorted(sql):
    for c, t, *_ in con.execute(f"DESCRIBE {sql[name]}").fetchall():
        if "HUGEINT" in t.upper() or "INT128" in t.upper():
            sys.exit(f"{name}: oracle emits a 128-bit int column {c}")
    out[name] = digest(con.execute(sql[name]).fetchdf())
with open(os.path.join(HERE, "digests.json"), "w") as f:
    json.dump(out, f, indent=1, sort_keys=True)
    f.write("\n")
print(f"{len(out)} digests written")
