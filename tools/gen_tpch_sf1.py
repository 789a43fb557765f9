#!/usr/bin/env python3
"""TPC-H fixture generator for the golden-answer check (dev tooling, like the
DuckDB oracle), offline.

DuckDB's bundled `tpch` extension is a spec-faithful dbgen. It writes the
eight tables as parquet, then the extension's own 22 query texts
(`tpch_queries()`) and its answers at the same scale (`tpch_answers()`), so
data, queries and answers all come from one dbgen. The golden check
(graft.slt.TpchGolden / TpchGoldenSpec) runs those texts on the engine and
compares against the answers.

Output, in <outdir>:
  <table>.parquet   the eight TPC-H tables
  qNN.sql           DuckDB's text of query NN (01..22)
  qNN.ans           DuckDB's answer: a header line, then one `|`-separated
                    row per line; written last, so q22.ans marks a complete
                    fixture

Usage: python3 tools/gen_tpch_sf1.py [outdir] [sf]
(tpch_answers() ships answers for sf 0.01, 0.1 and 1 only.)
"""
import os
import sys

import duckdb

out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/graft_tpch_sf1"
sf = sys.argv[2] if len(sys.argv) > 2 else "1"
os.makedirs(out, exist_ok=True)
con = duckdb.connect()
con.execute("LOAD tpch")
con.execute(f"CALL dbgen(sf={sf})")
for t in ["region", "nation", "customer", "supplier", "part", "partsupp",
          "orders", "lineitem"]:
    con.execute(f"COPY {t} TO '{out}/{t}.parquet' (FORMAT parquet)")
    print("wrote", t)

queries = dict(con.execute("SELECT query_nr, query FROM tpch_queries()").fetchall())
answers = dict(con.execute(
    "SELECT query_nr, answer FROM tpch_answers() WHERE scale_factor = ?",
    [float(sf)]).fetchall())
if sorted(answers) != list(range(1, 23)):
    sys.exit(f"tpch_answers() has no complete answer set for sf={sf}")
for n in range(1, 23):
    with open(f"{out}/q{n:02d}.sql", "w") as f:
        f.write(queries[n])
for n in range(1, 23):
    with open(f"{out}/q{n:02d}.ans", "w") as f:
        f.write(answers[n])
print("wrote 22 queries and answers")
print("done", out)
