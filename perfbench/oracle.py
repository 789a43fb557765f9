"""Output check: each query's result, dumped once per run by the harness,
against DuckDB 1.0.0 on the same files.

The oracle SQL is the engine's own (`SparkEntry.oracleSql`; the suites'
entries carry their `oracleFor` DDL), and the comparison repeats the
normalisation of tools/oracle_check.py: columns sorted by name, rows sorted
by value, values compared exactly with NULL == NULL. DuckDB's answer depends
only on the oracle SQL and the data, so it is cached per checkout.
"""
import glob
import hashlib
import json
import os
import threading

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
ORACLE_TIMEOUT_S = 120.0


def connect(data_dir, db_path):
    """DuckDB connection with the scale-factor tables as views (single-file
    testdata, or ScaleUp's part-file directories with raw-ns events.ts), on a
    persistent database so the suites' generated tables are built once."""
    con = duckdb.connect(db_path)
    con.execute("SET threads TO 2")
    if data_dir:
        for name in TABLES:
            p = f"{data_dir}/{name}.parquet"
            src = f"read_parquet('{p}')" if os.path.isfile(p) \
                else f"parquet_scan('{p}/*.parquet')"
            con.execute(f"CREATE OR REPLACE TEMP VIEW {name} AS SELECT * FROM {src}")
            if name == "events":
                t = con.execute("SELECT typeof(ts) FROM events LIMIT 1").fetchone()[0]
                if t == "BIGINT":
                    con.execute(f"CREATE OR REPLACE TEMP VIEW events AS SELECT * REPLACE "
                                f"(make_timestamp(ts // 1000) AS ts) FROM {src}")
    return con


def normalise(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(got, exp):
    """None when equal, else a one-line reason (tools/oracle_check.py rules)."""
    if list(got.columns) != list(exp.columns):
        return f"SCHEMA-NAMES: got {list(got.columns)} want {list(exp.columns)}"
    if len(got) != len(exp):
        return f"ROWS: got {len(got)} want {len(exp)}"
    for c in got.columns:
        a, b = got[c], exp[c]
        try:
            eq = (a.fillna("<NULL>") == b.fillna("<NULL>")) if a.dtype == object \
                else ((a == b) | (a.isna() & b.isna()))
        except Exception:
            eq = a.astype(str) == b.astype(str)
        if not eq.all():
            i = int((~eq).idxmax())
            return f"VALUES col={c} row={i}: got {a[i]!r} want {b[i]!r}"
    return None


def tamper(df):
    """A copy of `df` with one value changed (or one row added when empty)."""
    t = df.copy()
    if len(t) == 0 or len(t.columns) == 0:
        return pd.concat([t, t.head(0).reindex([0])], ignore_index=True) if len(t.columns) \
            else pd.DataFrame({"tampered": [1]})
    c = t.columns[0]
    v = t.at[0, c]
    if isinstance(v, str):
        t[c] = t[c].astype(object)
        t.at[0, c] = v + "#"
    elif v is None or (not isinstance(v, (list, dict)) and pd.isna(v)):
        t[c] = t[c].astype(object)
        t.at[0, c] = "tampered"
    else:
        try:
            t[c] = t[c].astype(object)
            t.at[0, c] = v + 1
        except Exception:
            t.at[0, c] = "tampered"
    return t


def result_hash(df):
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()[:16]


def expected(con, sql, cache_dir, data_key):
    key = hashlib.sha256((data_key + "\n" + sql).encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, key + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
    timer.start()
    try:
        exp = con.execute(sql).fetchdf()
    finally:
        timer.cancel()
    os.makedirs(cache_dir, exist_ok=True)
    exp.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return exp


def check(out_dir, data_dir, db_path, cache_dir, tamper_query=None):
    """Compare every dumped result. Returns {query: {"ok", "detail", "hash"}}.

    Also proves the comparator can fail: for each query the result is
    compared against a tampered copy of itself, which must not match. With
    `tamper_query`, that query's DuckDB answer is tampered before the real
    comparison, so the check itself must report a mismatch."""
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = connect(data_dir, db_path)
    data_key = os.path.basename(data_dir.rstrip("/")) if data_dir else "suites"
    report = {}
    try:
        for q in sorted(oracle):
            files = sorted(glob.glob(os.path.join(out_dir, "results", q, "*.parquet")))
            if not files:
                report[q] = {"ok": False, "detail": "NO-RESULT"}
                continue
            got = normalise(duckdb.connect().execute(
                f"SELECT * FROM read_parquet({files!r})").fetchdf())
            try:
                exp = normalise(expected(con, oracle[q], cache_dir, data_key))
            except Exception as e:  # noqa: BLE001 - reported as a failed check
                report[q] = {"ok": False, "detail": f"ORACLE-SQL-ERROR: {e}"}
                continue
            if q == tamper_query:
                exp = normalise(tamper(exp))
            why = compare(got, exp)
            if compare(got, normalise(tamper(got))) is None:
                why = why or "SELF-TEST: comparator accepted a tampered result"
            report[q] = {"ok": why is None, "detail": why or f"OK ({len(got)} rows)",
                         "hash": result_hash(got)}
    finally:
        con.close()
    return report
