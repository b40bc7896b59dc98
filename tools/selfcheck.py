#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL
in DuckDB over the sfDir parquet tables, load the Spark result parquet,
and compare (columns sorted by name, rows sorted, values stringified).
Writes the per-gate outcome to <verifyOutDir>/correctness.json in the
CORRECTNESS_r*.json shape (one top-level key per gate).
Usage: selfcheck.py <sfDir> <verifyOutDir>
"""
import sys, json, glob, os
import duckdb
import pandas as pd

sf, out = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for p in glob.glob(f"{sf}/*.parquet"):
    t = os.path.basename(p)[:-8]
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{out}/oracle_sql.json"))

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(lambda v: repr(v))
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)

def entry(rows_match=False, schema_match=False, hash_match=False,
          spark_rows=None, oracle_rows=None, err=None):
    return {"rows_match": rows_match, "schema_match": schema_match,
            "hash_match": hash_match, "spark_rows": spark_rows,
            "oracle_rows": oracle_rows, "err": err}

def compare(name, sql):
    """(failure message or None, correctness entry) for one oracle gate."""
    try:
        exp = con.execute(sql).fetchdf()
    except Exception as e:
        return f"oracle error: {e}", entry(err=f"oracle error: {e}")
    files = glob.glob(f"{out}/{name}/*.parquet")
    if not files:
        return "no spark output", entry(oracle_rows=len(exp), err="no spark output")
    got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    e = entry(len(got) == len(exp), sorted(got.columns) == sorted(exp.columns),
              spark_rows=len(got), oracle_rows=len(exp))
    if not e["schema_match"]:
        msg = f"cols spark={sorted(got.columns)} oracle={sorted(exp.columns)}"
    elif not e["rows_match"]:
        msg = f"rows spark={len(got)} oracle={len(exp)}"
    else:
        cg, ce = canon(got), canon(exp)
        if cg.equals(ce):
            e["hash_match"] = True
            return None, e
        diff = (cg != ce).any(axis=1)
        idx = diff[diff].index[:3]
        msg = f"value mismatch at rows {list(idx)}"
        for i in idx:
            msg += f"\n  spark : {cg.loc[i].to_dict()}\n  oracle: {ce.loc[i].to_dict()}"
    e["err"] = msg.splitlines()[0]
    return msg, e

record = {}
fails = 0
for name, sql in sorted(oracle.items()):
    msg, record[name] = compare(name, sql)
    if msg is None:
        print(f"OK   {name} ({record[name]['spark_rows']} rows)")
    else:
        print(f"FAIL {name}: {msg}"); fails += 1
# queries without oracle: rows-only check
for d in sorted(glob.glob(f"{out}/*/")):
    name = os.path.basename(d.rstrip('/'))
    if name not in oracle:
        files = glob.glob(f"{d}/*.parquet")
        n = sum(len(pd.read_parquet(f)) for f in files) if files else 0
        print(f"ROWS {name}: {n}")
        record[name] = entry(None, None, None, spark_rows=n, err="no_oracle")
with open(f"{out}/correctness.json", "w") as f:
    json.dump(dict(sorted(record.items())), f, indent=2)
print(f"\n{fails} failures / {len(oracle)} oracle queries")
sys.exit(1 if fails else 0)
