"""Result checks, run after the timed phase against DuckDB over the same
staged rows. Each check returns a list of (record id, problem) pairs; an
empty list means every result was right."""
import hashlib
import math
import os

import duckdb

from plan import CPUS, HIST_COMMITS


def _files(paths):
    return "[" + ",".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def _stage(work, name):
    return os.path.join(work, "stage", name, "*.parquet")


def _canon(v):
    if isinstance(v, float):
        return ("f", round(v, 4))
    if hasattr(v, "isoformat"):
        return ("s", v.isoformat())
    if isinstance(v, (int, bool)):
        return ("f", float(v)) if not isinstance(v, bool) else ("b", v)
    return ("s", "" if v is None else str(v))


def same_rows(got, want):
    """Order-insensitive row comparison; floats to a relative 1e-9."""
    if len(got) != len(want):
        return False
    a = sorted(got, key=lambda r: [_canon(v) for v in r])
    b = sorted(want, key=lambda r: [_canon(v) for v in r])
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, (int, float)) and isinstance(y, (int, float)) \
                    and not isinstance(x, bool):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6):
                    return False
            elif _canon(x) != _canon(y):
                return False
    return True


def rows_hash(rows):
    """Order-insensitive fingerprint of a result, for the report."""
    canon = sorted(repr([_canon(v) if not isinstance(v, float) else ("f", f"{v:.6g}")
                         for v in r]) for r in rows)
    return hashlib.sha1("\n".join(canon).encode()).hexdigest()[:12]


def _connect():
    con = duckdb.connect()
    con.execute(f"SET threads={CPUS}")
    return con


def check_read(out, plan, work):
    con = _connect()
    for t in ["lineitem", "orders", "customer", "supplier", "nation", "region"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{_stage(work, t)}')")
    for k in range(1, HIST_COMMITS + 1):
        con.execute(f"""CREATE VIEW orders_hist_{k} AS SELECT o_orderkey, o_custkey,
            o_totalprice, o_orderdate, o_orderpriority,
            CASE WHEN o_orderkey % 3 = 2 THEN 'Clerk#' || CAST(o_orderkey % 1000 AS VARCHAR)
            END AS o_clerk FROM orders WHERE o_orderkey % 3 < {k}""")
    oracle = {op["key"]: op["oracle"] for op in plan["ops"]}
    want, bad = {}, []
    for r in out["ops"]:
        if not r["ok"]:
            continue
        if r["key"] not in want:
            want[r["key"]] = [list(x) for x in con.execute(oracle[r["key"]]).fetchall()]
        r["hash"] = rows_hash(r["rows"])
        if not same_rows(r["rows"], want[r["key"]]):
            bad.append((r["id"], f"{r['key']}: {len(r['rows'])} rows (hash {r['hash']}) "
                                  f"!= oracle {len(want[r['key']])} rows "
                                  f"(hash {rows_hash(want[r['key']])})"))
    return bad


def check_dml(out, plan, work):
    """Each end state against the expected table the generator's parameters
    imply, both summarised by the same aggregate over every column the
    operation may change. Also sets the rows each operation changed."""
    con = _connect()
    base = f"read_parquet('{_stage(work, 'orders_rep')}')"
    n, sk, sp = con.execute(f"SELECT count(*), sum(o_orderkey), sum(o_totalprice) FROM {base}").fetchone()
    ops = {op["key"]: op for op in plan["ops"]}
    bad = []
    for r in out["ops"]:
        if not r["ok"] or r["cls"] not in ("update", "delete", "scd1", "scd2"):
            continue
        op = ops[r["key"]]
        cls = op["cls"]
        if cls in ("update", "delete"):
            m, mk, mp = con.execute(f"SELECT count(*), coalesce(sum(o_orderkey), 0), "
                                    f"coalesce(sum(o_totalprice), 0) FROM {base} WHERE {op['cond']}").fetchone()
            if cls == "update":
                want = (n, sk, sp + m, m, None, None)
            else:
                want = (n - m, sk - mk, sp - mp, 0, None, None)
            r["changed_rows"] = m
        else:
            m, mk = con.execute(f"SELECT count(*), coalesce(sum(o_orderkey), 0) FROM {base} "
                                f"WHERE {op['update_sql']}").fetchone()
            i, ik, ip = con.execute(
                f"SELECT count(*), coalesce(sum(o_orderkey), 0), coalesce(sum(o_totalprice), 0) "
                f"FROM {base} WHERE o_orderkey BETWEEN {op['ins_lo']} AND {op['ins_hi']}").fetchone()
            ik += i * op["ins_shift"]
            if cls == "scd1":
                want = (n + i, sk + ik, sp + m + ip, 0, None, None)
                r["changed_rows"] = m + i
            else:
                # closed versions stay; m + i new current versions
                want = (n + m + i, sk + mk + ik, None, 0, n + i, sp + m + ip)
                r["changed_rows"] = 2 * m + i
        cur = "effective_end IS NULL" if cls == "scd2" else "true"
        got = con.execute(
            f"SELECT count(*), sum(o_orderkey), sum(o_totalprice), "
            f"count(*) FILTER (WHERE o_orderpriority = '0-REWRITTEN'), "
            f"count(*) FILTER (WHERE {cur}), sum(o_totalprice) FILTER (WHERE {cur}) "
            f"FROM read_parquet({_files(r['files'])})").fetchone()
        got = tuple(None if w is None else g for g, w in zip(got, want))
        ok = all(w is None or (math.isclose(g, w, rel_tol=1e-10) if isinstance(w, float) else g == w)
                 for g, w in zip(got, want))
        if not ok:
            bad.append((r["id"], f"{r['key']}: end state {got} != expected {want}"))
    return bad


def check_ingest(out, plan, work):
    con = _connect()
    fin = out["final"]
    bad = []
    distinct = con.execute(f"SELECT count(DISTINCT text) FROM "
                           f"read_parquet('{_stage(work, 'documents')}')").fetchone()[0]
    if distinct != fin["ref_exact_rows"]:
        bad.append((-1, f"exact dedup kept {fin['ref_exact_rows']} rows, DuckDB counts {distinct}"))
    for r in out["ops"]:
        if not r["ok"] or r["cls"] not in ("ingest", "curate"):
            continue
        rows, ids, tokens, words = con.execute(
            f"SELECT count(*), count(DISTINCT doc_id), "
            f"{'sum(n_tokens)' if r['cls'] == 'curate' else '0'}, "
            f"sum(len(string_split(text, ' '))) FROM read_parquet({_files(r['files'])})").fetchone()
        if r["cls"] == "ingest":
            r["changed_rows"] = rows
            if rows != fin["staged_rows"] or ids != rows:
                bad.append((r["id"], f"landed {rows} rows ({ids} distinct ids), "
                                     f"staged {fin['staged_rows']}: not exactly once"))
        else:
            r["changed_rows"] = rows
            if rows != fin["ref_curated_rows"] or tokens != fin["ref_tokens"] or tokens != words:
                bad.append((r["id"], f"curated {rows} rows / {tokens} tokens ({words} words), "
                                     f"reference {fin['ref_curated_rows']} / {fin['ref_tokens']}"))
            if rows > distinct:
                bad.append((r["id"], f"curated {rows} rows > {distinct} distinct texts"))
    return bad


def check_write(out, plan, work):
    return check_dml(out, plan, work) + check_ingest(out, plan, work)


CHECKS = {"lake_read": check_read, "lake_write": check_write}
