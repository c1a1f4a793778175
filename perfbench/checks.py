"""Output checks: the program's outputs against DuckDB formulations.

Each compare matches column names, row counts and the rows themselves as
multisets, after the same normalisation tools/check.py applies (doubles to
9 decimals); timestamps with a zone are compared as UTC wall time.
"""
import hashlib
import json
import os

import duckdb

# the labels CTE of q15's oracle; the benchmark's labels are a table
Q15_LABELS = ("SELECT user_id, value AS label, ts AS as_of_ts FROM events "
              "WHERE event_type = 'purchase'")


def _norm(con, rel_sql):
    rel = con.sql(rel_sql)
    cols = sorted(rel.columns)
    types = dict(zip(rel.columns, [str(t).upper() for t in rel.types]))
    exprs = []
    for c in cols:
        t = types[c]
        q = f'"{c}"'
        if t == "TIMESTAMP WITH TIME ZONE":
            exprs.append(f"CAST({q} AS TIMESTAMP) AS {q}")
        elif t in ("DOUBLE", "FLOAT", "REAL"):
            exprs.append(f"round({q}, 9) AS {q}")
        else:
            exprs.append(q)
    return cols, f"SELECT {', '.join(exprs)} FROM ({rel_sql})"


def compare(con, got_sql, exp_sql):
    """'ok', or a one-line description of the first difference."""
    try:
        gcols, g = _norm(con, got_sql)
        ecols, e = _norm(con, exp_sql)
        if gcols != ecols:
            return f"columns {gcols} != {ecols}"
        gn = con.sql(f"SELECT count(*) FROM ({g})").fetchone()[0]
        en = con.sql(f"SELECT count(*) FROM ({e})").fetchone()[0]
        if gn != en:
            return f"rows {gn} != {en}"
        extra = con.sql(f"({g}) EXCEPT ALL ({e}) LIMIT 1").fetchall()
        if extra:
            return f"row not in oracle: {extra[0]}"
        return "ok"
    except Exception as ex:  # a failed check is a result, not a crash
        return f"exception: {str(ex).splitlines()[0]}"


def digest(con, sql):
    """(row count, sha256 of the normalised rows in sorted order)."""
    cols, norm = _norm(con, sql)
    rows = con.sql(f"{norm} ORDER BY ALL").fetchall()
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return len(rows), h.hexdigest()


def _connect():
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads TO 2")
    return con


def feature_refresh(input_dir, check_dir):
    oracle = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    con = _connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{input_dir}/events.parquet'")
    con.execute(f"CREATE VIEW labels AS SELECT * FROM '{input_dir}/labels.parquet'")
    q15 = oracle["q15_pit_join"]
    out = {}
    if Q15_LABELS not in q15:
        out["training_rows"] = "q15 oracle no longer has the expected labels CTE"
    q15 = q15.replace(Q15_LABELS, "SELECT user_id, label, as_of_ts FROM labels")
    got = {n: f"SELECT * FROM '{check_dir}/{n}/*.parquet'"
           for n in ("features", "training", "kv")}
    out["backfill_rows"] = compare(con, got["features"], oracle["q14_backfill"])
    out.setdefault("training_rows", compare(con, got["training"], q15))
    leaks = con.sql(f"SELECT count(*) FROM ({got['training']}) "
                    "WHERE day > CAST(as_of_ts AS DATE)").fetchone()[0]
    out["no_leakage"] = "ok" if leaks == 0 else f"{leaks} rows see a later day"
    out["kv_payloads"] = compare(con, got["kv"], oracle["q17_online_payload"])
    return out


def _views(con, data_dir):
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS "
                        f"SELECT * FROM '{data_dir}/{name}'")


def oracle_expected(data_dir, oracle):
    """The oracle's row count and digest per query. The inputs are fixed, so
    the answers are kept in ORACLE.json beside them, keyed by the SQL's
    hash; a query whose SQL changed is run again (some take minutes)."""
    path = os.path.join(data_dir, "ORACLE.json")
    cached = json.load(open(path)) if os.path.exists(path) else {}
    con = None
    out = {}
    for q, sql in sorted(oracle.items()):
        key = hashlib.sha256(sql.encode()).hexdigest()
        hit = cached.get(q)
        if hit and hit["sql_sha256"] == key:
            out[q] = (hit["rows"], hit["digest"])
            continue
        if con is None:
            con = _connect()
            _views(con, data_dir)
        out[q] = digest(con, sql)
        cached[q] = {"sql_sha256": key, "rows": out[q][0], "digest": out[q][1]}
    return out, cached


def composite_queries(data_dir, check_dir):
    oracle = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    expected, _ = oracle_expected(data_dir, oracle)
    con = _connect()
    out = {}
    for q in sorted(oracle):
        try:
            got = digest(con, f"SELECT * FROM '{check_dir}/{q}/*.parquet'")
        except Exception as ex:
            out[q] = f"exception: {str(ex).splitlines()[0]}"
            continue
        out[q] = "ok" if got == expected[q] else \
            f"rows {got[0]} vs oracle {expected[q][0]}, or values differ"
    return out


if __name__ == "__main__":
    # refresh ORACLE.json: checks.py <data dir> <oracle_sql.json>
    import sys
    _, cached = oracle_expected(sys.argv[1], json.load(open(sys.argv[2])))
    with open(os.path.join(sys.argv[1], "ORACLE.json"), "w") as f:
        json.dump(cached, f, indent=1, sort_keys=True)
