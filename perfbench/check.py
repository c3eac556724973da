"""Correctness of a run: every operation's result against DuckDB.

`analytic`: each pool query's cold-pass result (written by the client) is
compared with the query's DuckDB oracle SQL over the same generated tables,
the way tools/check.py compares them (columns by name, rows sorted,
floats bitwise, ints and floats distinct). Every later execution of the query
must then produce the same result digest as that checked reference.

`mor-churn`: the operation stream is replayed on a DuckDB table that keeps
each row's [written, superseded) write interval, which answers the resolved
read, the band read, a snapshot at any earlier write and the change feed
since any earlier write. Each read's rows must equal the replay's exactly.
"""
import glob
import math
import os

import duckdb
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def _kind(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return "bool"
    if isinstance(v, (int, np.integer)):
        return "int"
    if isinstance(v, (float, np.floating)):
        return "float"
    return "other"


def vals_equal(a, b):
    ka, kb = _kind(a), _kind(b)
    if ka != kb:
        return False
    if ka == "null":
        return True
    if ka == "float":
        # one ulp of slack: DuckDB's DECIMAL -> DOUBLE cast is not correctly
        # rounded (CAST(CAST('8450140784.91' AS DECIMAL(38,8)) AS DOUBLE) is
        # 8450140784.910001), so the oracle's exact-decimal sums can land
        # one ulp off the correctly rounded value Spark returns
        fa, fb = float(a), float(b)
        return (math.isnan(fa) and math.isnan(fb)) or fa == fb or \
            math.nextafter(fa, fb) == fb
    seq = (list, tuple, np.ndarray)
    if isinstance(a, seq) or isinstance(b, seq):
        a = list(a) if isinstance(a, seq) else [a]
        b = list(b) if isinstance(b, seq) else [b]
        return len(a) == len(b) and all(vals_equal(x, y) for x, y in zip(a, b))
    return str(a) == str(b)


def _connect(tables_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    return con


def oracle_mismatch(con, result_dir, sql):
    """None when the Spark result under `result_dir` equals `sql` on DuckDB,
    else a one-line reason."""
    files = glob.glob(f"{result_dir}/*.parquet")
    if not files:
        return "no result written"
    if sql is None:
        return "query has no DuckDB oracle"
    got = _canon(con.sql(f"SELECT * FROM '{result_dir}/*.parquet'").df())
    exp = _canon(con.sql(sql).df())
    if list(got.columns) != list(exp.columns):
        return f"columns differ: {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"row count {len(got)} vs {len(exp)}"
    for i in range(len(got)):
        for c in got.columns:
            if not vals_equal(got.iloc[i][c], exp.iloc[i][c]):
                return f"row {i} column {c}: {got.iloc[i][c]!r} vs {exp.iloc[i][c]!r}"
    return None


def check_analytic(run, tables_dir, results_dir):
    """Marks each op with `correct` and, if not, `why`; returns key → reason
    for the pool keys whose reference failed the oracle."""
    con = _connect(tables_dir)
    bad = {}
    ref = {}
    for op in run["ops"]:
        if op["pass"] == 0 and op["key"] not in ref:
            k = op["key"]
            if not op["ok"]:
                bad[k] = "reference execution failed: " + op.get("error", "")
                continue
            try:
                why = oracle_mismatch(con, os.path.join(results_dir, k), run["oracle"].get(k))
            except Exception as e:  # an unreadable result is a wrong result
                why = f"oracle compare failed: {str(e).splitlines()[0]}"
            if why:
                bad[k] = why
            ref[k] = op.get("digest")
    for op in run["ops"]:
        k = op["key"]
        if not op["ok"]:
            op["correct"], op["why"] = False, op.get("error", "threw")
        elif k in bad:
            op["correct"], op["why"] = False, bad[k]
        elif op.get("digest") != ref.get(k):
            op["correct"], op["why"] = False, "result differs from the checked reference"
        else:
            op["correct"] = True
    return bad


_LIVE_AT = "vfrom <= {w} AND (vto IS NULL OR vto > {w})"


def _expected(con, op):
    k = op["key"]
    if k == "changes":
        s = op["since"]
        return con.execute(f"""
            SELECT kind, w, count(*), CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE)
            FROM (SELECT 'delete' AS kind, vto AS w, l_quantity FROM t WHERE vto > {s}
                  UNION ALL
                  SELECT 'insert', vfrom, l_quantity FROM t WHERE vfrom > {s})
            GROUP BY ALL""").fetchall()
    live, value = "vto IS NULL", "l_quantity"
    if k == "snapshot":
        live = _LIVE_AT.format(w=op["at"])
    elif k == "band":
        live += (f" AND l_partkey BETWEEN {op['plo']} AND {op['phi']}"
                 f" AND l_suppkey >= {op['smin']}")
        value = "l_extendedprice"
    return con.execute(f"""
        SELECT l_returnflag, count(*), CAST(SUM(CAST({value} AS DECIMAL(30,8))) AS DOUBLE)
        FROM t WHERE {live} GROUP BY ALL""").fetchall()


def _apply(con, op, batches_dir):
    w, k = op["w"], op["key"]
    keys = "(l_orderkey, l_linenumber)"
    if k == "delete":
        con.execute(f"UPDATE t SET vto = {w} WHERE vto IS NULL "
                    f"AND l_orderkey BETWEEN {op['lo']} AND {op['hi']}")
    elif k in ("upsert", "merge"):
        con.execute(f"CREATE OR REPLACE TEMP TABLE b AS "
                    f"SELECT * FROM '{batches_dir}/{op['batch']}'")
        if k == "merge":  # update-only: unmatched batch rows are dropped
            con.execute(f"DELETE FROM b WHERE {keys} NOT IN "
                        f"(SELECT {keys} FROM t WHERE vto IS NULL)")
        con.execute(f"UPDATE t SET vto = {w} WHERE vto IS NULL "
                    f"AND {keys} IN (SELECT {keys} FROM b)")
        con.execute(f"INSERT INTO t SELECT *, {w}, NULL FROM b")


def _same_rows(got, exp):
    def key(r):
        return tuple(str(x) for x in r)
    got, exp = sorted(got, key=key), sorted(exp, key=key)
    return len(got) == len(exp) and all(
        len(g) == len(e) and all(vals_equal(x, y) for x, y in zip(g, e))
        for g, e in zip(got, exp))


def check_mor(run, data_dir):
    """Replays the run's operations in order; marks each op `correct`."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE TABLE t AS SELECT *, -1 AS vfrom, CAST(NULL AS INTEGER) AS vto "
                f"FROM '{data_dir}/tables/lineitem.parquet'")
    seq_to_w = {}
    for op in run["ops"]:
        if not op["ok"]:
            op["correct"], op["why"] = False, op.get("error", "threw")
            continue
        if op["kind"] == "write":
            _apply(con, op, os.path.join(data_dir, "batches"))
            seq_to_w[op["seq"]] = op["w"]
            op["correct"] = True
        elif op["kind"] == "compact":
            op["correct"] = True
        else:
            rows = op["rows"]
            if op["key"] == "changes":  # the feed names commits by sequence
                rows = [[r[0], seq_to_w.get(r[1], f"seq {r[1]}")] + r[2:] for r in rows]
            exp = [list(r) for r in _expected(con, op)]
            op["correct"] = _same_rows(rows, exp)
            if not op["correct"]:
                op["why"] = f"rows {sorted(rows)[:4]} vs expected {sorted(exp)[:4]}"
