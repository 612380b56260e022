"""Correctness check for one benchmark run, outside its timed window.

Each core query's warm-pass result is compared with DuckDB running the
query's `SparkEntry.oracleSql` on the same generated tables, normalised
as the repository's `tools/check.py` does: columns sorted by name, rows
sorted, column types equal, floats equal or within 1e-9 relative. The
rows-only queries (no oracle SQL) are held to their
`SparkEntry.auditFloors` audit column instead.
"""
import glob
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _norm(x):
    return "NaN" if isinstance(x, float) and math.isnan(x) else x


def _rows(rel):
    cols = sorted(rel.columns)
    recs = rel.df()[cols].values.tolist()
    return cols, sorted((tuple(_norm(c) for c in r) for r in recs),
                        key=lambda t: tuple(str(c) for c in t))


def _close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if a == b or (a != a and b != b):
            return True
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def _compare(con, result_glob, sql):
    res = con.sql(f"SELECT * FROM '{result_glob}'")
    exp = con.sql(sql)
    rtypes = dict(zip(res.columns, map(str, res.types)))
    etypes = dict(zip(exp.columns, map(str, exp.types)))
    if rtypes != etypes:
        return f"column types differ: result {rtypes} vs oracle {etypes}"
    rcols, rrows = _rows(res)
    _, erows = _rows(exp)
    if len(rrows) != len(erows):
        return f"{len(rrows)} rows vs oracle {len(erows)}"
    for i, (rr, er) in enumerate(zip(rrows, erows)):
        for j, (a, b) in enumerate(zip(rr, er)):
            if not _close(a, b):
                return f"row {i} column {rcols[j]}: {a!r} vs oracle {b!r}"
    return None


def _audit(con, result_glob, floor):
    col, bound, at_least = floor["column"], floor["bound"], floor["at_least"]
    n, lo, hi = con.sql(
        f"SELECT count(*), min({col}), max({col}) FROM '{result_glob}'").fetchone()
    if n == 0:
        return "no rows"
    worst = lo if at_least else hi
    if worst is None or (worst < bound if at_least else worst > bound):
        return f"audit {col}={worst} outside {'>=' if at_least else '<='} {bound}"
    return None


def check(data_dir, results_dir, queries, oracle_sql, audit_floors):
    """Returns {query: None if correct, else the reason it is not}."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    verdict = {}
    for q in queries:
        files = os.path.join(results_dir, q, "*.parquet")
        if not glob.glob(files):
            verdict[q] = "no result written"
            continue
        try:
            if q in oracle_sql:
                verdict[q] = _compare(con, files, oracle_sql[q])
            elif q in audit_floors:
                verdict[q] = _audit(con, files, audit_floors[q])
            else:
                verdict[q] = "neither oracle SQL nor audit floor"
        except Exception as e:  # a query the oracle cannot read is a miss
            verdict[q] = f"check failed: {e}"
    con.close()
    return verdict
