"""DuckDB oracle check of the OLAP check pass.

Each query's Spark result (one parquet dir per query) is compared with
SparkEntry.oracleSql run in DuckDB over the same tables, with
tools/check.py's canonicalization (columns by name, rows sorted, floats
rounded, approx equality) and its dtype classes. The oracle's answer
depends only on its SQL and the input files, so it is cached on disk
keyed by both; the Spark side is compared on every run.
"""
import hashlib
import os
import pickle
import sys

import duckdb

INTS = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT",
        "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"}


def tclass(t):
    return "INT" if t.upper() in INTS else t.upper()


def data_stamp(sf, tables):
    parts = []
    for t in tables:
        p = os.path.join(sf, f"{t}.parquet")
        st = os.stat(p)
        parts.append(f"{t}:{st.st_size}:{st.st_mtime_ns}")
    return ";".join(parts)


def expected(con, sql, cache_dir, stamp):
    key = hashlib.sha256(
        f"{duckdb.__version__}\n{stamp}\n{sql}".encode()).hexdigest()
    path = os.path.join(cache_dir, key + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as fh:
            return pickle.load(fh)
    exp = con.execute(sql)
    cols = [d[0] for d in exp.description]
    rows = exp.fetchall()
    types = [tclass(t) for _, t in sorted((r[0], r[1])
                                          for r in con.execute(f"DESCRIBE {sql}").fetchall())]
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "wb") as fh:
        pickle.dump((cols, rows, types), fh)
    os.replace(tmp, path)
    return cols, rows, types


def compare(check, con, got_dir, exp):
    """None when the Spark result matches, else the reason."""
    src = f"read_parquet('{got_dir}/*.parquet')"
    got = con.execute(f"SELECT * FROM {src}")
    gcols = [d[0] for d in got.description]
    gc, gr = check.canon(got.fetchall(), gcols)
    ecols, erows, etypes = exp
    ec, er = check.canon(erows, ecols)
    if gc != ec:
        return f"schema {gc} != {ec}"
    gtypes = [tclass(t) for _, t in sorted((r[0], r[1])
                                           for r in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall())]
    if gtypes != etypes:
        return f"dtypes {list(zip(gc, gtypes))} != {list(zip(ec, etypes))}"
    if len(gr) != len(er):
        return f"rows {len(gr)} != {len(er)}"
    for i, (a, b) in enumerate(zip(gr, er)):
        if a != b and not all(check.approx_eq(x, y) for x, y in zip(a, b)):
            return f"row {i}: spark={a} duck={b}"
    return None


def run(root, sf, outdir, oracle_sql, cache_dir):
    """Returns {query: None | reason}."""
    sys.path.insert(0, os.path.join(root, "tools"))
    import check
    con = duckdb.connect()
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    stamp = data_stamp(sf, check.TABLES)
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            if not sql:
                raise ValueError("no oracle SQL")
            exp = expected(con, sql, cache_dir, stamp)
            out[name] = compare(check, con, os.path.join(outdir, name), exp)
        except Exception as e:  # a query that cannot be checked fails
            out[name] = f"exec error: {e}"
    return out
