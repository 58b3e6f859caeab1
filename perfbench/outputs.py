"""Output checks: DuckDB oracles for registry queries, and a DuckDB replay
of the hiveql_dml statement log.

Results compare the way the repository's oracle gate compares them:
columns sorted by name, every value stringified, rows sorted, exact
match.
"""
import glob
import itertools
import json
import os
import sys

import pandas as pd

sys.path.append(os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))


def duck(data_dir, tmp_dir):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET threads = 2")
    for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
    return con


def oracle(con, out_dir, sql):
    """None when the Spark output in out_dir equals the oracle's result."""
    from check import norm   # tools/check.py, the repository's oracle gate
    files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    if not files:
        return "no output written"
    got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    want = con.execute(sql).df()
    a, b = norm(got), norm(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs oracle {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows vs oracle {len(b)}"
    if len(a) and not a.equals(b):
        i = (a != b).any(axis=1).idxmax()
        return f"row differs: {a.loc[i].to_dict()} vs oracle {b.loc[i].to_dict()}"
    return None


def _rows(names, tuples):
    def c(v):
        if isinstance(v, bool) or v is None:
            return v
        if isinstance(v, (int, float)):
            return repr(float(v))
        return str(v)
    return sorted(tuple(c(dict(zip(names, t))[k]) for k in sorted(names))
                  for t in tuples)


def replay(con, op, spark_result):
    """Run the op's DuckDB statements. Returns (error, rows changed): the
    error is set when a SELECT's rows differ from Spark's."""
    changed = 0
    for stmt in op.duck:
        res = con.execute(stmt)
        rows = res.fetchall() if res.description else []
        if not op.read and len(rows) == 1 and len(rows[0]) == 1 \
                and isinstance(rows[0][0], int):
            changed += rows[0][0]
    if not op.read:
        return None, changed
    names = [d[0] for d in res.description]
    want = _rows(names, rows)
    spark = [json.loads(r) for r in spark_result]
    got = _rows(names, [tuple(r.get(n) for n in names) for r in spark])
    if got != want:
        first = next(p for p in itertools.zip_longest(got, want) if p[0] != p[1])
        return f"{len(got)} rows vs replay {len(want)}; first difference {first}", changed
    return None, changed


def table_diff(con, dump_dir, table):
    """None when Spark's final table equals the replayed one (as bags)."""
    con.execute(f"CREATE OR REPLACE VIEW spark_{table} AS "
                f"SELECT * FROM '{dump_dir}/*.parquet'")
    cols = sorted(r[0] for r in con.execute(f"DESCRIBE {table}").fetchall())
    scols = sorted(r[0] for r in con.execute(f"DESCRIBE spark_{table}").fetchall())
    if cols != scols:
        return f"{table}: columns {scols} vs replay {cols}"
    sel = ", ".join(cols)
    extra = con.execute(f"SELECT count(*) FROM (SELECT {sel} FROM spark_{table} "
                        f"EXCEPT ALL SELECT {sel} FROM {table})").fetchone()[0]
    missing = con.execute(f"SELECT count(*) FROM (SELECT {sel} FROM {table} "
                          f"EXCEPT ALL SELECT {sel} FROM spark_{table})").fetchone()[0]
    if extra or missing:
        return f"{table}: {extra} rows only in Spark, {missing} only in the replay"
    return None
