"""DuckDB oracle for curation-batch results.

Compares each query's Spark result (a parquet directory written by the
harness) with DuckDB's answer to the query's registered oracle SQL over
the same input tables, by the rules of the repo's local checker: the
same column names, the same DuckDB dtypes, and exactly the same rows
once columns are put in name order and rows are sorted.
"""
import glob
import json
import math
import os

import duckdb


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return 0.0  # -0.0 == 0.0
        return v
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _key(row):
    return tuple((str(type(v)), str(_norm(v))) for v in row)


def connect(data_dir):
    """A DuckDB connection with one view per input table in `data_dir`."""
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    return con


def compare(con, files, sql):
    """(ok, detail) for Spark output `files` against oracle `sql`."""
    if not files:
        return False, "no spark output"
    got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchall()
    got_cols = [d[0] for d in con.description]
    exp = con.execute(sql).fetchall()
    exp_cols = [d[0] for d in con.description]
    if sorted(got_cols) != sorted(exp_cols):
        return False, f"cols {sorted(got_cols)} != {sorted(exp_cols)}"
    gtypes = dict((r[0], r[1]) for r in con.execute(
        f"DESCRIBE SELECT * FROM read_parquet({files!r})").fetchall())
    etypes = dict((r[0], r[1]) for r in con.execute(f"DESCRIBE {sql}").fetchall())
    bad = [(c, gtypes[c], etypes[c]) for c in sorted(gtypes) if gtypes[c] != etypes[c]]
    if bad:
        return False, "dtype drift: " + ", ".join(f"{c}: {g} != {e}" for c, g, e in bad)
    gi = [got_cols.index(c) for c in sorted(got_cols)]
    ei = [exp_cols.index(c) for c in sorted(exp_cols)]
    g = sorted(_key([r[i] for i in gi]) for r in got)
    e = sorted(_key([r[i] for i in ei]) for r in exp)
    if len(g) != len(e):
        return False, f"rows {len(g)} != {len(e)}"
    diff = [i for i, (a, b) in enumerate(zip(g, e)) if a != b]
    if diff:
        return False, f"{len(diff)}/{len(g)} rows differ; first spark={g[diff[0]]} duck={e[diff[0]]}"
    return True, f"{len(g)} rows"


def check_all(out_dir, data_dir):
    """{query: (ok, detail)} for every query in out_dir/oracle_sql.json."""
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = connect(data_dir)
    res = {}
    for name, sql in sorted(oracle.items()):
        files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
        try:
            res[name] = compare(con, files, sql)
        except duckdb.Error as e:
            res[name] = (False, f"oracle error: {e}")
    return res
