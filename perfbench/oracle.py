"""Output checks: DuckDB runs each query's oracle SQL over the same
fixture and the Spark result must match it exactly after
scripts/oracle_check.py's normalisation (columns sorted by name, rows by
every column, dtypes canonicalised); the MapReduce outputs must match the
counts the corpus generator recorded."""
import glob
import hashlib
import os
import sys

import duckdb
import pandas as pd
import pyarrow.parquet as pq

# the repo's own Spark-vs-DuckDB comparison rules: table list and normalisation
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "scripts"))
from oracle_check import TABLES, norm  # noqa: E402


def expected(fixture, name, sql):
    """Oracle result of `sql`, computed once per fixture and cached next
    to it (the file name carries a hash of the SQL)."""
    tag = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(fixture, "oracle", f"{name}-{tag}.parquet")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(fixture, t)}.parquet')")
            table = con.sql(sql).arrow()
        finally:
            con.close()
        pq.write_table(table, path + ".tmp")
        os.replace(path + ".tmp", path)
    return pd.read_parquet(path)


def compare(got_dir, exp):
    """None when the parquet output under `got_dir` equals `exp`, else a
    one-line reason."""
    files = sorted(glob.glob(os.path.join(got_dir, "*.parquet")))
    if not files:
        return "no output"
    got = norm(pd.concat([pd.read_parquet(f) for f in files]))
    exp = norm(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    for c in got.columns:
        a, b = got[c], exp[c]
        if str(a.dtype).startswith("float") or str(b.dtype).startswith("float"):
            same = ((a.isna() & b.isna()) | (a == b)).all()
        else:
            same = a.equals(b)
        if not same:
            return f"values differ in column {c}"
    return None


def mr_lines(out_dir):
    """The `key value` lines of a MapReduce text output, as a dict."""
    files = glob.glob(os.path.join(out_dir, "part-*"))
    if not files:
        return None
    rows = {}
    for f in files:
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                k, _, v = line.rstrip("\n").partition(" ")
                rows[k] = v
    return rows


def check_mr(out_dir, app, counts, docs):
    got = mr_lines(out_dir)
    if got is None:
        return "no output"
    if app == "wc":
        want = {w: str(c) for w, c in counts.items()}
    else:
        want = {w: f"{len(d)} {','.join(d)}" for w, d in docs.items()}
    if len(got) != len(want):
        return f"keys {len(got)} != {len(want)}"
    bad = [k for k, v in want.items() if got.get(k) != v]
    return f"{len(bad)} keys differ, e.g. {bad[0]!r}" if bad else None
