"""Output checks for the benchmark: a query's Spark result against its
DuckDB oracle (`SparkEntry.oracleSql`), compared the way tools/check.py
does (columns by name, rows sorted, floats at 6 decimals)."""
import datetime
import decimal
import glob
import math

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(v):
    if v is None:
        return "null"
    if isinstance(v, float):
        return "null" if math.isnan(v) else f"{round(v, 6):.6f}"
    if isinstance(v, decimal.Decimal):
        return f"{round(float(v), 6):.6f}"
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if hasattr(v, "item"):
        return _canon(v.item())
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        return str([_canon(x) for x in list(v)])
    return str(v)


def _rows(df):
    cols = sorted(df.columns, key=str.lower)
    df = df[cols]
    return [c.lower() for c in cols], sorted(
        tuple(_canon(v) for v in row) for row in df.itertuples(index=False, name=None))


def _connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads=4")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def compare(data_dir, sql, out_dir):
    """None when the Spark output in out_dir equals the oracle, else why not."""
    if not glob.glob(f"{out_dir}/*.parquet"):
        return "no spark result written"
    got = pd.read_parquet(out_dir)
    con = _connect(data_dir)
    try:
        exp = con.sql(sql).df()
    finally:
        con.close()
    gc, gr = _rows(got)
    ec, er = _rows(exp)
    if gc != ec:
        return f"columns differ: spark={gc} duckdb={ec}"
    if len(gr) != len(er):
        return f"row count: spark={len(gr)} duckdb={len(er)}"
    bad = [(x, y) for x, y in zip(gr, er) if x != y]
    if bad:
        return f"{len(bad)}/{len(gr)} rows differ; first: spark={bad[0][0]} duckdb={bad[0][1]}"
    return None

