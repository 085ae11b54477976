"""Query output check: each Spark result against DuckDB running the
query's oracle SQL (`SparkEntry.oracleSql`) over the same tables.

Both sides are normalised the way tools/check.py does it: columns sorted
by name, timestamps as strings, floats rounded to 9 places, integer
widths unified, rows sorted."""
import glob
import os

import duckdb
import pandas as pd

from gen_tables import TABLES


def norm(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(9)
        elif str(df[c].dtype) in ("int32", "int64", "Int32", "Int64", "uint32"):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def same(spark_df, oracle_df):
    a, b = norm(spark_df), norm(oracle_df)
    if len(a) != len(b) or list(a.columns) != list(b.columns):
        return False
    try:
        return bool(a.equals(b) or (a.fillna("<NA>") == b.fillna("<NA>")).all().all())
    except (TypeError, ValueError):
        return False


def compare(tables_dir, results_dir, oracle_sql):
    """Names (with a reason) of the queries whose result differs."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    bad = []
    for name, sql in sorted(oracle_sql.items()):
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        if not files:
            bad.append(f"{name}: no result written")
            continue
        try:
            got = con.execute(f"SELECT * FROM parquet_scan({files!r})").df()
            want = con.execute(sql).df()
        except duckdb.Error as e:
            bad.append(f"{name}: oracle error {e}")
            continue
        if not same(got, want):
            bad.append(f"{name}: result differs from the oracle "
                       f"({len(got)} rows, oracle {len(want)})")
    return bad
