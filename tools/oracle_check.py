#!/usr/bin/env python3
"""Local emulation of the driver's DuckDB oracle compare (t2).

Usage: oracle_check.py <sfDir> <verifyOutDir>

For each query in <verifyOutDir>/oracle_sql.json: run the SQL in DuckDB
with the sf parquet tables registered as views, load the Spark parquet
result, canonicalize both (columns sorted by name, rows sorted, doubles
rounded to 9 significant digits), and diff. When the rounded forms
differ, the rows are compared one by one with doubles within half a unit
of the ninth significant digit and column types equal: rounding first
reports two doubles one ulp apart as different when they straddle a
rounding boundary.
"""
import sys, json, glob, os
import duckdb
import pandas as pd
import numpy as np


def r9(x):
    if pd.isna(x) or x == 0: return x
    return float(f"{x:.9g}")


def canon(df, round_doubles=True):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].map(r9) if round_doubles else df[c].astype("float64")
        elif np.issubdtype(df[c].dtype, np.datetime64):
            df[c] = df[c].astype("datetime64[ms]").astype("int64")
        elif df[c].dtype == bool or str(df[c].dtype) == "boolean":
            df[c] = df[c].astype(bool)
        elif np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype("int64")
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def within_9_digits(x, y):
    """Elementwise over two float arrays: both NaN, equal once rounded to
    nine significant digits, or apart by at most half a unit of the ninth
    significant digit of the larger magnitude."""
    rounded = np.array([r9(v) for v in x]) == np.array([r9(v) for v in y])
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        half_unit = 0.5 * 10.0 ** (np.floor(np.log10(np.maximum(np.abs(x), np.abs(y)))) - 8)
        near = np.isfinite(x) & np.isfinite(y) & (np.abs(x - y) <= half_unit)
    return (np.isnan(x) & np.isnan(y)) | rounded | near


def agree_to_9_digits(a, b):
    """Row by row, doubles `within_9_digits` and every other value equal;
    rows are matched after sorting on the other columns first, then on
    the unrounded doubles. The caller has checked that the columns, their
    types and the row counts match."""
    a, b = canon(a, round_doubles=False), canon(b, round_doubles=False)
    doubles = [c for c in a.columns if np.issubdtype(a[c].dtype, np.floating)]
    keys = [c for c in a.columns if c not in doubles] + doubles
    a = a.sort_values(by=keys, kind="mergesort").reset_index(drop=True)
    b = b.sort_values(by=keys, kind="mergesort").reset_index(drop=True)
    for c in a.columns:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        ok = within_9_digits(x, y) if c in doubles else (x == y) | (pd.isna(x) & pd.isna(y))
        if not ok.all():
            return False
    return True


def compare(duck, spark):
    """None when the two results match, else the reason they do not."""
    a, b = canon(duck), canon(spark)
    if list(a.columns) != list(b.columns):
        return f"columns duck={list(a.columns)} spark={list(b.columns)}"
    if not a.dtypes.equals(b.dtypes):
        return f"types duck={a.dtypes.to_dict()} spark={b.dtypes.to_dict()}"
    if len(a) != len(b):
        return f"rows duck={len(a)} spark={len(b)}"
    if a.equals(b) or agree_to_9_digits(duck, spark):
        return None
    neq = (a != b) & ~(a.isna() & b.isna())
    bad_cols = [c for c in a.columns if neq[c].any()]
    msg = f"value mismatch in {bad_cols}"
    for c in bad_cols[:2]:
        idx = neq[c].idxmax()
        msg += f"\n   first diff col={c} row={idx}: duck={a[c][idx]!r} spark={b[c][idx]!r}"
    return msg


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for f in glob.glob(f"{sf_dir}/*.parquet"):
        name = os.path.basename(f).replace(".parquet", "")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    fails = 0
    for name, sql in sorted(oracle.items()):
        try:
            duck = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            fails += 1
            continue
        spark_files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not spark_files:
            print(f"FAIL {name}: no spark output")
            fails += 1
            continue
        spark = pd.concat([pd.read_parquet(f) for f in spark_files])
        err = compare(duck, spark)
        if err:
            print(f"FAIL {name}: {err}")
            fails += 1
            continue
        print(f"OK   {name} ({len(duck)} rows)")
    print(f"\n{len(oracle) - fails}/{len(oracle)} match")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
