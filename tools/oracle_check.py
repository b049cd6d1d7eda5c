"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every registered query's Spark DataFrame AND its oracle SQL via
DuckDB over the same parquet views, then compares row count, schema
(column names), and a value hash — **the driver's way**:

- both results are fetched as *pandas* frames (`toPandas` /
  `fetchdf`), so engine-level dtypes survive (DuckDB HUGEINT ->
  float64, Spark long -> int64: a mismatch here is a FAIL, exactly
  as the driver hashes it — see round-3 reds x4_sequence_packing etc.);
- rows are canonicalized via pandas ``sort_values`` over the
  name-sorted columns, which **raises on array/list cells** exactly
  like the driver's `_canon` (round-3 reds x3_label_centroids /
  a_collect_sets: `unhashable type: 'list'`);
- values are compared EXACTLY (no float tolerance): `480` vs `480.0`
  is a FAIL, and differing float bit-patterns are a FAIL.

Round-2/3 shipped red driver rows because the previous version of this
gate was laxer than the driver (tuple-ized lists, rel_tol=1e-9). Keep
this file at least as strict as the driver.

Usage: python tools/oracle_check.py [--sf /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import datetime as dt
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

sys.path.insert(0, ROOT)

import numpy as np
import pandas as pd


def _cell(v):
    """Canonical exact string for one cell. Distinguishes int vs float
    (the driver's hash does — pandas dtypes differ), collapses NULL/NaN
    (both engines surface missing as NaN in pandas), normalizes
    temporal types to isoformat. Raises TypeError on array-typed cells
    like the driver's canonicalizer."""
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (list, tuple, set, dict, np.ndarray)):
        raise TypeError(
            f"array-typed result cell ({type(v).__name__}): the driver's "
            "canonicalizer cannot hash this — emit a CSV/JSON string column"
        )
    if isinstance(v, (bool, np.bool_)):
        return f"b:{bool(v)}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if f != f:  # NaN == NULL in a pandas float column
            return "NULL"
        return f"f:{f!r}"
    if isinstance(v, pd.Timestamp):
        if v is pd.NaT:
            return "NULL"
        v = v.to_pydatetime().replace(tzinfo=None)
    if isinstance(v, dt.datetime):
        v = v.replace(tzinfo=None)
        # DuckDB 1.0 fetchdf maps DATE -> datetime64 (midnight), while
        # Spark keeps datetime.date objects; driver records show date
        # queries hashing green, so midnight-normalize both sides
        if v.time() == dt.time(0, 0):
            return f"d:{v.date().isoformat()}"
        return f"t:{v.isoformat()}"
    if isinstance(v, dt.date):
        return f"d:{v.isoformat()}"
    if v is pd.NaT:
        return "NULL"
    return f"s:{v}"


def canon(df: pd.DataFrame):
    """Driver-faithful canonical form: name-sort the columns, row-sort
    via pandas sort_values over ALL columns (throws on unhashable
    cells), then exact per-cell strings."""
    cols = sorted(df.columns)
    df = df[cols]
    if len(df):
        df = df.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    rows = [tuple(_cell(v) for v in row) for row in df.itertuples(index=False, name=None)]
    return cols, rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import duckdb

    from etl_generator_demo_spark.registry import load_all
    from etl_generator_demo_spark.session import get_spark
    from etl_generator_demo_spark.catalog import TABLES

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{args.sf}/{name}.parquet')"
        )

    registry = load_all()
    names = args.names or list(registry)
    n_pass = n_fail = n_rows_only = 0
    for name in names:
        rq = registry[name]
        t0 = time.time()
        try:
            sdf = rq.fn(spark, args.sf)
            s_pdf = sdf.toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        spark_t = time.time() - t0
        if rq.oracle is None:
            try:
                canon(s_pdf)  # still enforce hashability for rows-only queries
            except Exception as e:
                print(f"FAIL {name}: rows-only result not canonicalizable: {e}")
                n_fail += 1
                continue
            print(f"rows-only {name}: {len(s_pdf)} rows ({spark_t:.1f}s)")
            n_rows_only += 1
            continue
        try:
            d_pdf = con.execute(rq.oracle).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        try:
            s_cols, s_rows = canon(s_pdf)
        except Exception as e:
            print(f"FAIL {name}: spark result not canonicalizable (driver would err): {e}")
            n_fail += 1
            continue
        try:
            d_cols, d_rows = canon(d_pdf)
        except Exception as e:
            print(f"FAIL {name}: oracle result not canonicalizable (driver would err): {e}")
            n_fail += 1
            continue
        problems = []
        if s_cols != d_cols:
            problems.append(f"schema: spark={s_cols} duck={d_cols}")
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount: spark={len(s_rows)} duck={len(d_rows)}")
        if not problems and s_rows != d_rows:
            diffs = [(a, b) for a, b in zip(s_rows, d_rows) if a != b]
            problems.append(f"values: {len(diffs)} diffs, first: {diffs[0]}")
        if problems:
            print(f"FAIL {name}: " + " | ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name}: {len(s_rows)} rows ({spark_t:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
