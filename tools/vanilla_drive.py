"""Drive the queries() prefix the DRIVER'S way: a fresh process, a
VANILLA SparkSession (no engine conf — no Arrow toPandas, default
shuffle partitions, default broadcast threshold, system timezone),
importing ``__spark_entry__`` exactly like the driver does, and
hash-comparing against DuckDB with the same driver-faithful
canonicalizer as ``tools/oracle_check.py``.

``tools/oracle_check.py`` runs on ``session.get_spark()`` (Arrow on,
UTC pinned). The driver passes its OWN session, so any query whose
pandas dtypes depend on Arrow conversion (nullable ints -> float64
without Arrow) or on session conf would pass the local gate yet ship a
red driver row. This script is the insurance against that class.

Usage: python tools/vanilla_drive.py [--sf /root/testdata/sf0.01] [--n 50]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--n", type=int, default=50)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import duckdb
    from pyspark.sql import SparkSession

    from oracle_check import canon

    import __spark_entry__ as entry_mod
    from etl_generator_demo_spark.catalog import TABLES
    from etl_generator_demo_spark.registry import load_all

    # vanilla: what a driver that knows nothing about this engine builds
    spark = (
        SparkSession.builder.appName("vanilla-drive")
        .master("local[32]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )

    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{args.sf}/{name}.parquet')"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = args.names or list(qs)[: args.n]
    n_pass = n_fail = 0
    for name in names:
        t0 = time.time()
        try:
            s_pdf = qs[name](spark, args.sf).toPandas()
            s_cols, s_rows = canon(s_pdf)
        except Exception as e:
            print(f"FAIL {name}: spark/canon error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows-only {name}: {len(s_rows)} rows")
            continue
        try:
            d_cols, d_rows = canon(con.execute(oracles[name]).fetchdf())
        except Exception as e:
            print(f"FAIL {name}: duckdb/canon error: {e}")
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
            print(f"PASS {name}: {len(s_rows)} rows ({time.time() - t0:.1f}s)")
            n_pass += 1
    print(f"\nvanilla drive: {n_pass} pass, {n_fail} fail over {len(names)} queries")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
