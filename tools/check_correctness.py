"""Local mimic of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB (same parquet views), compares row count, column-name set and
an order-insensitive value multiset. Usage:

    python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd


def canon(df: pd.DataFrame) -> tuple:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            df[c] = col.astype("datetime64[us]").astype(str)
        elif col.dtype == object:
            df[c] = col.astype(str)
        elif pd.api.types.is_float_dtype(col):
            df[c] = col.astype("float64")
        elif pd.api.types.is_integer_dtype(col):
            df[c] = col.astype("int64")
        elif pd.api.types.is_bool_dtype(col):
            df[c] = col.astype(bool)
    rows = sorted(map(tuple, df.itertuples(index=False, name=None)), key=repr)
    return tuple(df.columns), rows


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from gdal_spark.session import get_spark

    spark = get_spark(app_name="check_correctness", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in entry_mod.TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        print(f"unknown query names: {sorted(unknown)}")
        return 2
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark raised")
            traceback.print_exc()
            failed.append(name)
            continue
        try:
            want = con.sql(oracles[name]).df()
        except Exception:
            print(f"FAIL {name}: duckdb raised")
            traceback.print_exc()
            failed.append(name)
            continue
        gc, gr = canon(got)
        wc, wr = canon(want)
        if gc != wc:
            print(f"FAIL {name}: columns {gc} vs {wc}")
            failed.append(name)
            continue
        if len(gr) != len(wr):
            print(f"FAIL {name}: rows {len(gr)} vs {len(wr)}")
            failed.append(name)
            continue
        if gr != wr:
            bad = [i for i, (a, b) in enumerate(zip(gr, wr)) if a != b][:3]
            print(f"FAIL {name}: values differ; first diffs at {bad}")
            for i in bad:
                print(f"  spark : {gr[i]}")
                print(f"  duckdb: {wr[i]}")
            failed.append(name)
            continue
        print(f"ok   {name}: {len(gr)} rows exact")
    print(f"\n{len(failed)} failing: {failed}" if failed else "\nALL OK")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
