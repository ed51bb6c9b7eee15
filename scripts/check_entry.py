"""Local replica of the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB at a given sf
dir, compare row count, schema (column names), and order-insensitive
values. Reports per-query PASS/FAIL + timing."""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

# this checkout, not whichever copy is installed or first on the path
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from ffcl_spark import get_spark  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(drop=True)


def compare(a: pd.DataFrame, b: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(a.columns) != sorted(b.columns):
        return [f"schema: {sorted(a.columns)} vs {sorted(b.columns)}"]
    if len(a) != len(b):
        problems.append(f"rows: {len(a)} vs {len(b)}")
        return problems
    a, b = normalize(a), normalize(b)
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if np.issubdtype(av.dtype, np.floating) or np.issubdtype(bv.dtype, np.floating):
            av = av.astype(np.float64)
            bv = bv.astype(np.float64)
            if not np.array_equal(av, bv, equal_nan=True):
                bad = np.nonzero(av != bv)[0]
                mx = np.nanmax(np.abs(av - bv))
                problems.append(f"col {c}: {len(bad)} value diffs (max {mx:.3e})")
        else:
            if not (av.astype(str) == bv.astype(str)).all():
                bad = (av.astype(str) != bv.astype(str)).sum()
                problems.append(f"col {c}: {bad} value diffs")
    return problems


def main(sf_dir: str, only: set[str] | None):
    spark = get_spark(app_name="check_entry", master="local[16]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = E.queries()
    oracles = E.oracle_sql()
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        # drop caches leaked by the previous gate's internal persists —
        # without this, cached partitions accumulate across the suite
        # and the tail gates run under growing heap/GC pressure
        spark.catalog.clearCache()
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            results[name] = f"SPARK ERROR: {ex}"
            print(f"{name:18s} SPARK ERROR: {str(ex)[:200]}", flush=True)
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            results[name] = f"rows-only ({len(sdf)} rows)"
            print(f"{name:18s} rows-only: {len(sdf)} rows  [spark {t_spark:.1f}s]", flush=True)
            continue
        t0 = time.time()
        try:
            odf = con.cursor().sql(oracles[name]).df()
        except Exception as ex:
            results[name] = f"ORACLE ERROR: {ex}"
            print(f"{name:18s} ORACLE ERROR: {str(ex)[:200]}", flush=True)
            continue
        t_oracle = time.time() - t0
        problems = compare(sdf, odf)
        status = "PASS" if not problems else "FAIL " + "; ".join(problems)
        results[name] = status
        print(f"{name:18s} {status}  ({len(sdf)} rows) [spark {t_spark:.1f}s duck {t_oracle:.1f}s]", flush=True)
    n_fail = sum(1 for v in results.values() if "FAIL" in v or "ERROR" in v)
    print(f"\n{len(results)} checked, {n_fail} failing")
    spark.stop()
    return n_fail


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    sys.exit(1 if main(sf, only) else 0)
