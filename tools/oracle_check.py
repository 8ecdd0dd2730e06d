"""Local replica of the driver's t2 correctness gate.

Runs every suite query on Spark and its oracle SQL on DuckDB over the same
parquet tables, then compares row count, schema shape, and exact values
(order-insensitive: columns sorted by name, rows sorted by all columns).

Usage:
    PYTHONPATH=/root/repo python tools/oracle_check.py [--sf DIR] [names...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vtb_datafusion_2023_spark.schema import TESTDATA_TABLES  # noqa: E402


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"create view {t} as select * from '{path}'")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, coerce comparable dtypes, sort rows.

    Integer columns stay integer (int64) — the driver's value-hash
    distinguishes ``10000`` from ``10000.0``, and the old int->float64
    coercion here masked exactly that divergence twice on
    ``tbl_key_skew`` (DuckDB ``sum(BIGINT)`` returns HUGEINT, which
    pandas materializes as float64).  ``compare`` now flags an
    int-vs-float dtype split as a mismatch, same as the driver.
    """
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        k = df[c].dtype.kind
        if k == "f":
            df[c] = df[c].astype("float64")
        elif k == "u":
            # uint values above int64 max would WRAP under astype("int64")
            # (numpy doesn't raise), potentially faking a match — compare
            # oversized unsigned columns as exact decimal strings instead.
            if len(df) and df[c].max() > np.iinfo(np.int64).max:
                df[c] = df[c].astype("string")
            else:
                df[c] = df[c].astype("int64")
        elif k == "i":
            df[c] = df[c].astype("int64")
        elif k == "M":
            df[c] = df[c].astype("datetime64[us]")
        elif k == "b":
            pass  # bool stays bool; a bool-vs-int split is a real mismatch
        else:
            df[c] = df[c].astype("string")
    if len(df):
        df = df.sort_values(by=list(df.columns), na_position="last", kind="mergesort")
    return df.reset_index(drop=True)


def compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> dict:
    rep: dict = {"rows": (len(spark_pdf), len(oracle_pdf))}
    rep["rows_ok"] = len(spark_pdf) == len(oracle_pdf)
    sc, oc = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    rep["cols_ok"] = sc == oc
    if not rep["cols_ok"]:
        rep["cols"] = {"spark_only": sorted(set(sc) - set(oc)), "oracle_only": sorted(set(oc) - set(sc))}
        rep["ok"] = False
        return rep
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    if not rep["rows_ok"]:
        rep["ok"] = False
        return rep
    bad: dict = {}
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind != bv.dtype.kind:
            # Mirrors the driver's hash: int64 10000 != float64 10000.0.
            bad[c] = {"dtype_mismatch": (str(av.dtype), str(bv.dtype))}
            continue
        if av.dtype.kind == "f":
            x, y = av.to_numpy(), bv.to_numpy()
            exact = np.array_equal(x, y, equal_nan=True)
            if not exact:
                with np.errstate(invalid="ignore"):
                    d = np.abs(x - y)
                d = d[~np.isnan(d)]
                bad[c] = {"maxdiff": float(d.max()) if len(d) else "nan-mismatch"}
        else:
            # (av == bv) is <NA> when exactly one side is null — pandas
            # nullable-boolean .any() would SKIP those, silently masking
            # null-vs-value mismatches (e.g. DuckDB NULL vs Spark '').
            # Treat NA equality as False so one-sided nulls count.
            eq = (av == bv).fillna(False) | (av.isna() & bv.isna())
            neq = ~eq
            if neq.any():
                i = int(np.argmax(neq.to_numpy()))
                bad[c] = {"n_mismatch": int(neq.sum()), "first": (str(av.iloc[i]), str(bv.iloc[i]))}
    rep["value_mismatches"] = bad
    rep["ok"] = not bad
    return rep


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from vtb_datafusion_2023_spark.session import get_spark
    from vtb_datafusion_2023_spark.suite import REGISTRY, queries
    from vtb_datafusion_2023_spark.suite.inference import missing_reference_artifacts

    queries()  # force-load registry
    names = args.names or sorted(REGISTRY)
    spark = get_spark(cpus=args.cpus)
    con = duck_connect(args.sf)

    n_pass = n_fail = n_absent = 0
    for name in names:
        spec = REGISTRY[name]
        missing = missing_reference_artifacts(name)
        if missing:
            print(f"SKIP {name}: reference artifact(s) absent: {', '.join(missing)}")
            n_absent += 1
            continue
        t0 = time.time()
        try:
            sdf = spec.fn(spark, args.sf).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        if spec.oracle is None:
            print(f"SKIP {name}: no oracle (rows-only) — spark rows={len(sdf)} [{time.time()-t0:.1f}s]")
            n_pass += 1
            continue
        try:
            odf = con.execute(spec.oracle).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: oracle error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        rep = compare(sdf, odf)
        if rep["ok"]:
            print(f"PASS {name}: rows={rep['rows'][0]} [{time.time()-t0:.1f}s]")
            n_pass += 1
        else:
            print(f"FAIL {name}: {rep}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_absent} skipped for absent artifacts")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
