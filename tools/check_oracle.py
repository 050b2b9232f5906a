"""Local replica of the driver's t2 correctness harness.

Runs each registered query on Spark and its DuckDB oracle on the same
parquet, compares row count / column names / values (order-insensitive,
exact with a float-tolerance diagnostic). Stricter than the driver's
value-hash: exact equality after the queries' own rounding discipline.

Usage: python tools/check_oracle.py [--sf DIR] [--cpus N] [names...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd


def duck_con(sf_dir: str):
    con = duckdb.connect()
    from spark_lineage_spark.tables import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, canonicalize cell values, sort rows."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).astype("datetime64[us]").astype(str)
        elif s.dtype == object:
            df[c] = s.map(_canon_obj)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype(float)
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype(object)
        else:
            try:
                df[c] = s.astype("int64", errors="ignore")
            except Exception:
                pass
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="last")
    return df.reset_index(drop=True)


def _canon_obj(v):
    import datetime
    import decimal

    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, np.ndarray)):
        return str([_canon_obj(x) for x in v])
    if isinstance(v, (datetime.datetime, pd.Timestamp)):
        return str(pd.Timestamp(v).floor("us"))
    if isinstance(v, datetime.date):
        # driver-visible drift: Spark DATE -> datetime.date, DuckDB DATE
        # -> datetime64; queries should emit ISO strings instead
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    return v


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if sc != dc:
        problems.append(f"columns spark={sc} duck={dc}")
        return problems
    # dtype-kind drift (int vs float vs object) stringifies differently
    # in a driver-style value hash — treat as failure
    for c in sorted(spark_pdf.columns):
        ka = spark_pdf[c].dtype.kind
        kb = duck_pdf[c].dtype.kind
        norm = lambda k: {"i": "i", "u": "i", "f": "f", "M": "M", "b": "b"}.get(k, "O")
        if norm(ka) != norm(kb):
            problems.append(f"col {c}: dtype kind spark={spark_pdf[c].dtype} duck={duck_pdf[c].dtype}")
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    if len(a) != len(b):
        return problems
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) and pd.api.types.is_float_dtype(bv):
            both_nan = av.isna() & bv.isna()
            eq = (av == bv) | both_nan
            if not eq.all():
                close = np.isclose(av.fillna(0), bv.fillna(0), rtol=1e-9, atol=1e-9) | both_nan
                n_bad = int((~eq).sum())
                if close.all():
                    maxd = float((av.fillna(0) - bv.fillna(0)).abs().max())
                    problems.append(f"col {c}: {n_bad} float diffs within 1e-9 (max {maxd:.2e}) — WOULD FAIL exact hash")
                else:
                    idx = int(np.argmax(~(eq | close)))
                    problems.append(
                        f"col {c}: {n_bad} diffs, e.g. row {idx}: spark={av.iloc[idx]} duck={bv.iloc[idx]}"
                    )
        else:
            eq = (av == bv) | (av.isna() & bv.isna())
            if not eq.all():
                idx = int(np.argmax(~eq.values))
                problems.append(
                    f"col {c}: {int((~eq).sum())} diffs, e.g. row {idx}: spark={av.iloc[idx]!r} duck={bv.iloc[idx]!r}"
                )
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--cpus", type=int,
        default=int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4)),
    )
    args = ap.parse_args()

    from spark_lineage_spark.registry import load_all
    from spark_lineage_spark.session import build_spark

    specs = load_all()
    names = args.names or list(specs)
    unknown = [n for n in names if n not in specs]
    if unknown:
        print("unknown queries:", unknown)
        sys.exit(2)

    spark = build_spark("check_oracle", cpus=args.cpus)
    con = duck_con(args.sf)

    n_pass = n_fail = n_rows_only = 0
    for name in names:
        spec = specs[name]
        t0 = time.time()
        try:
            sdf = spec.builder(spark, args.sf).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if spec.oracle is None:
            print(f"ROWS  {name}: rows={len(sdf)} cols={sorted(sdf.columns)} ({time.time()-t0:.1f}s)")
            n_rows_only += 1
            continue
        try:
            ddf = con.execute(spec.oracle).fetchdf()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            print(f"FAIL  {name} ({time.time()-t0:.1f}s)")
            for p in problems[:6]:
                print(f"      - {p}")
            n_fail += 1
        else:
            print(f"PASS  {name}: rows={len(sdf)} ({time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n== {n_pass} pass, {n_fail} fail, {n_rows_only} rows-only ==")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
