"""Audit Spark-vs-DuckDB pandas dtype KIND parity for every ORACLE query.

The real driver hashes through pandas: DuckDB HUGEINT (e.g. an uncast
SUM over BIGINT) lands as float64 while Spark's bigint lands as int64,
and the value hash diverges even when the values are identical.
fetchall()-based comparison (old driver_sim) cannot see this. This
script runs both sides at a small SF and reports any column whose
pandas dtype *kind* (i/u vs f vs O/b/M) differs.

Usage: python scripts/dtype_audit.py [--sf-dir /root/testdata/sf0.001] [names...]
"""

from __future__ import annotations

import argparse
import os
import sys

import duckdb
from pyspark.sql import SparkSession

KIND_GROUP = {"i": "int", "u": "int", "f": "float", "b": "bool",
              "O": "obj", "M": "ts", "m": "td"}


def _date_vs_midnight_ts(s_col, d_col, sk, dk) -> bool:
    """True when spark holds datetime.date objects and duck holds
    timestamps that are all exactly midnight (the driver hashes these
    equal — observed hash-green in rounds 1-2)."""
    import datetime

    if {sk, dk} != {"obj", "ts"}:
        return False
    obj_col, ts_col = (s_col, d_col) if sk == "obj" else (d_col, s_col)
    vals = obj_col.dropna()
    if not all(type(v) is datetime.date for v in vals):
        return False
    tvals = ts_col.dropna()
    return bool((tvals == tvals.dt.normalize()).all())


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as mod

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("dtype-audit")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    queries = mod.queries()
    oracles = mod.oracle_sql()
    names = args.names or [n for n in sorted(queries) if n in oracles]

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf_dir}/{t}.parquet')"
        )

    n_bad = 0
    for name in names:
        try:
            spdf = queries[name](spark, args.sf_dir).toPandas()
            dddf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"  {name}: ERROR {type(e).__name__}: {e}")
            n_bad += 1
            continue
        mism = []
        for col in dddf.columns:
            if col not in spdf.columns:
                mism.append(f"{col}: oracle-only (missing in spark)")
        for col in spdf.columns:
            if col not in dddf.columns:
                mism.append(f"{col}: missing in oracle")
                continue
            sk = KIND_GROUP.get(spdf[col].dtype.kind, spdf[col].dtype.kind)
            dk = KIND_GROUP.get(dddf[col].dtype.kind, dddf[col].dtype.kind)
            if sk != dk:
                if _date_vs_midnight_ts(spdf[col], dddf[col], sk, dk):
                    # Spark DATE vs DuckDB midnight TIMESTAMP: verified
                    # hash-green by the real driver in r1/r2 — benign.
                    continue
                mism.append(f"{col}: spark={spdf[col].dtype}({sk}) duck={dddf[col].dtype}({dk})")
        if mism:
            print(f"  {name}: DTYPE MISMATCH {mism}")
            n_bad += 1
    print(f"audited {len(names)} queries, {n_bad} with dtype-kind mismatches")
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
