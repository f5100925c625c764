"""Simulate the driver's verify protocol against __spark_entry__.py.

Mirrors the driver: build a PLAIN SparkSession (none of the engine's
confs — the loader must self-repair), run entry(spark) at sf0.001
(t1 smoke), then for every queries()[name] at sf0.01 run the Spark
DataFrame AND oracle_sql()[name] in DuckDB and compare row count,
column names, and an order-insensitive value hash (exact — no float
tolerance). ROWS-tier queries (no oracle) get a rows>=0 check.

Both sides are materialized THROUGH PANDAS (Spark `toPandas()` ->
pandas_rows(), DuckDB `.df()` -> pandas_rows()) because the real
driver hashes pandas frames: DuckDB
widens SUM(BIGINT) to HUGEINT, which pandas can only hold as float64,
so an uncast integer sum hash-mismatches Spark's int64 even when the
values are equal (exactly the CORRECTNESS_r02 failures —
text_repetition_score / pipeline_training_corpus /
multimodal_shard_manifest all passed a fetchall()-based compare while
the driver's pandas-based hash diverged). fetchall() returns Python
ints for HUGEINT and hides the drift; toPandas/.df() reproduce it.

Usage: python scripts/driver_sim.py [--sf-dir /root/testdata/sf0.01] [names...]

Scale-evidence mode: the defaults (local[8], stock heap) are the
driver-exact profile; `--cpus/--driver-mem/--exclude` exist ONLY for
t2 sweeps on replicated layouts (.artifacts/scalebench/*) whose data
no longer fits the driver-shaped JVM — the compare protocol itself is
unchanged.
"""

from __future__ import annotations

import argparse
import datetime
import hashlib
import json
import os
import sys

import duckdb
from measure import timed
from pyspark.sql import SparkSession


def _scalar(v):
    if type(v).__name__ == "ndarray":
        return v.tolist()  # ndarray.tolist() yields nested Python scalars
    if isinstance(v, (list, tuple)):
        return [_scalar(x) for x in v]
    if hasattr(v, "item") and not isinstance(v, (bytes, str)):
        return v.item()  # np.int64 -> int, np.float64 -> float, ...
    return v


def pandas_rows(df):
    """pandas frame -> list of tuples of Python scalars, preserving the
    int-vs-float dtype distinction that the driver's hash is sensitive
    to (np.float64.item() -> float, np.int64.item() -> int)."""
    return [tuple(_scalar(v) for v in row)
            for row in df.itertuples(index=False, name=None)]


def canon(df):
    """Mirror the real driver's canonicalizer: select columns sorted by
    name, then pandas sort_values over ALL of them. Crucially this DIES
    with `TypeError: unhashable type: 'numpy.ndarray'` when any cell is
    an ndarray (pandas lexsort factorizes object columns) — exactly the
    CORRECTNESS_r04 agg_collect_sorted_array failure the sim previously
    passed. DuckDB's .df() yields ndarray cells for every LIST column
    and Arrow toPandas does too, so an ORACLE query with an array-typed
    result column MUST fail here, before the driver finds it."""
    cols = sorted(df.columns)
    return df[cols].sort_values(by=cols).reset_index(drop=True)


def norm_cell(v):
    if v is None:
        return "∅"
    if v != v and isinstance(v, float):
        # pandas NaN encodes SQL NULL after toPandas()/.df() — the same
        # conflation the real driver's pandas hashing makes.
        return "∅"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        if v == 0.0:
            v = 0.0  # -0.0 == 0.0
        return f"f:{v!r}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, datetime.datetime):
        return f"t:{v.replace(tzinfo=None).isoformat()}"
    if isinstance(v, datetime.date):
        # The real driver hashed Spark DATE equal to a DuckDB midnight
        # TIMESTAMP (cohort_retention/cast_types were hash-green r1/r2
        # with exactly that skew) — promote date to midnight datetime.
        return f"t:{datetime.datetime(v.year, v.month, v.day).isoformat()}"
    if isinstance(v, (list, tuple)):
        return "l:[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return "y:" + v.hex()
    return "s:" + str(v)


def value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--smoke-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--cpus", type=int, default=8,
                    help="local[N] (scale-evidence sweeps only)")
    ap.add_argument("--driver-mem", default=None,
                    help="spark.driver.memory (scale-evidence sweeps only)")
    ap.add_argument("--no-smoke", action="store_true",
                    help="skip the t1 entry() smoke (chunked sweeps)")
    ap.add_argument("--exclude", nargs="*", default=[],
                    help="query ids to skip (documented-cutoff ops on "
                         "replicated layouts); each is reported")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as mod
    from sparkml_spark.session import persistent_rdd_count, reap_registered

    # Plain session — deliberately NOT using sparkml_spark.get_spark.
    builder = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
    )
    if args.driver_mem:
        builder = builder.config("spark.driver.memory", args.driver_mem)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    if not args.no_smoke:
        entry_rows, secs = timed(lambda: mod.entry(spark).collect())
        print(f"t1 smoke: entry() -> {len(entry_rows)} rows in {secs:.1f}s "
              f"({'PASS' if len(entry_rows) > 0 else 'FAIL'})")

    queries = mod.queries()
    oracles = mod.oracle_sql()
    names = args.names or sorted(queries)
    for x in args.exclude:
        if x in names:
            names.remove(x)
            print(f"  {x}: EXCLUDED (documented cutoff at this layout)")

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        # Real fixtures are single files; stress-harness builds write
        # <table>.parquet as a DIRECTORY of part files (Spark layout).
        # DuckDB needs a glob for the latter — this lets the sim run
        # against .artifacts/scalebench/* replicated fixtures too.
        path = f"{args.sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )

    n_pass = n_fail = n_rows_tier = 0
    rdds_start, rdds_peak = persistent_rdd_count(spark), 0
    for name in names:
        # r14 (VERDICT r13 #2): the previous query's result is fully
        # consumed (toPandas) — deterministically free its registered
        # checkpoint/cache blocks so the sweep holds O(1) standing
        # RDDs; peak tracked for VERIFY_r14's evidence.
        rdds_peak = max(rdds_peak, persistent_rdd_count(spark))
        reap_registered(spark)
        fn = queries[name]

        def spark_side():
            spdf = fn(spark, args.sf_dir).toPandas()
            if name in oracles:
                # ROWS-tier results are only counted by the driver;
                # ORACLE-tier go through the canonicalizer (which is
                # where array-typed result columns explode).
                spdf = canon(spdf)
            return pandas_rows(spdf), list(spdf.columns)

        try:
            (s_rows, s_cols), dt = timed(spark_side)
        except Exception as e:
            print(f"  {name}: SPARK ERROR {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"  {name}: ROWS-tier, {len(s_rows)} rows [{dt:.1f}s]")
            n_rows_tier += 1
            continue
        try:
            dddf = canon(con.execute(oracles[name]).df())
            d_cols = list(dddf.columns)
            d_rows = pandas_rows(dddf)
        except Exception as e:
            print(f"  {name}: ORACLE ERROR {type(e).__name__}: {e}")
            n_fail += 1
            continue
        problems = []
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols spark={sorted(s_cols)} duck={sorted(d_cols)}")
        if not problems:
            sh, dh = value_hash(s_cols, s_rows), value_hash(d_cols, d_rows)
            if sh != dh:
                problems.append(f"value-hash mismatch ({sh[:10]} vs {dh[:10]})")
        if problems:
            print(f"  {name}: FAIL {'; '.join(problems)} [{dt:.1f}s]")
            n_fail += 1
        else:
            print(f"  {name}: hash-match, {len(s_rows)} rows [{dt:.1f}s]")
            n_pass += 1

    rdds_peak = max(rdds_peak, persistent_rdd_count(spark))
    reap_registered(spark)
    print(json.dumps({
        "t2_pass": n_pass, "t2_fail": n_fail, "rows_tier": n_rows_tier,
        "declared": len(queries), "oracle_declared": len(oracles),
        "rdds_start": rdds_start, "rdds_peak": rdds_peak,
        "rdds_end": persistent_rdd_count(spark),
    }))
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
