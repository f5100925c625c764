"""Shared fixtures: one warm SparkSession + a DuckDB oracle connection.

Parity tests run at sf0.001 (fast) — the driver's own gate runs the
same protocol at sf0.01; anything that passes here and is
scale-invariant passes there.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkml_spark.session import get_spark
from sparkml_spark.sources.loader import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("sparkml_spark-tests")
    # Serve one observe() query up front, so EVERY test runs against a
    # session whose ObservationManager is live — the long-lived
    # job-server environment where an ML model serialized with its
    # training summary dies with `Task not serializable:
    # ObservationManager` (see operators/ml.py `_fit`). A
    # fresh session hides that failure class; test order must not
    # decide whether it's caught.
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("conftest_poison")
    s.range(1).observe(obs, F.count(F.lit(1)).alias("n")).collect()
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def normalize(value):
    """Make a cell comparable across engines."""
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        return value
    if isinstance(value, list):
        return tuple(normalize(v) for v in value)
    return value


def rows_key(row):
    out = []
    for v in row:
        n = normalize(v)
        out.append((str(type(n)), str(n)))
    return out


def assert_df_equal(spark_df, duck_rel, rel_tol=1e-9, abs_tol=1e-9):
    """Order-insensitive compare: sort columns by name, sort rows, then
    elementwise equality with float tolerance (mirrors — but is slightly
    looser than — the driver's value hash, which has NO tolerance; exact
    mismatches beyond the last ulp still fail here)."""
    s_cols = spark_df.columns
    d_cols = [d[0] for d in duck_rel.description]
    assert sorted(s_cols) == sorted(map(str.lower, map(str, d_cols))) or sorted(
        s_cols
    ) == sorted(d_cols), f"column mismatch: spark={sorted(s_cols)} duck={sorted(d_cols)}"

    order = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
    s_rows = [[normalize(r[i]) for i in order] for r in spark_df.collect()]

    d_index = {c: i for i, c in enumerate(d_cols)}
    d_order = [d_index[c] for c in sorted(d_cols)]
    d_rows = [[normalize(r[i]) for i in d_order] for r in duck_rel.fetchall()]

    assert len(s_rows) == len(d_rows), f"row count: spark={len(s_rows)} duck={len(d_rows)}"

    s_rows.sort(key=rows_key)
    d_rows.sort(key=rows_key)
    for ridx, (sr, dr) in enumerate(zip(s_rows, d_rows)):
        for cidx, (sv, dv) in enumerate(zip(sr, dr)):
            col = sorted(s_cols)[cidx]
            if isinstance(sv, float) and isinstance(dv, (float, int)):
                assert math.isclose(sv, float(dv), rel_tol=rel_tol, abs_tol=abs_tol), (
                    f"row {ridx} col {col}: spark={sv!r} duck={dv!r}"
                )
                # The driver hashes exact values — flag last-ulp drift loudly.
                assert sv == float(dv) or math.isclose(sv, float(dv), rel_tol=1e-13), (
                    f"row {ridx} col {col}: ULP DRIFT spark={sv!r} duck={dv!r} "
                    "(passes tolerance but would fail the driver's exact hash)"
                )
            else:
                assert comparable(sv) == comparable(dv), (
                    f"row {ridx} col {col}: spark={sv!r} duck={dv!r}"
                )


def comparable(v):
    import datetime

    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, tuple):
        return tuple(comparable(x) for x in v)
    if isinstance(v, int):
        return v
    return v
