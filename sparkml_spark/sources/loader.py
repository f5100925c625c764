"""Fixture loader — the ONLY place schema repair lives (SURVEY.md §3).

Scale design: `spark.read.parquet` is a lazy columnar scan; Catalyst
pushes predicates and prunes columns into it (verified in plans —
`PushedFilters` / `ReadSchema`). At 100 TB the same call points at a
partitioned directory tree and partition pruning kicks in for free; the
loader deliberately adds no materialization, caching of data, or
driver-side row handling.

The one repair: when `events.ts` arrives as Parquet TIMESTAMP(NANOS),
the vectorized reader rejects it by default. Under
`spark.sql.legacy.parquet.nanosAsLong=true` it loads as bigint
nanoseconds; we repair with *integer* division (`DIV 1000` — exact, no
double round-trip) to microseconds and cast to `timestamp_ntz`, which
is what DuckDB reads natively for the same file. The repair is gated on
the *loaded* dtype: fixtures regenerated as TIMESTAMP_MICROS load as
`timestamp_ntz` directly and must be left alone (round-3 regression:
the unconditional repair died with DATATYPE_MISMATCH on every query).
Verified equal against the oracle (FIXTURES.md "Loader recipe").
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkml_spark.session import context_state, ensure_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table with schema repair applied."""
    ensure_confs(spark)  # driver-provided sessions lack nanosAsLong
    # The live context's plan cache. DataFrames are lazy plans, so this
    # only saves repeated parquet-footer reads — no data is pinned.
    tables = context_state(spark).tables
    key = (sf_dir, name)
    df = tables.get(key)
    if df is None:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            # NANOS fixtures only (nanosAsLong=true loads ts as bigint):
            # bigint nanos -> exact integer µs -> NTZ timestamp (UTC session).
            # MICROS fixtures already load as timestamp_ntz — leave untouched.
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz")
            )
        # Drift guard: should a regeneration ever write isAdjustedToUTC
        # timestamps (loaded as LTZ `timestamp`), normalize to NTZ —
        # values are identical under the pinned UTC session and DuckDB
        # reads the same file as NTZ, so oracle parity is preserved.
        for col, dtype in df.dtypes:
            if dtype == "timestamp":
                df = df.withColumn(col, F.col(col).cast("timestamp_ntz"))
        tables[key] = df
    return df


class LazyTables:
    """Fixture tables as lazily-loaded attributes: `t.lineitem`, `t.orders`...

    Each table's parquet footer is read (and schema repair applied) only
    on first attribute access, so a corrupt or missing table can never
    poison a query that doesn't touch it (round-3 lesson: the eager
    SimpleNamespace made one bad `events.parquet` kill all 10 tables).
    """

    __slots__ = ("_spark", "_sf_dir")

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir

    def __getattr__(self, name: str) -> DataFrame:
        if name not in TABLES:
            raise AttributeError(f"unknown fixture table: {name!r}")
        return load_table(self._spark, self._sf_dir, name)


def load_tables(spark: SparkSession, sf_dir: str) -> LazyTables:
    """All fixture tables as lazily-loaded attributes."""
    return LazyTables(spark, sf_dir)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for `spark.sql(...)` entry.

    Blast-radius bound (ADVICE r4): SQL text can reference any view, so
    views can't be lazy the way LazyTables is — but one unreadable
    parquet must not kill SQL queries that never touch it. A table that
    fails to load has its (possibly stale) view dropped, so only
    queries actually referencing it fail, loudly, with
    TABLE_OR_VIEW_NOT_FOUND; the first load error is re-raised only if
    NO table registered (a wrong sf_dir should not fail silently)."""
    import warnings

    first_err: Exception | None = None
    n_ok = 0
    for n in TABLES:
        try:
            load_table(spark, sf_dir, n).createOrReplaceTempView(n)
            n_ok += 1
        except Exception as e:  # corrupt/missing parquet — bound the blast
            first_err = first_err or e
            spark.catalog.dropTempView(n)
            # Surface the original error NOW (ADVICE r5): the eventual
            # TABLE_OR_VIEW_NOT_FOUND hides which parquet broke and why.
            warnings.warn(
                f"register_views: dropped view {n!r} — load failed with "
                f"{type(e).__name__}: {e}",
                stacklevel=2,
            )
    if n_ok == 0 and first_err is not None:
        raise first_err
