"""§2.L UDF / UDAF / UDTF surface (SURVEY.md) — the Python escape
hatches, each with its cost documented.

Hierarchy (fastest first):
1. builtin expressions (everything else in this repo) — JVM codegen.
2. pandas_udf / applyInPandas / mapInPandas — Arrow batch transfer,
   vectorized Python; ~10-100× faster than row-at-a-time.
3. F.udf row-at-a-time — serialize every row through Py4J pickling;
   kept ONLY as the semantics demo (udf_python_scalar); never used in
   the engine's hot paths.

Tiering: ops whose Python bodies compute ENGINE-EXACT results (integer
math, exact min/max spans, sequential float summation mirroring the
oracle's) carry DuckDB oracles and are ORACLE-tier — the UDF machinery
is the thing demonstrated, but the VALUES are still hash-checkable.
Only genuinely engine-specific bodies (order-dependent float
recurrences like EWMA, quantile-boundary subsets) stay ROWS-tier.

Per-call cost: every grouped-map call (applyInPandas, cogrouped
applyInPandas) pays a fixed toll at the Python boundary — one pandas
frame build per side, one Arrow stream per side with its own schema,
one result frame — whatever its row count. Grouping on a high-
cardinality key with a few dozen rows per key (users) is therefore
dominated by that toll, not by the body. The per-key ops here group on
`key_bucket(...)` instead and run the unchanged per-key logic over
every key in the bucket, so the boundary is crossed once per bucket.
Bucket sizing: the bucket count is the session's
`spark.sql.shuffle.partitions`, so a bucket holds about one shuffle
partition of rows at any scale — the call count is fixed by the
shuffle width, not by the key count.
"""

import sys

# NOTE: no `from __future__ import annotations` here — pandas_udf
# resolves signature type hints at decoration time, and stringified
# annotations ('pd.Series') break that inference.
import pandas as pd  # noqa: F401  (needed for pandas_udf signatures)
from pyspark import cloudpickle
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType

from sparkml_spark.registry import query
from sparkml_spark.sources.loader import load_table

# Module-level UDF bodies (cogroup_user_totals) ship to the Python
# workers by value: a worker need not be able to import this package
# (__spark_entry__.py may be loaded by path from any directory).
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def key_bucket(spark: SparkSession, key: str) -> Column:
    """`pmod(xxhash64(key), n)` with n = the session's
    `spark.sql.shuffle.partitions`: the grouping column that batches
    many keys into one grouped-map call (module docstring). Read the
    conf after `load_table`, which applies the engine's confs."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return F.pmod(F.xxhash64(key), F.lit(n))


@query(
    "udf_python_scalar",
    section="2.L",
    oracle="""
SELECT r_regionkey, r_name,
       CAST(length(regexp_replace(lower(r_name), '[^aeiou]', '', 'g')) AS INTEGER) AS vowels_udf,
       CAST(length(regexp_replace(lower(r_name), '[^aeiou]', '', 'g')) AS INTEGER) AS vowels_builtin
FROM region
""",
)
def udf_python_scalar(spark, sf_dir):
    """Row-at-a-time Python UDF (THE SLOW PATH — every row crosses the
    JVM↔Python boundary pickled; shown on the 5-row region table on
    purpose). The same logic as a builtin twin sits beside it so the
    plan difference is visible in explain()."""

    @F.udf(returnType=IntegerType())
    def vowel_count(s: str) -> int:
        return sum(1 for ch in s.lower() if ch in "aeiou")

    r = load_table(spark, sf_dir, "region")
    builtin_twin = F.length(F.regexp_replace(F.lower("r_name"), "[^aeiou]", ""))
    return r.select(
        "r_regionkey",
        "r_name",
        vowel_count("r_name").alias("vowels_udf"),
        builtin_twin.alias("vowels_builtin"),
    )


@query(
    "udf_pandas_scalar",
    section="2.L",
    oracle="""
SELECT c_custkey, c_acctbal,
       CAST(round((c_acctbal - 4500.0) * 100) AS BIGINT) AS bal_dev_cents
FROM customer
""",
)
def udf_pandas_scalar(spark, sf_dir):
    """Arrow-vectorized scalar pandas_udf: batch-wise balance deviation
    from a fixed 4500.00 anchor, in exact integer cents (pandas Series
    in/out, one Python call per Arrow batch instead of per row).

    Constants are fixed so the result is deterministic (per-batch
    stats would depend on partitioning), and the math is EXACT —
    c_acctbal carries 2 decimals, so (bal-4500)*100 sits within one
    ulp of an integer and both engines round to the same int64 —
    which is what makes a pandas-UDF op ORACLE-tier."""
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def dev_cents(bal: pd.Series) -> pd.Series:
        return ((bal - 4500.0) * 100.0).round().astype("int64")

    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey", "c_acctbal", dev_cents("c_acctbal").alias("bal_dev_cents")
    )


@query(
    "udaf_pandas_grouped",
    section="2.L",
    oracle="""
WITH q AS (
  SELECT o_orderpriority, quantile_cont(o_totalprice, 0.25) AS lo,
         quantile_cont(o_totalprice, 0.75) AS hi
  FROM orders GROUP BY o_orderpriority
), m AS (
  SELECT o.o_orderpriority,
         SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents,
         COUNT(*) AS n
  FROM orders o JOIN q ON o.o_orderpriority = q.o_orderpriority
  WHERE o.o_totalprice >= q.lo AND o.o_totalprice <= q.hi
  GROUP BY o.o_orderpriority
)
SELECT o_orderpriority,
       CAST(floor(cents / (100.0 * n) * 10000 + 0.5) AS BIGINT) AS iq_mean_e4
FROM m
""",
)
def udaf_pandas_grouped(spark, sf_dir):
    """Custom aggregation two ways: a GROUPED_AGG pandas_udf (interquartile
    mean of totalprice per priority) and applyInPandas for the
    full-group generality.

    ORACLE-tier (r6) on two engine-exact legs. (1) The boundary subset
    is provably identical: pandas' linear-interpolated quantile and
    quantile_cont share the (n-1)*q definition, and an interpolated lo
    in [x[f], x[f+1]] can never strictly separate a data point from
    itself — any ulp drift lands in the open gap between adjacent
    sorted values, so `v >= lo` agrees regardless. (2) The mean is
    integer arithmetic: 2-decimal prices recover exact cents, both
    engines divide the identical int64 sum by the identical count, and
    the output is fixed-point 1e-4 units (floor(x*1e4+0.5) — same IEEE
    op sequence; a plain float mean would differ in the last ulp:
    pandas sums pairwise, DuckDB sequentially)."""
    @F.pandas_udf("long")
    def iq_mean_e4(v: pd.Series) -> int:
        import numpy as np

        lo, hi = v.quantile(0.25), v.quantile(0.75)
        mid = v[(v >= lo) & (v <= hi)]
        if not len(mid):
            return 0
        cents = int((mid * 100.0).round().astype("int64").sum())
        return int(np.floor(cents / (100.0 * len(mid)) * 1e4 + 0.5))

    # NOTE: a GROUPED_AGG pandas UDF cannot be mixed with non-pandas
    # aggregates in one agg() (INVALID_PANDAS_UDF_PLACEMENT).
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        iq_mean_e4("o_totalprice").alias("iq_mean_e4"),
    )


@query(
    "udaf_apply_in_pandas",
    section="2.L",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n_orders,
       round(MAX(o_totalprice) - MIN(o_totalprice), 4) AS price_span
FROM orders GROUP BY o_orderpriority
""",
)
def udaf_apply_in_pandas(spark, sf_dir):
    """applyInPandas: whole-group pandas transform (per-priority order
    count + price span) — the arbitrary-group-logic escape hatch; each
    group becomes one pandas DataFrame on one executor. ORACLE-tier:
    count is exact, and max-min over 2-decimal prices is exact IEEE
    subtraction, so both engines agree to the bit."""
    import pandas as pd

    def span(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "o_orderpriority": [pdf["o_orderpriority"].iloc[0]],
                "n_orders": [len(pdf)],
                "price_span": [round(float(pdf.o_totalprice.max() - pdf.o_totalprice.min()), 4)],
            }
        )

    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").applyInPandas(
        span, "o_orderpriority STRING, n_orders BIGINT, price_span DOUBLE"
    )


@query(
    "udtf_python",
    section="2.L",
    oracle="""
SELECT r_regionkey,
       unnest(string_split(r_name, ' ')) AS word,
       CAST(generate_subscripts(string_split(r_name, ' '), 1) - 1 AS INTEGER) AS pos
FROM region
""",
)
def udtf_python(spark, sf_dir):
    """Python UDTF (table function): one region row → one row per word
    of the comment-ish name field, with position. ORACLE-tier: a pure
    deterministic string split, mirrored by unnest+generate_subscripts
    in the oracle."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="word: string, pos: int")
    class SplitWords:
        def eval(self, name: str):
            for i, w in enumerate(name.split(" ")):
                yield w, i

    spark.udtf.register("split_words", SplitWords)
    r = load_table(spark, sf_dir, "region")
    r.createOrReplaceTempView("region_udtf_src")
    return spark.sql(
        "SELECT r.r_regionkey, s.word, s.pos "
        "FROM region_udtf_src r, LATERAL split_words(r.r_name) s"
    )


@query(
    "map_in_pandas",
    section="2.L",
    oracle="""
SELECT vec_id,
       CAST(round(list_aggregate(embedding, 'sum') / sqrt(len(embedding)), 6)
            AS DOUBLE) AS probe_cosine
FROM embeddings
""",
)
def map_in_pandas(spark, sf_dir):
    """mapInPandas: partition-wise Arrow batch transform — the bulk-
    scoring shape (here: cosine of every embedding against the
    all-ones unit probe; in production: model inference per batch).

    ORACLE-tier via engine-exact math: against the ones/sqrt(d) probe,
    cosine = sequential row-sum / sqrt(d). Row sums use
    np.add.reduceat (strictly LEFT-TO-RIGHT accumulation — the same
    order DuckDB's list_aggregate uses), so both engines produce
    bit-identical doubles before the final round; a BLAS `mat @ probe`
    would reorder the accumulation and drift in the last ulp."""
    import numpy as np
    import pandas as pd

    def score(batches):
        for pdf in batches:
            mat = np.vstack(pdf["embedding"].to_numpy()).astype("float64")
            n, d = mat.shape
            sums = np.add.reduceat(mat.ravel(), np.arange(0, n * d, d))
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "probe_cosine": np.round(sums / np.sqrt(d), 6),
                }
            )

    e = load_table(spark, sf_dir, "embeddings")
    return e.mapInPandas(score, "vec_id BIGINT, probe_cosine DOUBLE")


@query(
    "map_in_arrow_vectorized",
    section="2.L",
    oracle="""
SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim,
       CAST(round(list_aggregate(embedding, 'sum'), 4) AS DOUBLE) AS emb_sum
FROM embeddings
""",
)
def map_in_arrow_vectorized(spark, sf_dir):
    """mapInArrow over LIST columns, zero-copy (ORACLE twin of the
    ROWS-tier `map_in_arrow` demo): batches arrive as
    pyarrow.RecordBatch, so the embedding column stays one contiguous
    float values buffer + offsets — NO pandas object-boxing (the
    pandas detour materializes one ndarray per cell). Per-vector sums
    via np.add.reduceat on the flat buffer: vectorized across rows,
    engine-exact (sequential float64 accumulation both sides), so the
    output hash-matches DuckDB's list_aggregate.

    Scale: the fastest Python escape hatch Spark has — use it when
    the UDF body can consume Arrow directly (numpy via
    combine_chunks().values, tensor libs via dlpack)."""
    import pyarrow as pa

    def stats(batches):
        for batch in batches:
            # flat float32 values + offsets: vectorized per-row sums
            # without materializing per-row python lists
            flat = batch.column("embedding")
            import numpy as np

            values = flat.values.to_numpy(zero_copy_only=False).astype("float64")
            offsets = flat.offsets.to_numpy(zero_copy_only=False)
            sums = np.add.reduceat(values, offsets[:-1])
            sums[offsets[:-1] == offsets[1:]] = 0.0  # empty lists
            dims = (offsets[1:] - offsets[:-1]).astype("int32")
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("vec_id"),
                    pa.array(dims, type=pa.int32()),
                    pa.array(np.round(sums, 4), type=pa.float64()),
                ],
                names=["vec_id", "dim", "emb_sum"],
            )

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return e.mapInArrow(stats, "vec_id BIGINT, dim INT, emb_sum DOUBLE")


@query(
    "udaf_ewma_apply_in_pandas",
    section="2.L",
    oracle="""
WITH RECURSIVE ordered AS (
  SELECT event_id, user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), rec AS (
  SELECT event_id, user_id, value, rn, value AS ewma FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.event_id, o.user_id, o.value, o.rn,
         (1 - 0.3) * r.ewma + 0.3 * o.value
  FROM ordered o JOIN rec r ON o.user_id = r.user_id AND o.rn = r.rn + 1
)
SELECT event_id, user_id, value,
       CAST(floor(ewma * 1000000 + 0.5) AS BIGINT) AS ewma_micro
FROM rec
""",
)
def udaf_ewma_apply_in_pandas(spark, sf_dir):
    """Exponentially-weighted moving average per user — the canonical
    ORDER-DEPENDENT recurrence (s_t = a*v_t + (1-a)*s_{t-1}) that no
    built-in window frame expresses; applyInPandas is the right escape
    hatch.

    ORACLE-tier (r6): the UDF runs the recurrence EXPLICITLY with the
    literal op order `(1-a)*s + a*v`, which a recursive-CTE oracle
    replays bit-for-bit (pandas' `.ewm(adjust=False)` reaches the
    same doubles here, but spelling the recurrence out pins the op
    order; `.ewm` remains the production shortcut). The output is
    FIXED-POINT micro-units via floor(x*1e6 + 0.5) — identical IEEE
    ops on identical doubles on both engines — because decimal
    `round(x, 6)` is half-even in numpy but half-away in DuckDB and
    ~2e-4 of rows land exactly on a representable n+0.5 tie after
    scaling (measured r6, 19/100k rows at sf0.1).

    Per-call cost: a user has a few dozen events, so one call per user
    is all boundary toll (module docstring). The groups are
    `key_bucket(user_id)` buckets instead — one call per bucket, about
    one shuffle partition of rows each. Inside a call the rows are
    sorted by (user_id, ts, event_id) and the recurrence restarts at
    every user boundary, so each user's series is exactly the per-user
    one. Deterministic: fixed alpha, total order inside each user.

    Scale: state per user is O(1); users are independent — this is
    exactly the batch twin of `stream_stateful_custom`'s running
    state, and at 100 TB it shards by user bucket across executors
    with one shuffle."""
    import numpy as np
    import pandas as pd

    def ewma(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["user_id", "ts", "event_id"])
        users = pdf["user_id"].to_numpy()
        starts = np.ones(len(users), dtype=bool)
        starts[1:] = users[1:] != users[:-1]
        out = np.empty(len(users), dtype="float64")
        a = 0.3
        s = 0.0
        for i, (x, first) in enumerate(zip(pdf["value"].tolist(), starts.tolist())):
            s = x if first else (1 - a) * s + a * x
            out[i] = s
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "user_id": pdf["user_id"],
                "value": pdf["value"],
                "ewma_micro": np.floor(out * 1e6 + 0.5).astype("int64"),
            }
        )

    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    return (
        e.withColumn("user_bucket", key_bucket(spark, "user_id"))
        .groupBy("user_bucket")
        .applyInPandas(
            ewma, "event_id BIGINT, user_id BIGINT, value DOUBLE, ewma_micro BIGINT"
        )
    )


@query(
    "udf_arrow_optimized",
    section="2.L",
    oracle="""
SELECT doc_id,
       CAST(length(lang) + length(source) AS INTEGER) AS keylen_arrow_udf,
       CAST(length(lang) + length(source) AS INTEGER) AS keylen_builtin
FROM documents
""",
)
def udf_arrow_optimized(spark, sf_dir):
    """Arrow-optimized Python UDF (`useArrow=True`, Spark 3.5+): same
    row-wise signature as udf_python_scalar but the JVM<->Python
    transfer is Arrow batches instead of pickled rows — the drop-in
    middle ground before rewriting as pandas_udf. Deterministic
    token-class output over document lang/source, checked by a builtin
    twin column so the semantics are pinned row-by-row."""

    @F.udf(returnType=IntegerType(), useArrow=True)
    def key_len(lang: str, source: str) -> int:
        return len(lang) + len(source)

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        key_len("lang", "source").alias("keylen_arrow_udf"),
        (F.length("lang") + F.length("source")).alias("keylen_builtin"),
    )


@query(
    "map_in_arrow",
    section="2.L",
    oracle="SELECT doc_id, CAST(n_chars * 2 AS BIGINT) AS n_chars_x2 FROM documents",
)
def map_in_arrow(spark, sf_dir):
    """mapInArrow: the lowest-overhead Python escape hatch — raw
    pyarrow.RecordBatch in/out, no pandas conversion on either side.
    Used when the Python side is itself Arrow-native (tokenizers,
    encoders). ORACLE-tier (exact integer doubling); the batch size
    column proves work arrives batched, not row-wise, and is dropped
    before the result boundary (it depends on partitioning)."""
    import pyarrow as pa

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def double_chars(batches):
        for batch in batches:
            tbl = batch.to_pydict()
            yield pa.RecordBatch.from_pydict(
                {
                    "doc_id": tbl["doc_id"],
                    "n_chars_x2": [n * 2 for n in tbl["n_chars"]],
                    "batch_rows": [batch.num_rows] * batch.num_rows,
                }
            )

    return d.mapInArrow(
        double_chars, "doc_id long, n_chars_x2 long, batch_rows long"
    ).select("doc_id", "n_chars_x2")


def cogroup_user_totals(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
    """Merge one cogrouped bucket of (user_id, value) purchase rows
    (`left`) and view rows (`right`) into one row per user: counts and
    `round(float(sum), 2)` per side. Users are the union of both sides;
    a user absent from a side gets 0 / 0.0 for it. A side the bucket
    does not reach arrives as an empty frame that may carry no columns
    at all."""

    def side(df):
        if "user_id" not in df:
            return pd.Series(dtype="int64"), pd.Series(dtype="float64")
        g = df.groupby("user_id")["value"]
        return g.size(), g.sum().map(lambda x: round(float(x), 2))

    (n_p, s_p), (n_v, s_v) = side(left), side(right)
    out = pd.DataFrame(
        {"n_purchases": n_p, "n_views": n_v, "purchase_value": s_p, "view_value": s_v}
    )
    out = out.fillna(0).astype({"n_purchases": "int64", "n_views": "int64"})
    return out.rename_axis("user_id").reset_index()


@query(
    "udaf_cogroup_pandas",
    section="2.L",
    oracle="""
WITH p AS (
  SELECT user_id, COUNT(*) AS n_purchases, round(SUM(value), 2) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
), v AS (
  SELECT user_id, COUNT(*) AS n_views, round(SUM(value), 2) AS view_value
  FROM events WHERE event_type = 'view' GROUP BY user_id
)
SELECT COALESCE(p.user_id, v.user_id) AS user_id,
       COALESCE(n_purchases, 0) AS n_purchases,
       COALESCE(n_views, 0) AS n_views,
       COALESCE(purchase_value, 0.0) AS purchase_value,
       COALESCE(view_value, 0.0) AS view_value
FROM p FULL JOIN v ON p.user_id = v.user_id
""",
)
def udaf_cogroup_pandas(spark, sf_dir):
    """Cogrouped applyInPandas — the two-table Arrow escape hatch:
    purchases and views cogrouped, merged in pandas (the asof/custom-
    merge seam when DataFrame joins can't express the pairing).
    Grouped Arrow batches in; per-user counts + value sums out.
    ORACLE-tier: counts are exact and the per-user sums are over few
    2-decimal values, so the round(2) recovers the exact cent on both
    engines (the oracle is the FULL JOIN of the two per-side
    aggregates, 0-filled like a user missing from one side).

    Per-call cost: a user has a few dozen events, so one call per user
    pays two Arrow streams and three frame builds for a handful of
    rows (module docstring). The cogroup key is `key_bucket(user_id)`
    instead — one call per bucket, about one shuffle partition of rows
    each — and `cogroup_user_totals` runs the per-user merge over
    every user in the bucket. One shuffle per side on the bucket, same
    as a join."""
    e = load_table(spark, sf_dir, "events")
    bucket = key_bucket(spark, "user_id").alias("user_bucket")
    p = e.filter(F.col("event_type") == "purchase").select(bucket, "user_id", "value")
    v = e.filter(F.col("event_type") == "view").select(bucket, "user_id", "value")
    return (
        p.groupBy("user_bucket")
        .cogroup(v.groupBy("user_bucket"))
        .applyInPandas(
            cogroup_user_totals,
            "user_id long, n_purchases long, n_views long, "
            "purchase_value double, view_value double",
        )
    )


@query(
    "udaf_apply_in_arrow",
    section="2.L",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(user_id) AS BIGINT) AS sum_user_id
FROM events GROUP BY event_type
""",
)
def udaf_apply_in_arrow(spark, sf_dir):
    """applyInArrow (Spark 4.0): whole-group ZERO-COPY transform — each
    group arrives as a pyarrow.Table, no pandas conversion cost, the
    modern replacement for applyInPandas when the logic is expressible
    in Arrow compute. Exact integer math (count + int64 sum via
    pyarrow.compute) makes this Python-boundary op ORACLE-tier, same
    pattern as map_in_arrow_vectorized; the oracle CASTs its SUM back
    to BIGINT because DuckDB widens to HUGEINT (the r2 trap)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def gstats(table: pa.Table) -> pa.Table:
        return pa.table(
            {
                "event_type": [table.column("event_type")[0].as_py()],
                "n_events": pa.array([table.num_rows], pa.int64()),
                "sum_user_id": pa.array(
                    [pc.sum(table.column("user_id")).as_py()], pa.int64()
                ),
            }
        )

    e = load_table(spark, sf_dir, "events")
    return (
        e.select("event_type", "user_id")
        .groupBy("event_type")
        .applyInArrow(gstats, "event_type STRING, n_events BIGINT, sum_user_id BIGINT")
    )


@query(
    "udtf_analyze_dynamic",
    section="2.L",
    oracle="""
SELECT 'k' AS k, CAST(regexp_extract(props, '-?\\d+') AS INTEGER) AS k_value
FROM events
""",
)
def udtf_analyze_dynamic(spark, sf_dir):
    """Polymorphic Python UDTF (Spark 4): the static `analyze` hook
    computes the OUTPUT SCHEMA from the call-site arguments — here a
    key:value exploder whose value column is named after a literal
    argument — the 4.x mechanism behind schema-flexible table
    functions. ORACLE-tier: events.props is uniformly a one-key
    integer object (fixture canary), so the exploded rows are exactly
    the oracle's regexp extraction."""
    from pyspark.sql.functions import AnalyzeArgument, AnalyzeResult, lit, udtf
    from pyspark.sql.types import IntegerType, StringType, StructType

    @udtf
    class ExplodeProps:
        @staticmethod
        def analyze(props: AnalyzeArgument, colname: AnalyzeArgument) -> AnalyzeResult:
            return AnalyzeResult(
                StructType()
                .add("k", StringType())
                .add(str(colname.value), IntegerType())
            )

        def eval(self, props: str, colname: str):
            import json

            for k, v in sorted(json.loads(props).items()):
                yield k, int(v)

    spark.udtf.register("explode_props", ExplodeProps)
    e = load_table(spark, sf_dir, "events")
    e.createOrReplaceTempView("events_udtf_src")
    return spark.sql(
        "SELECT s.k, s.k_value FROM events_udtf_src e, "
        "LATERAL explode_props(e.props, 'k_value') s "
    )
