"""Scale-technique operators: bucketed co-located joins and manual
skew salting (SURVEY.md §4.3; the 100 TB levers, demonstrated as
oracle-checked queries so their SEMANTICS are pinned while their PLANS
are pinned by tests/test_plans.py).

These complement AQE (which handles moderate skew and partition sizing
at runtime): bucketing removes the fact⋈fact shuffle entirely for
repeated joins on the same key; salting handles pathological skew that
AQE's split threshold misses.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from sparkml_spark.registry import dsum, dsum_sql, query
from sparkml_spark.session import ARTIFACTS_DIR, cache
from sparkml_spark.sources.loader import load_table

_WAREHOUSE = os.path.join(ARTIFACTS_DIR, "warehouse")
_N_BUCKETS = 8
_N_SALTS = 8


@query(
    "join_bucketed_colocated",
    section="2.C",
    oracle=f"""
SELECT o_orderstatus,
       {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
""",
)
def join_bucketed_colocated(spark, sf_dir):
    """Fact⋈fact join WITHOUT a join-time shuffle: both sides written
    `bucketBy(8, orderkey)` + sorted, so the sort-merge join reads
    bucket i against bucket i directly (plan shows no Exchange before
    the join — asserted in test_plans).

    At 100 TB this is THE lever for repeated joins on a canonical key:
    pay one write-time shuffle, then every subsequent join is
    shuffle-free. Result is oracle-checked against the plain join."""
    os.makedirs(_WAREHOUSE, exist_ok=True)
    sf_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    li_tbl, o_tbl = f"li_bkt_{sf_tag}", f"o_bkt_{sf_tag}"
    # EXTERNAL tables (explicit path) — warehouse.dir is a static conf
    # and cannot be set on a driver-provided session; bucketing
    # metadata lives in the session catalog either way.
    catalog = spark.catalog
    if not catalog.tableExists(li_tbl):
        (
            load_table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_extendedprice", "l_discount")
            .write.bucketBy(_N_BUCKETS, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", os.path.join(_WAREHOUSE, li_tbl))
            .mode("overwrite")
            .saveAsTable(li_tbl)
        )
    if not catalog.tableExists(o_tbl):
        (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderstatus")
            .write.bucketBy(_N_BUCKETS, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", os.path.join(_WAREHOUSE, o_tbl))
            .mode("overwrite")
            .saveAsTable(o_tbl)
        )
    li, o = spark.table(li_tbl), spark.table(o_tbl)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "join_skew_salted",
    section="2.C",
    oracle="""
SELECT event_type, type_group, COUNT(*) AS n_events
FROM events
JOIN (VALUES ('click', 'engagement'), ('view', 'engagement'),
             ('purchase', 'revenue'), ('signup', 'growth'),
             ('error', 'ops')) AS dim(event_type, type_group)
USING (event_type)
GROUP BY event_type, type_group
""",
)
def join_skew_salted(spark, sf_dir):
    """Manual salting for pathologically skewed join keys: events join
    a 5-row dimension on event_type (each key ≈ 20% of the fact table —
    the worst case for a shuffled hash join).

    Technique: fact side gets salt = crc32(event_id) % 8; the dim side
    is exploded ×8 with every salt value; the join key becomes
    (event_type, salt), spreading each hot key over 8 reducers. Result
    is oracle-identical to the unsalted join. (For a dim THIS small a
    broadcast is the first choice; salting is the fallback when the
    skewed side is too big to broadcast and AQE's skew split can't cut
    a single giant key.)"""
    e = load_table(spark, sf_dir, "events").withColumn(
        "salt", (F.crc32(F.col("event_id").cast("string")) % _N_SALTS).cast("int")
    )
    dim_rows = [
        ("click", "engagement"),
        ("view", "engagement"),
        ("purchase", "revenue"),
        ("signup", "growth"),
        ("error", "ops"),
    ]
    dim = spark.createDataFrame(dim_rows, "event_type STRING, type_group STRING")
    salted_dim = dim.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(_N_SALTS)]))
    )
    return (
        e.join(salted_dim, ["event_type", "salt"])
        .groupBy("event_type", "type_group")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@query(
    "sink_sorted_data_skipping",
    section="2.A",
    oracle="""
SELECT event_type, COUNT(*) AS n_events
FROM events
WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-11'
GROUP BY event_type
""",
)
def sink_sorted_data_skipping(spark, sf_dir):
    """Sort-clustered layout for data skipping: events written
    `repartitionByRange(ts)` + `sortWithinPartitions(ts)`, so each
    output file covers a narrow, non-overlapping ts range and its
    parquet footer min/max stats let a time-window read skip every
    file outside the window (the poor man's Z-order, exact for a
    single sort key).

    At 100 TB this is the difference between scanning the whole fact
    table and scanning one day of it: partition pruning handles the
    directory level (`sink_parquet_partitioned`), range-clustering
    handles the file/rowgroup level inside each partition. The window
    read-back is hash-checked against the unsorted source."""
    e = load_table(spark, sf_dir, "events")
    path = os.path.join(_WAREHOUSE, "..", "events_ts_sorted")
    (
        e.repartitionByRange(8, "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return (
        back.filter(
            (F.col("ts") >= F.lit("2024-01-10").cast("timestamp_ntz"))
            & (F.col("ts") < F.lit("2024-01-11").cast("timestamp_ntz"))
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@query(
    "join_bloom_pruned",
    section="2.C",
    oracle=f"""
SELECT o_orderpriority,
       {dsum_sql('l_extendedprice')} AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderpriority
""",
)
def join_bloom_pruned(spark, sf_dir):
    """Runtime bloom-filter semi-join reduction: the selective filter
    on orders is turned into a bloom filter that prunes lineitem rows
    BEFORE the join shuffle (`spark.sql.optimizer.runtime.bloomFilter
    .enabled` — injected as a might_contain() predicate on the probe
    side). At 100 TB this cuts the shuffled fact volume by the dim
    filter's selectivity (~20% here) without any manual semi-join.

    Semantics are identical with or without the filter (it's
    conservative) — which is exactly what the oracle check pins.

    Injection guards tuned for fixture scale: the probe side must
    normally scan ≥10 GB and the creation side must NOT be
    broadcastable — both true on a cluster, never locally. The
    operator compiles the physical plan under temporarily-adjusted
    thresholds (QueryExecution pins the compiled plan to the returned
    DataFrame) and restores every conf before returning, so no other
    query sees the changes."""
    tuned = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in tuned}
    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, sf_dir, "lineitem")
        df = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                dsum("l_extendedprice").alias("revenue"),
                F.count(F.lit(1)).alias("n_items"),
            )
        )
        # Force physical planning now, while the tuned confs are live.
        df._jdf.queryExecution().executedPlan()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return df


@query(
    "cache_hot_dim_reuse",
    section="2.C",
    oracle="""
WITH hot AS (
  SELECT o_custkey, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS spent
  FROM orders GROUP BY o_custkey
)
SELECT a.o_custkey, a.n_orders, a.spent,
       round(a.spent / b.grand_total, 9) AS share
FROM hot a CROSS JOIN (
  SELECT CAST(SUM(CAST(spent AS DECIMAL(27,6))) AS DOUBLE) AS grand_total
  FROM hot
) b
""",
)
def cache_hot_dim_reuse(spark, sf_dir):
    """Explicit cache of a derived rollup consumed TWICE in one
    plan (per-customer spend + its grand total): without caching the
    orders aggregation runs twice; with it the second branch reads the
    InMemoryRelation (pinned in tests/test_plans.py). At 100 TB the
    rule: cache REUSED derived aggregates (small, hit many times),
    never raw fact scans — memory pressure evicts them and the
    recompute is a full table pass. The grand total rides back as a
    broadcast nested-loop of a 1-row relation, not a collect."""
    o = load_table(spark, sf_dir, "orders")
    hot = cache(
        o.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("spent"),
        )
    )
    total = hot.agg(dsum("spent").alias("grand_total"))
    return hot.crossJoin(F.broadcast(total)).select(
        "o_custkey",
        "n_orders",
        "spent",
        F.round(F.col("spent") / F.col("grand_total"), 9).alias("share"),
    )


@query(
    "observe_metrics",
    section="2.L",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders WHERE o_totalprice > 100000.0
GROUP BY o_orderpriority
""",
)
def observe_metrics(spark, sf_dir):
    """`df.observe()` — zero-cost pipeline telemetry: named aggregate
    metrics (row count, exact decimal value sum) accumulated DURING
    the normal action, no second scan (vs a separate .count() which
    re-reads 100 TB). The observed metrics ride the same physical
    plan; tests/test_operators.py asserts the Observation values match
    an independent aggregation. Output itself stays ORACLE-checked —
    observe() must not perturb results."""
    from pyspark.sql import Observation

    o = load_table(spark, sf_dir, "orders")
    obs = Observation("filter_stats")
    filtered = o.filter(F.col("o_totalprice") > 100000.0).observe(
        obs,
        F.count(F.lit(1)).alias("rows_kept"),
        F.sum(F.col("o_totalprice").cast("decimal(27,6)")).alias("kept_value"),
    )
    out = filtered.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))
    out._sparkml_observation = obs  # exposed for the unit test
    return out


@query(
    "hint_rebalance",
    section="2.B",
    oracle="""
SELECT lang, doc_id, n_chars FROM documents
""",
)
def hint_rebalance(spark, sf_dir):
    """AQE rebalance hint — the skew-proof write preparation: unlike
    `repartition(n)` (fixed width) or `coalesce` (no shuffle, can
    keep skew), `hint("rebalance", col)` lets AQE split oversized and
    merge undersized partitions at runtime. This is what you put in
    front of a partitioned 100 TB sink so no writer task gets the hot
    partition. Values are pass-through (oracle pins that); the plan
    carries a RebalancePartitions node."""
    d = load_table(spark, sf_dir, "documents")
    return d.hint("rebalance", "lang").select("lang", "doc_id", "n_chars")


def _z16_expr(a: str, b: str) -> str:
    """Bit-interleaved 32-bit Morton (Z-order) value of two 16-bit
    inputs, as a portable SQL expression — `>> & <<` evaluate
    identically in Spark SQL and DuckDB, and the summed terms occupy
    disjoint bits so `+` is exact."""
    terms = []
    for i in range(16):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


_Z_A = "(user_id & 65535)"


@query(
    "sink_zorder_skipping",
    section="2.A",
    oracle=f"""
SELECT event_type,
       COUNT(*) AS n_events,
       MIN({_z16_expr(_Z_A, "((epoch_us(ts) // 86400000000) & 65535)")}) AS min_z,
       MAX({_z16_expr(_Z_A, "((epoch_us(ts) // 86400000000) & 65535)")}) AS max_z
FROM events
WHERE user_id BETWEEN 3 AND 99
  AND ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-12'
GROUP BY event_type
""",
)
def sink_zorder_skipping(spark, sf_dir):
    """Z-order (Morton) clustering — the MULTI-dimensional data-
    skipping layout (Delta OPTIMIZE ZORDER BY's core): interleave the
    bits of (user_id, epoch-day) into one sort key, range-cluster the
    files on it, and a 2-D box query (user range AND time range) can
    prune files on BOTH dimensions from parquet min/max stats, where
    a single-column sort (sink_sorted_data_skipping) skips on one
    dimension and fully scans the other.

    The hash pin covers the bit-interleave math itself (min/max
    Z-value per group inside the query box — any drift in the
    16+16-bit Morton encoding between the engines flips them) plus
    the box-query results read back from the Z-clustered files.

    Scale: the Z-sort is one repartitionByRange exchange on the
    computed key — identical cost shape to the 1-D sort sink; the
    win is at read time, MEASURED on 16-file sf0.1 layouts: a
    user-selective read (user_id in a 20-id band, any time) has
    matching rows in 16/16 files of the ts-sorted layout but 2/16 of
    the Z-ordered one, and the combined 2-D box localizes to 2/16 vs
    4/16 — each Z file covers a compact Morton range = a small tile
    in (user, day) space, so min/max stats prune on BOTH dimensions
    where a 1-D sort's second dimension spans every file."""
    e = load_table(spark, sf_dir, "events")
    z = F.expr(
        _z16_expr(
            "(user_id & 65535)",
            "((unix_micros(cast(ts as timestamp)) div 86400000000) & 65535)",
        )
    )
    # Keyed by sf_dir so concurrent sessions at different scales never
    # race on one directory (one overwrite mid-read of the other).
    path = os.path.join(
        _WAREHOUSE,
        "..",
        f"events_zorder_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    (
        e.withColumn("zval", z)
        .repartitionByRange(8, "zval")
        .sortWithinPartitions("zval")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return (
        back.filter(
            F.col("user_id").between(3, 99)
            & (F.col("ts") >= F.lit("2024-01-05").cast("timestamp_ntz"))
            & (F.col("ts") < F.lit("2024-01-12").cast("timestamp_ntz"))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("zval").alias("min_z"),
            F.max("zval").alias("max_z"),
        )
    )
