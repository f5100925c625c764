"""§2.C Join operators (SURVEY.md).

Physical strategy is Catalyst's call (broadcast-hash / shuffled-hash /
sort-merge / broadcast-nested-loop) — we shape the logical join and
give hints where the right answer is known statically:

- dimension tables (region/nation/supplier at any scale; customer at
  fixture scale) → `F.broadcast` hint: no shuffle of the fact side.
- fact⋈fact (lineitem⋈orders) → let AQE pick; at 100 TB this is a
  sort-merge join whose skew AQE splits automatically.
- the as-of join deliberately avoids a join altogether (union + window
  carry-forward) — that form scales linearly and never explodes,
  unlike the naive theta-join + argmax formulation.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from sparkml_spark.registry import dsum, dsum_sql, query
from sparkml_spark.session import artifact_path
from sparkml_spark.sources.loader import load_table, load_tables


# ---------------------------------------------------------------------------
# join_inner_equi — TPC-H Q3 shape (BASELINE q_top_orders_join):
# customer(filter) ⋈ orders(filter) ⋈ lineitem(filter) → agg → top-10.
# customer is broadcast (dim at this shape); orders⋈lineitem is the
# fact join. Tie-break on o_orderkey for a deterministic top-10.
# ---------------------------------------------------------------------------
@query(
    "join_inner_equi",
    section="2.C",
    oracle=f"""
SELECT l_orderkey,
       {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
       o_orderdate,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-06-30'
  AND l_shipdate > TIMESTAMP '1996-06-30'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
""",
)
def join_inner_equi(spark, sf_dir):
    """Q3: unshipped-orders revenue top-10 (3-way equi inner join)."""
    t = load_tables(spark, sf_dir)
    cutoff = F.lit("1996-06-30").cast("timestamp_ntz")
    cust = t.customer.filter(F.col("c_mktsegment") == "BUILDING")
    orders = t.orders.filter(F.col("o_orderdate") < cutoff)
    li = t.lineitem.filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@query(
    "join_left",
    section="2.C",
    oracle="""
SELECT c_custkey, c_mktsegment, o_orderkey, o_totalprice
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
""",
)
def join_left(spark, sf_dir):
    """Left outer: every customer, null-extended where orderless."""
    t = load_tables(spark, sf_dir)
    return t.customer.join(
        t.orders, t.customer.c_custkey == t.orders.o_custkey, "left"
    ).select("c_custkey", "c_mktsegment", "o_orderkey", "o_totalprice")


@query(
    "join_right",
    section="2.C",
    oracle="""
SELECT c_custkey, c_mktsegment, o_orderkey, o_totalprice
FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
""",
)
def join_right(spark, sf_dir):
    """Right outer (mirror of join_left, probed from the other side)."""
    t = load_tables(spark, sf_dir)
    return t.orders.join(
        t.customer, t.orders.o_custkey == t.customer.c_custkey, "right"
    ).select("c_custkey", "c_mktsegment", "o_orderkey", "o_totalprice")


@query(
    "join_full",
    section="2.C",
    oracle="""
SELECT c.c_custkey, o.o_orderkey
FROM (SELECT * FROM customer WHERE c_acctbal > 5000) c
FULL OUTER JOIN orders o ON c.c_custkey = o.o_custkey
""",
)
def join_full(spark, sf_dir):
    """Full outer with null-extension on BOTH sides (customer side is
    filtered so some orders lose their match)."""
    t = load_tables(spark, sf_dir)
    c = t.customer.filter(F.col("c_acctbal") > 5000)
    return c.join(t.orders, c.c_custkey == t.orders.o_custkey, "full").select(
        "c_custkey", "o_orderkey"
    )


@query(
    "join_semi",
    section="2.C",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
""",
)
def join_semi(spark, sf_dir):
    """Existence join: customers with a >200k order. Semi joins carry no
    right-side columns, so the build side is just the key set."""
    t = load_tables(spark, sf_dir)
    big = t.orders.filter(F.col("o_totalprice") > 200000)
    return t.customer.join(
        big, t.customer.c_custkey == big.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "join_anti",
    section="2.C",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
""",
)
def join_anti(spark, sf_dir):
    """Non-existence join: customers with no URGENT order."""
    t = load_tables(spark, sf_dir)
    urgent = t.orders.filter(F.col("o_orderpriority") == "1-URGENT")
    return t.customer.join(
        urgent, t.customer.c_custkey == urgent.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "join_cross",
    section="2.C",
    oracle="""
SELECT r_name, n_name FROM region CROSS JOIN nation
""",
)
def join_cross(spark, sf_dir):
    """Cartesian product — restricted to the two constant-size dims (a
    cross join of fact tables is a 100 TB outage; the engine only ever
    crosses broadcast-size inputs)."""
    t = load_tables(spark, sf_dir)
    return t.region.crossJoin(t.nation).select("r_name", "n_name")


@query(
    "join_broadcast_hint",
    section="2.C",
    oracle="""
SELECT n_name, COUNT(*) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""",
)
def join_broadcast_hint(spark, sf_dir):
    """Explicit broadcast of the 25-row dim: the fact side never
    shuffles for the join (only the tiny post-agg exchange remains)."""
    t = load_tables(spark, sf_dir)
    return (
        t.customer.join(
            F.broadcast(t.nation), t.customer.c_nationkey == t.nation.n_nationkey
        )
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "join_theta_range",
    section="2.C",
    oracle="""
SELECT o_orderkey, COUNT(*) AS n_late_items
FROM orders JOIN lineitem
  ON l_orderkey = o_orderkey
 AND l_shipdate > o_orderdate + INTERVAL 30 DAY
GROUP BY o_orderkey
""",
)
def join_theta_range(spark, sf_dir):
    """Equi key + range residual: lineitems shipped >30 days after their
    order date. The equi conjunct keeps this a hash/sort-merge join
    (the range is a cheap post-filter) — never a nested loop."""
    t = load_tables(spark, sf_dir)
    cond = (t.lineitem.l_orderkey == t.orders.o_orderkey) & (
        t.lineitem.l_shipdate > t.orders.o_orderdate + F.expr("INTERVAL 30 DAY")
    )
    return (
        t.orders.join(t.lineitem, cond)
        .groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n_late_items"))
    )


@query(
    "join_multiway_5",
    section="2.C",
    oracle=f"""
SELECT n_name,
       {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
FROM region
JOIN nation   ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
""",
)
def join_multiway_5(spark, sf_dir):
    """Q5: local-supplier revenue by nation (6-table join). All four dim
    tables are broadcast; only orders⋈lineitem shuffles. BASELINE's
    q_regional_join5."""
    t = load_tables(spark, sf_dir)
    region = t.region.filter(F.col("r_name") == "ASIA")
    orders = t.orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    df = (
        t.lineitem.join(orders, t.lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(t.customer), orders.o_custkey == t.customer.c_custkey)
        .join(
            F.broadcast(t.supplier),
            (t.lineitem.l_suppkey == t.supplier.s_suppkey)
            & (t.supplier.s_nationkey == t.customer.c_nationkey),
        )
        .join(F.broadcast(t.nation), t.supplier.s_nationkey == t.nation.n_nationkey)
        .join(F.broadcast(region), t.nation.n_regionkey == region.r_regionkey)
    )
    return df.groupBy("n_name").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )


@query(
    "join_self",
    section="2.C",
    oracle="""
SELECT a.o_custkey AS custkey, COUNT(*) AS n_ordered_pairs
FROM orders a JOIN orders b
  ON a.o_custkey = b.o_custkey
 AND a.o_orderkey < b.o_orderkey
 AND a.o_orderdate <= b.o_orderdate
GROUP BY a.o_custkey
""",
)
def join_self(spark, sf_dir):
    """Self-join: chronologically ordered order-pairs per customer
    (equi on custkey + two residuals; ~(k choose 2) rows per customer,
    bounded because per-customer order counts are bounded)."""
    o = load_table(spark, sf_dir, "orders")
    a, b = o.alias("a"), o.alias("b")
    cond = (
        (F.col("a.o_custkey") == F.col("b.o_custkey"))
        & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
        & (F.col("a.o_orderdate") <= F.col("b.o_orderdate"))
    )
    return (
        a.join(b, cond)
        .groupBy(F.col("a.o_custkey").alias("custkey"))
        .agg(F.count(F.lit(1)).alias("n_ordered_pairs"))
    )


# ---------------------------------------------------------------------------
# join_asof — each purchase matched to the latest prior-or-equal click
# of the same user. Implemented WITHOUT a join: union the two event
# roles, carry the last click timestamp forward with a window, keep
# purchases. One shuffle on user_id, linear state — at 100 TB this
# beats the theta-join+argmax form (quadratic in per-user density) and
# is the same trick DuckDB's native ASOF JOIN optimizes; the oracle is
# written in the portable window form so both engines compute
# identical semantics (ties broken by event_id order).
# ---------------------------------------------------------------------------
@query(
    "join_asof",
    section="2.C",
    oracle="""
SELECT event_id, user_id, ts, asof_click_ts
FROM (
  SELECT event_id, user_id, ts, event_type,
         last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_click_ts
  FROM events
  WHERE event_type IN ('click', 'purchase')
)
WHERE event_type = 'purchase'
""",
)
def join_asof(spark, sf_dir):
    """As-of join via union + carry-forward window (see block comment)."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    return (
        e.withColumn("asof_click_ts", F.last(click_ts, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "asof_click_ts")
    )


@query(
    "join_asof_directions",
    section="2.C",
    oracle="""
SELECT event_id, user_id, ts,
       back_ts AS asof_backward,
       fwd_ts AS asof_forward,
       CASE
         WHEN back_ts IS NULL AND fwd_ts IS NULL THEN NULL
         WHEN fwd_ts IS NULL THEN back_ts
         WHEN back_ts IS NULL THEN fwd_ts
         WHEN epoch_us(ts) - epoch_us(back_ts)
              <= epoch_us(fwd_ts) - epoch_us(ts) THEN back_ts
         ELSE fwd_ts
       END AS asof_nearest,
       CASE WHEN back_ts IS NOT NULL
             AND epoch_us(ts) - epoch_us(back_ts) <= 3600000000
            THEN back_ts END AS asof_backward_1h
FROM (
  SELECT event_id, user_id, ts, event_type,
         last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back_ts,
         first_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd_ts
  FROM events
  WHERE event_type IN ('click', 'purchase')
)
WHERE event_type = 'purchase'
""",
)
def join_asof_directions(spark, sf_dir):
    """The full merge_asof direction surface (pandas/DuckDB ASOF API
    parity): backward (latest click at-or-before), forward (earliest
    click at-or-after), nearest (smaller absolute gap, ties ->
    backward), and backward with a 1-hour tolerance (NULL when the
    match is staler than the tolerance — the real-world guard against
    joining against ancient state).

    Same union + carry-window shape as join_asof — ONE shuffle on
    user_id covers all four directions (the forward carry is just the
    mirrored frame over the same sorted partition), where four
    theta-joins would each be quadratic in per-user density. Gap
    arithmetic in epoch microseconds (unix_micros == epoch_us under
    the pinned UTC/ntz session, timeseries.py:15)."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    ord_cols = [F.col("ts"), F.col("event_id")]
    w_back = (
        Window.partitionBy("user_id")
        .orderBy(*ord_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy(*ord_cols)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    us = lambda c: F.expr(f"unix_micros(cast({c} as timestamp))")  # noqa: E731
    out = (
        e.withColumn("back_ts", F.last(click_ts, ignorenulls=True).over(w_back))
        .withColumn("fwd_ts", F.first(click_ts, ignorenulls=True).over(w_fwd))
        .filter(F.col("event_type") == "purchase")
    )
    back_gap = us("ts") - us("back_ts")
    fwd_gap = us("fwd_ts") - us("ts")
    nearest = (
        F.when(F.col("back_ts").isNull() & F.col("fwd_ts").isNull(), F.lit(None))
        .when(F.col("fwd_ts").isNull(), F.col("back_ts"))
        .when(F.col("back_ts").isNull(), F.col("fwd_ts"))
        .when(back_gap <= fwd_gap, F.col("back_ts"))
        .otherwise(F.col("fwd_ts"))
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("back_ts").alias("asof_backward"),
        F.col("fwd_ts").alias("asof_forward"),
        nearest.cast("timestamp_ntz").alias("asof_nearest"),
        F.when(
            F.col("back_ts").isNotNull() & (back_gap <= 3600000000),
            F.col("back_ts"),
        ).alias("asof_backward_1h"),
    )


@query(
    "join_interval",
    section="2.C",
    oracle="""
SELECT a.user_id AS user_id, COUNT(*) AS n_pairs
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND b.ts > a.ts
 AND b.ts <= a.ts + INTERVAL 1 HOUR
GROUP BY a.user_id
""",
)
def join_interval(spark, sf_dir):
    """Band join: ordered event pairs within 1 hour per user (equi on
    user + time-band residual). At 100 TB, pre-bucket both sides by
    (user, time-bucket) so the band probe stays partition-local."""
    e = load_table(spark, sf_dir, "events")
    a = e.select(
        F.col("user_id").alias("a_user"), F.col("ts").alias("a_ts")
    )
    b = e.select(F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts"))
    cond = (
        (F.col("a_user") == F.col("b_user"))
        & (F.col("b_ts") > F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 1 HOUR"))
    )
    return (
        a.join(b, cond)
        .groupBy(F.col("a_user").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@query(
    "join_range_bucketed",
    section="2.C",
    oracle="""
SELECT o_orderkey, COUNT(*) AS n_shipped_week
FROM orders JOIN lineitem
  ON l_shipdate > o_orderdate
 AND l_shipdate <= o_orderdate + INTERVAL 7 DAY
GROUP BY o_orderkey
""",
)
def join_range_bucketed(spark, sf_dir):
    """PURE range join (no natural equi key: every lineitem shipped
    within 7 days after any order's date), COUNT-aggregated per order.

    r13 rewrite (guide §8 "decide with small rows"): the r4 shape
    bucketed both sides onto a 7-day grid and equi-joined the buckets
    — a correct candidate bound for a general range join, but this
    query only needs the COUNT of matching lineitems per order, and
    that count depends on nothing but the two DATES. The old plan
    therefore materialized every qualifying (order, lineitem) pair —
    ~250M rows at sf0.1, the slowest query in the r13 census at 174 s
    — purely to count them. The decomposition counts lineitems per
    ship-DAY first (one map-side-combined shuffle of the fact table
    onto a date grid bounded by the calendar, ~2.5k rows), computes
    each distinct order-date's 7-day window total ON THE GRID (a
    grid×7 explode joined against the broadcast day counts), and
    broadcast-attaches the per-date total back to orders. Inner-join
    semantics are preserved because only dates with a positive window
    total survive the grid join. Values are identical — a per-order
    COUNT over the window is the sum of the day counts inside it —
    and the fact tables are each scanned once and never pair-joined.
    At 100 TB the shuffled bytes are the day grid, not the facts.

    Precondition (verified on every fixture SF before landing): both
    date columns are midnight-aligned, so the half-open interval
    (od, od+7d] contains exactly the seven day-stamps od+1d..od+7d —
    the same day-granularity assumption the r4 bucketing already
    leaned on for its 2-cell bound."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    day_cnt = (
        li.groupBy(F.col("l_shipdate").alias("ship"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    odates = o.select(F.col("o_orderdate").alias("odate")).distinct()
    win_total = (
        odates.select(
            "odate",
            F.explode(
                F.array(*[F.lit(i) for i in range(1, 8)])
            ).alias("__d"),
        )
        .withColumn("ship", F.timestamp_add("DAY", F.col("__d"), F.col("odate")))
        .join(F.broadcast(day_cnt), "ship")
        .groupBy("odate")
        .agg(F.sum("cnt").alias("n_shipped_week"))
    )
    return o.select("o_orderkey", F.col("o_orderdate").alias("odate")).join(
        F.broadcast(win_total), "odate"
    ).select("o_orderkey", "n_shipped_week")


@query(
    "join_multimodal",
    section="2.C",
    oracle="""
SELECT doc_id, lang, n_chars, label, len(embedding) AS dim
FROM documents JOIN embeddings ON doc_id = vec_id
""",
)
def join_multimodal(spark, sf_dir):
    """Text corpus ⋈ vector table on doc_id = vec_id — the multimodal
    spine every similarity/dedup operator builds on."""
    t = load_tables(spark, sf_dir)
    return t.documents.join(
        t.embeddings, t.documents.doc_id == t.embeddings.vec_id
    ).select("doc_id", "lang", "n_chars", "label", F.size("embedding").alias("dim"))


@query(
    "join_null_safe",
    section="2.C",
    oracle="""
WITH fact AS (
  SELECT doc_id, nullif(lang, 'zh') AS lang_key, n_chars FROM documents
), dim AS (
  SELECT nullif(lang, 'zh') AS lang_key, COUNT(*) AS lang_docs
  FROM documents GROUP BY nullif(lang, 'zh')
)
SELECT f.doc_id, f.lang_key, f.n_chars, d.lang_docs
FROM fact f JOIN dim d ON f.lang_key IS NOT DISTINCT FROM d.lang_key
""",
)
def join_null_safe(spark, sf_dir):
    """Null-safe equi join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    MATCH each other instead of vanishing — the semantics late-arriving
    dimension pipelines rely on ('unknown' bucket joins 'unknown').
    Fixtures have no NULL keys, so one is derived (nullif lang='zh');
    a plain equi join would drop every zh row — parity proves they
    survive. Spark plans eqNullSafe as a hash join on coalesced key
    structs, still broadcast-able (dim side here is 5 rows)."""
    d = load_table(spark, sf_dir, "documents")
    key = F.nullif(F.col("lang"), F.lit("zh"))
    fact = d.select("doc_id", key.alias("lang_key"), "n_chars")
    dim = (
        d.select(key.alias("lang_key"))
        .groupBy("lang_key")
        .agg(F.count(F.lit(1)).alias("lang_docs"))
    )
    return fact.join(
        F.broadcast(dim), fact.lang_key.eqNullSafe(dim.lang_key)
    ).select(fact.doc_id, fact.lang_key, fact.n_chars, dim.lang_docs)


@query(
    "join_dynamic_partition_pruning",
    section="2.C",
    oracle="""
WITH dim AS (
  SELECT lang, COUNT(*) AS lang_total FROM documents GROUP BY lang
)
SELECT d.doc_id, d.lang, d.n_chars, dim.lang_total
FROM documents d JOIN dim ON d.lang = dim.lang
WHERE dim.lang_total * 5 < (SELECT COUNT(*) FROM documents)
""",
)
def join_dynamic_partition_pruning(spark, sf_dir):
    """Dynamic partition pruning: the fact side is a hive-partitioned
    layout (partitionBy lang) joined to a dim filtered by a predicate
    the planner can't resolve statically (langs below 1/5 of the
    corpus — only known after the dim aggregates; relative so the
    predicate selects the same langs at every SF). Spark injects a
    `dynamicpruningexpression` subquery into the fact scan so only the
    matching lang partitions are listed/read — at 100 TB this is the
    difference between scanning 2 partitions and all of them
    (plan pinned in tests/test_plans.py). Oracle joins the flat table:
    parity proves the pruned read loses no rows."""
    d = load_table(spark, sf_dir, "documents")
    path = _dpp_artifact(spark, sf_dir)
    fact = spark.read.parquet(path)
    # Relative threshold via an all-rows window over the 5-row dim (a
    # crossjoin-with-total formulation defeats Spark's DPP rule; the
    # window form keeps a plain Filter on the build side, which DPP
    # requires — probed empirically).
    dim = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("lang_total"))
        .withColumn("n_total", F.sum("lang_total").over(Window.partitionBy()))
        .filter(F.col("lang_total") * 5 < F.col("n_total"))
        .drop("n_total")
    )
    return fact.join(dim, "lang").select(
        "doc_id", F.col("lang").cast("string").alias("lang"), "n_chars", "lang_total"
    )


def _dpp_artifact(spark, sf_dir):
    """Write (once per sf_dir) the partitioned fact layout DPP needs."""
    import os

    path = artifact_path("documents_dpp", sf_dir)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        d = load_table(spark, sf_dir, "documents")
        d.select("doc_id", "n_chars", "lang").write.mode("overwrite").partitionBy(
            "lang"
        ).parquet(path)
    return path


# ---------------------------------------------------------------------------
# join_asof_native_pin (round 11) — the as-of rewrite vs the engine
# primitive.
# ---------------------------------------------------------------------------

@query(
    "join_asof_native_pin",
    section="2.C",
    oracle="""
SELECT p.event_id, p.user_id, p.ts, c.ts AS asof_click_ts
FROM (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT user_id, ts FROM events
                WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
)
def join_asof_native_pin(spark, sf_dir):
    """The as-of join rewrite proven against an ENGINE-NATIVE ASOF
    JOIN: Spark still compiles as-of to the interleave-and-carry
    window (union both sides, last non-null click timestamp per user
    ordered by time), while the oracle runs DuckDB's genuine
    `ASOF LEFT JOIN ... ON p.ts >= c.ts` — the first-class primitive
    other engines grew. A hash match here proves the rewrite IS the
    primitive (boundary semantics included: >= takes a click at the
    exact purchase instant; purchases with no prior click carry
    NULL). join_asof/join_asof_directions pin the rewrite against a
    window-form oracle; this pin removes the shared-construction
    blind spot — the two sides no longer share ANY algebra.

    Note the tie nuance this pin ENFORCES: with >= semantics, equal
    click timestamps for one user collapse to the same carried ts
    value, so the carry and the native join agree without an id
    tiebreak (values, not row identities, are joined).

    Scale: one user-keyed window over the filtered union — the
    established as-of shape (one shuffle; state = one timestamp)."""
    e = load_table(spark, sf_dir, "events")
    both = e.filter(F.col("event_type").isin("click", "purchase"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    return (
        both.withColumn("asof_click_ts", F.last(click_ts, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "asof_click_ts")
    )
