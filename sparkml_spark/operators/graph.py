"""Graph / iterative-algorithm operators (§2.I adjuncts): transitive
closure by iterative self-extension and weighted PageRank over an
aggregated trade graph. Together with dedup_cc_clusters (connected
components, llm_dedup.py) these cover the iterative-DataFrame pattern
the reference's MLlib side implies (ALS & co are iterative too).

Scale story (the honest one): the EDGE EXTRACTION is the 100 TB part —
big fact joins that Catalyst plans with broadcast dims and one fact
shuffle. The iteration then runs on the aggregated graph, which is
orders of magnitude smaller (nations: 25 nodes; user hierarchy: one
row per user). Iterating DataFrames over the raw fact table would be
the anti-pattern; aggregate first, iterate small.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkml_spark.registry import query
from sparkml_spark.session import CheckpointChain, cache
from sparkml_spark.sources.loader import load_table


@query(
    "hierarchy_closure",
    section="2.I",
    oracle="""
WITH RECURSIVE nodes AS (
  SELECT DISTINCT user_id + 1 AS node FROM events
), anc AS (
  SELECT node, node AS ancestor, 0 AS depth FROM nodes
  UNION ALL
  SELECT node, ancestor // 2 AS ancestor, depth + 1 AS depth
  FROM anc WHERE ancestor > 1
)
SELECT node, ancestor, depth FROM anc
""",
)
def hierarchy_closure(spark, sf_dir):
    """Transitive closure of a hierarchy (ancestor list per node).
    Spark has no recursive CTE, but this hierarchy's parent function
    is CLOSED-FORM ITERABLE — parent(n) = n DIV 2 over node =
    user_id + 1 (root 1), so the ancestor at depth d is
    shiftright(node, d) — and the whole per-node ancestor chain is ONE
    integer-exact projection: transform over sequence(0, 63) (any
    64-bit id range), filtered to depths whose previous level was
    still above the root, exploded. No driver loop, no scalar action,
    no union tree; plan size is O(1) in the hierarchy depth.

    Round 12 redesign, measured (scripts/deep_plan_probe.py): the
    previous frontier-extension loop (one union branch per level,
    branch k carrying k chained projections) was super-linear in the
    level count — 0.8 s exec at 16 levels, 3.3 s at 32 — and OOM'd
    the JVM outright at the 64 levels a 100 TB id range implies, pure
    plan/codegen bloat on identical data. The closed form is flat:
    0.01 s compile / 0.12 s exec at every depth, row-identical. For
    hierarchies with ARBITRARY parent EDGES (no closed form) the
    iterative pattern remains necessary — with localCheckpoint every
    few levels to truncate the plan, the lesson this redesign pins.
    Oracle: the same recursion as a DuckDB WITH RECURSIVE."""
    e = load_table(spark, sf_dir, "events")
    nodes = e.select((F.col("user_id") + 1).alias("node")).distinct()
    chain = F.expr(
        """filter(
             transform(sequence(0, 63),
                       d -> struct(CAST(d AS INT) AS depth,
                                   shiftright(node, d) AS ancestor)),
             s -> s.depth = 0 OR shiftright(node, s.depth - 1) > 1
           )"""
    )
    return nodes.select("node", F.explode(chain).alias("s")).select(
        "node",
        F.col("s.ancestor").alias("ancestor"),
        F.col("s.depth").alias("depth"),
    )


def _pagerank_oracle(iters: int = 20) -> str:
    """Unrolled fixed-iteration PageRank as DuckDB SQL: 20 chained
    CTEs pr0..pr20, each mirroring the Spark iteration exactly —
    per-term ROUND(rank*p, 12) quantized onto DECIMAL(27,12) before
    the (order-independent, exact) decimal sum, then
    0.15/n + 0.85*double(sum). All float literals are CAST to DOUBLE
    so DuckDB doesn't run them through its DECIMAL literal type
    (decimal 0.15/25 and IEEE 0.15/25 can differ in the last ulp).
    Every CTE is MATERIALIZED: DuckDB otherwise inlines the chain, so
    each pr_i re-expands norm/nodes (each a 6-table join) and the
    20-deep plan explodes combinatorially (observed: >120 s vs ~1 s
    materialized)."""
    head = """
WITH edges AS MATERIALIZED (
  SELECT cn.n_name AS src, sn.n_name AS dst, COUNT(*) AS w
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  GROUP BY cn.n_name, sn.n_name
),
out_w AS MATERIALIZED (SELECT src, SUM(w) AS ow FROM edges GROUP BY src),
norm AS MATERIALIZED (
  SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / CAST(o.ow AS DOUBLE) AS p
  FROM edges e JOIN out_w o ON e.src = o.src
),
nodes AS MATERIALIZED (
  SELECT src AS node FROM norm UNION SELECT dst AS node FROM norm
),
nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
pr0 AS MATERIALIZED (
  SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes
)"""
    steps = []
    for i in range(1, iters + 1):
        steps.append(
            f""",
pr{i} AS MATERIALIZED (
  SELECT nd.node,
         CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
           + CAST(0.85 AS DOUBLE) * CAST(COALESCE(c.s, 0) AS DOUBLE) AS rank
  FROM nodes nd LEFT JOIN (
    SELECT e.dst AS node,
           SUM(CAST(ROUND(p.rank * e.p, 12) AS DECIMAL(27,12))) AS s
    FROM norm e JOIN pr{i - 1} p ON e.src = p.node
    GROUP BY e.dst
  ) c ON nd.node = c.node
)"""
        )
    tail = f"\nSELECT node, ROUND(rank, 6) AS pagerank FROM pr{iters}"
    return head + "".join(steps) + tail


@query("graph_pagerank", section="2.I", oracle=_pagerank_oracle())
def graph_pagerank(spark, sf_dir):
    """Weighted PageRank over the nation-to-nation trade graph: edge
    (customer nation -> supplier nation) weighted by lineitem count,
    extracted with the Q5-style join pipeline (dims broadcast, one
    fact shuffle), then 20 power iterations with damping 0.85 on the
    25-node aggregate. ORACLE tier since round 2: the fixed iteration
    is unrolled into 20 chained DuckDB CTEs (`_pagerank_oracle`) —
    per-term quantization onto a decimal grid before summation makes
    every iteration's sum exact and order-independent in BOTH engines,
    so the hashes match bit-for-bit. The test additionally asserts
    ranks sum to 1 and the iteration is deterministic.

    At scale: iterate on the AGGREGATED graph (nodes x nodes max),
    never the fact table; each iteration is a broadcast join of the
    rank vector against the edge list — no large shuffle inside the
    loop."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cn = n.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("src")
    )
    sn = n.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("dst")
    )
    edges = cache(
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("c_nkey"))
        .join(F.broadcast(sn), s.s_nationkey == F.col("s_nkey"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    out_w = edges.groupBy("src").agg(F.sum("w").alias("out_w"))
    norm = cache(
        edges.join(out_w, "src").select(
            "src", "dst", (F.col("w") / F.col("out_w")).alias("p")
        )
    )
    nodes = cache(
        norm.select(F.col("src").alias("node"))
        .union(norm.select(F.col("dst").alias("node")))
        .distinct()
    )
    # Round 12: route the per-iteration checkpoints through the chain
    # so superseded iterations' blocks are freed (unpersist on the
    # frame is a no-op for checkpoint storage) — tiny state here (25
    # rows), but the hygiene is the pattern, uniform with the BPE
    # trainer and the CC loop.
    chain = CheckpointChain(nodes.sparkSession)
    n_nodes = nodes.count()
    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("rank"))
    for _ in range(20):
        contrib = norm.join(ranks, norm.src == ranks.node).select(
            F.col("dst").alias("node"),
            # quantize each term so the (order-nondeterministic) sum of
            # doubles is exact on a fixed grid -> deterministic ranks
            F.round(F.col("rank") * F.col("p"), 12).cast("decimal(27,12)").alias("t"),
        )
        ranks = chain.step(
            nodes.join(contrib.groupBy("node").agg(F.sum("t").alias("s")), "node", "left")
            .select(
                "node",
                (
                    F.lit(0.15 / n_nodes)
                    + 0.85 * F.coalesce(F.col("s").cast("double"), F.lit(0.0))
                ).alias("rank"),
            )
            # truncate lineage each step: without this the logical plan
            # doubles per iteration (ranks appears under contrib) and
            # analysis alone OOMs by ~iteration 15. The checkpointed
            # state is 25 rows — this is the standard iterative-DF move.
            # coalesce(1): keep the tiny state in one partition so each
            # iteration doesn't schedule 32 near-empty tasks.
            .coalesce(1)
        )
        chain.reap()  # the superseded iteration's 25-row blocks
    return ranks.select("node", F.round("rank", 6).alias("pagerank"))


# ---------------------------------------------------------------------------
# Co-occurrence graph family (round 11): edges -> triangles / label
# propagation / link prediction. The graph is users co-active in the
# same (event_type, hour) bucket — the standard behavioral graph a
# training-data platform derives from an event log.
# ---------------------------------------------------------------------------

#: Celebrity guard: (event_type, hour) buckets with more than this many
#: distinct users are dropped BEFORE pair expansion. Without it the
#: pair join is quadratic in bucket size (a single 10k-user bucket =
#: 50M pairs); with it each bucket emits <= C(20,2) = 190 pairs, so
#: edge count grows linearly with bucket count (i.e. with data size),
#: never quadratically with audience size. This is the production
#: co-occurrence recipe (drop-the-head, not sample-the-head) — the cap
#: binds only at sf0.1+ in the fixtures (max bucket: 3 / 10 / 51 users
#: at sf0.001 / 0.01 / 0.1).
COOCCUR_CAP = 20

_COOCCUR_EDGES_SQL = """
mem AS (
  SELECT DISTINCT event_type, date_trunc('hour', ts) AS h, user_id AS u
  FROM events
), ok AS (
  SELECT event_type, h FROM mem GROUP BY event_type, h
  HAVING COUNT(*) <= 20
), m AS (
  SELECT mem.event_type, mem.h, mem.u
  FROM mem JOIN ok ON ok.event_type = mem.event_type AND ok.h = mem.h
), e AS (
  SELECT m1.u AS a, m2.u AS b, CAST(COUNT(*) AS BIGINT) AS w
  FROM m m1 JOIN m m2
    ON m1.event_type = m2.event_type AND m1.h = m2.h AND m1.u < m2.u
  GROUP BY m1.u, m2.u
)
"""


def _cooccur_edges(spark, sf_dir):
    """Undirected weighted edge list (a < b, w = co-active buckets).

    Plan shape: one distinct over (type, hour, user) — a single
    shuffle on the narrow membership key — then a bucket-local
    self-join (both sides partitioned by the same (type, hour) key, so
    AQE plans it without a second full shuffle of the fact table), a
    HAVING-filtered semi join against the tiny ok-bucket list, and one
    final (a, b) aggregation. The fact table is scanned once; nothing
    after `mem` is proportional to raw event count."""
    e = load_table(spark, sf_dir, "events")
    mem = e.select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("h"),
        F.col("user_id").alias("u"),
    ).distinct()
    ok = (
        mem.groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("n_u"))
        .filter(F.col("n_u") <= COOCCUR_CAP)
        .select("event_type", "h")
    )
    m = mem.join(ok, ["event_type", "h"])
    m1 = m.select("event_type", "h", F.col("u").alias("a"))
    m2 = m.select("event_type", "h", F.col("u").alias("b"))
    return (
        m1.join(m2, ["event_type", "h"])
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )


@query(
    "graph_cooccur_edges",
    section="2.I",
    oracle=f"""
WITH {_COOCCUR_EDGES_SQL}
SELECT a, b, w FROM e
""",
)
def graph_cooccur_edges(spark, sf_dir):
    """Behavioral co-occurrence graph extraction: undirected weighted
    edges between users co-active in the same (event_type, hour)
    bucket, with the celebrity cap documented on COOCCUR_CAP. This is
    the edge-extraction half of the graph family — the 100 TB-shaped
    part (one fact shuffle; everything downstream is graph-sized, not
    event-sized). Full edge list returned so the oracle pins every
    edge and weight, not a summary."""
    return _cooccur_edges(spark, sf_dir)


@query(
    "graph_triangle_count",
    section="2.I",
    oracle=f"""
WITH {_COOCCUR_EDGES_SQL},
und AS (
  SELECT a AS s, b AS t FROM e UNION ALL SELECT b AS s, a AS t FROM e
), deg AS (
  SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY s
), o AS (
  SELECT CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END AS src,
         CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END AS dst
  FROM e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b
), tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM o e1 JOIN o e2 ON e2.src = e1.dst
            JOIN o e3 ON e3.src = e1.src AND e3.dst = e2.dst
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges
  FROM deg
)
SELECT agg.n_nodes,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
       agg.n_wedges,
       tri.n_triangles,
       CASE WHEN agg.n_wedges > 0
            THEN round(3.0 * tri.n_triangles / agg.n_wedges, 6)
            ELSE CAST(0.0 AS DOUBLE) END AS global_clustering
FROM agg CROSS JOIN tri
""",
)
def graph_triangle_count(spark, sf_dir):
    """Triangle counting by degree orientation [the standard
    MapReduce/Spark triangle recipe — Suri & Vassilvitskii, WWW'11
    "Counting Triangles and the Curse of the Last Reducer"]: orient
    each undirected edge from its lexicographically-(degree, id)
    smaller endpoint to the larger, then count directed paths
    e1=(u,v), e2=(v,w) closed by e3=(u,w). Orientation makes every
    node's out-degree O(sqrt(m)), so the wedge join is bounded even
    around hubs — THE property that keeps this linear-ish at 100 TB
    where a naive undirected wedge join melts on the last reducer.
    Output: one row of graph invariants incl. the global clustering
    coefficient 3*triangles/wedges (single exact int division,
    rounded at 6dp on both engines)."""
    e = cache(_cooccur_edges(spark, sf_dir))
    und = e.select(F.col("a").alias("s"), F.col("b").alias("t")).unionAll(
        e.select(F.col("b").alias("s"), F.col("a").alias("t"))
    )
    deg = und.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    smaller_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = cache(
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(smaller_first, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(smaller_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        )
    )
    e1 = o.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    e2 = o.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    e3 = o.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    tri = (
        e1.join(e2, "v")
        .join(e3, ["u", "w"])
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    agg = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) DIV 2")).cast("long").alias("n_wedges"),
    )
    n_edges = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        agg.crossJoin(tri)
        .crossJoin(n_edges)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("global_clustering"),
        )
    )


def _lp_round_sql(k: int) -> str:
    """One unrolled label-propagation round as DuckDB CTEs: unlabeled
    nodes adopt the weighted-mode label among their labeled neighbors
    (weight-sum desc, then smaller label — the deterministic tiebreak
    both engines replay); seeded labels are clamped."""
    p = k - 1
    return f""",
cand{k} AS (
  SELECT und.s AS node, l{p}.lab AS lab, SUM(und.w) AS sw
  FROM und JOIN l{p} ON l{p}.node = und.t
  WHERE l{p}.lab IS NOT NULL
  GROUP BY und.s, l{p}.lab
), pick{k} AS (
  SELECT node, lab FROM (
    SELECT node, lab,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY sw DESC, lab ASC) AS rn
    FROM cand{k}
  ) WHERE rn = 1
), l{k} AS (
  SELECT l{p}.node, COALESCE(l{p}.lab, pick{k}.lab) AS lab
  FROM l{p} LEFT JOIN pick{k} ON pick{k}.node = l{p}.node
)"""


@query(
    "graph_label_propagation",
    section="2.I",
    oracle=f"""
WITH {_COOCCUR_EDGES_SQL},
und AS (
  SELECT a AS s, b AS t, w FROM e UNION ALL SELECT b AS s, a AS t, w FROM e
), l0 AS (
  SELECT DISTINCT s AS node,
         CASE WHEN s % 3 = 0 THEN CAST(s % 7 AS BIGINT) ELSE NULL END AS lab
  FROM und
){_lp_round_sql(1)}{_lp_round_sql(2)}{_lp_round_sql(3)}
SELECT COALESCE(lab, -1) AS label, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM l3 GROUP BY COALESCE(lab, -1)
""",
)
def graph_label_propagation(spark, sf_dir):
    """Semi-supervised label propagation with clamped seeds [Zhu &
    Ghahramani 2002 lineage, synchronized rounds]: seed nodes
    (user_id % 3 == 0) carry label user_id % 7 and never change;
    unlabeled nodes adopt, each round, the weighted-mode label among
    their labeled neighbors (edge-weight sum desc, smaller label on
    ties — fully deterministic, never the engine's native mode()).
    Three synchronized rounds, unrolled identically in the DuckDB
    twin. Output: final label census (label -1 = still unreachable).

    Scale: per the module docstring, iterate-small — all three rounds
    run on the aggregated edge list (graph-sized), each round one
    groupBy + one window on <= |E| rows; the raw event log is touched
    once, inside the shared edge extraction."""
    e = _cooccur_edges(spark, sf_dir)
    und = cache(
        e.select(F.col("a").alias("s"), F.col("b").alias("t"), "w").unionAll(
            e.select(F.col("b").alias("s"), F.col("a").alias("t"), "w")
        )
    )
    labs = und.select(F.col("s").alias("node")).distinct().select(
        "node",
        F.when(F.col("node") % 3 == 0, (F.col("node") % 7).cast("long")).alias("lab"),
    )
    from pyspark.sql import Window

    for _ in range(3):
        # each round reads `labs` TWICE (candidate generation + the
        # clamping left join), so an unmaterialized chain doubles per
        # round — 8 evaluations of round-0 by round 3. Cache the
        # (node-sized, graph-bounded) label state per round instead,
        # the same iterate-small hygiene kcore's survivor set uses.
        # The superseded rounds' caches are left to the sweep-boundary
        # reaper: they cannot be freed mid-build because the lazy
        # caches only materialize (and are re-read by the next round)
        # at the query's first action.
        labs = cache(labs)
        cand = (
            und.join(
                labs.filter(F.col("lab").isNotNull()).withColumnRenamed("node", "t"),
                "t",
            )
            .groupBy(F.col("s").alias("node"), "lab")
            .agg(F.sum("w").alias("sw"))
        )
        wn = Window.partitionBy("node").orderBy(
            F.col("sw").desc(), F.col("lab").asc()
        )
        pick = (
            cand.withColumn("rn", F.row_number().over(wn))
            .filter(F.col("rn") == 1)
            .select("node", F.col("lab").alias("plab"))
        )
        labs = labs.join(pick, "node", "left").select(
            "node", F.coalesce(F.col("lab"), F.col("plab")).alias("lab")
        )
    return labs.groupBy(
        F.coalesce(F.col("lab"), F.lit(-1)).alias("label")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))


@query(
    "graph_jaccard_links",
    section="2.I",
    oracle=f"""
WITH {_COOCCUR_EDGES_SQL},
nb AS (
  SELECT a AS s, b AS t FROM e UNION ALL SELECT b AS s, a AS t FROM e
), deg AS (
  SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS d FROM nb GROUP BY s
), inter AS (
  SELECT n1.t AS a, n2.t AS b, CAST(COUNT(*) AS BIGINT) AS ninter
  FROM nb n1 JOIN nb n2 ON n1.s = n2.s AND n1.t < n2.t
  GROUP BY n1.t, n2.t
), cand AS (
  SELECT i.a, i.b, i.ninter,
         da.d + db.d - i.ninter AS nunion
  FROM inter i
  JOIN deg da ON da.node = i.a JOIN deg db ON db.node = i.b
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = i.a AND e.b = i.b)
)
SELECT a, b, ninter, CAST(nunion AS BIGINT) AS nunion,
       round(CAST(ninter AS DOUBLE) / nunion, 6) AS jaccard
FROM cand
ORDER BY jaccard DESC, a ASC, b ASC
LIMIT 50
""",
)
def graph_jaccard_links(spark, sf_dir):
    """Link prediction by neighbor-Jaccard [Liben-Nowell & Kleinberg
    2003]: for each non-adjacent pair at distance 2, J(a,b) =
    |N(a) inter N(b)| / |N(a) union N(b)|; top-50 candidate links by
    (jaccard desc, a, b). The intersection is counted by a wedge join
    through the common neighbor; the union comes from degrees by
    inclusion-exclusion (no second join); existing edges are removed
    with an anti join. The jaccard double is ONE exact integer
    division (IEEE exactly rounded) so both engines sort identical
    values; (a, b) breaks every remaining tie, so the LIMIT boundary
    is deterministic.

    Scale: wedge-pivot degree is bounded by the COOCCUR_CAP guard
    upstream (a node gains <= CAP-1 neighbors per co-activity bucket),
    so candidate generation is sum-of-squares over CAPPED bucket
    memberships, not over raw hub degrees; the top-50 is a
    TakeOrderedAndProject, never a global sort materialization."""
    e = cache(_cooccur_edges(spark, sf_dir))
    nb = cache(
        e.select(F.col("a").alias("s"), F.col("b").alias("t")).unionAll(
            e.select(F.col("b").alias("s"), F.col("a").alias("t"))
        )
    )
    deg = nb.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    n1 = nb.select("s", F.col("t").alias("a"))
    n2 = nb.select("s", F.col("t").alias("b"))
    inter = (
        n1.join(n2, "s")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("ninter"))
    )
    cand = (
        inter.join(e.select("a", "b"), ["a", "b"], "left_anti")
        .join(deg.select(F.col("node").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("d").alias("db")), "b")
        .select(
            "a",
            "b",
            "ninter",
            (F.col("da") + F.col("db") - F.col("ninter")).cast("long").alias("nunion"),
        )
    )
    return (
        cand.select(
            "a",
            "b",
            "ninter",
            "nunion",
            F.round(F.col("ninter").cast("double") / F.col("nunion"), 6).alias(
                "jaccard"
            ),
        )
        .orderBy(F.col("jaccard").desc(), F.col("a").asc(), F.col("b").asc())
        .limit(50)
    )


def _kcore_peel_sql(r: int, k: int = 3) -> str:
    """One unrolled k-core peeling round as DuckDB CTEs: drop nodes
    whose CURRENT degree (within the surviving subgraph) is below k,
    synchronously."""
    p = r - 1
    return f""",
deg{r} AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT e.a AS s, e.b AS t FROM e
        JOIN n{p} x ON x.node = e.a JOIN n{p} y ON y.node = e.b
        UNION ALL
        SELECT e.b AS s, e.a AS t FROM e
        JOIN n{p} x ON x.node = e.a JOIN n{p} y ON y.node = e.b)
  GROUP BY s
), n{r} AS (
  SELECT s AS node FROM deg{r} WHERE d >= {k}
)"""


@query(
    "graph_kcore_membership",
    section="2.I",
    oracle=f"""
WITH {_COOCCUR_EDGES_SQL},
n0 AS (
  SELECT DISTINCT a AS node FROM e UNION SELECT DISTINCT b AS node FROM e
){_kcore_peel_sql(1)}{_kcore_peel_sql(2)}{_kcore_peel_sql(3)}
SELECT CAST(0 AS BIGINT) AS round, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM n0
UNION ALL
SELECT CAST(1 AS BIGINT), CAST(COUNT(*) AS BIGINT) FROM n1
UNION ALL
SELECT CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT) FROM n2
UNION ALL
SELECT CAST(3 AS BIGINT), CAST(COUNT(*) AS BIGINT) FROM n3
""",
)
def graph_kcore_membership(spark, sf_dir):
    """k-core decomposition by synchronous peeling [Seidman 1983;
    the Batagelj–Zaveršnik target]: repeatedly remove every node
    whose degree WITHIN THE SURVIVING SUBGRAPH is below k=3. Three
    unrolled rounds over the co-occurrence graph, reporting the
    surviving-node census after each peel — the dense-community
    skeleton (influencer cores, spam rings) that degree alone
    misstates because peeling is what removes the hangers-on.
    Convergence to the true 3-core may need more rounds on deeper
    graphs — the BOUNDED-round census is the pinned contract (same
    bounded-iteration posture as graph_label_propagation); full
    fixpoint peeling is the dedup_cc_clusters driver-loop pattern.

    Scale: iterate-small — every round is one degree aggregation and
    one semi-join on the (graph-sized, capped) edge list; the raw
    event log is touched once in the shared extraction."""
    e = cache(_cooccur_edges(spark, sf_dir).select("a", "b"))
    nodes = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .distinct()
    )
    out = [nodes.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
           .select(F.lit(0).cast("long").alias("round"), "n_nodes")]
    surv = nodes
    for r in range(1, 4):
        # cache each round's survivor set: it feeds BOTH sides of the
        # next round's semi-join and the census — without this the
        # lineage re-executes the whole peel chain per consumer
        # (measured 53 s -> ~8 s at sf0.01). Superseded rounds go to
        # the sweep-boundary reaper (they can't be freed mid-build:
        # the lazy caches materialize at the query's first action).
        surv = cache(surv)
        ea = e.join(surv.withColumnRenamed("node", "a"), "a").join(
            surv.withColumnRenamed("node", "b"), "b"
        )
        # explode both endpoints in ONE pass over the surviving-edge
        # join instead of union(select a, select b), which executed
        # the two semi-joins twice per round (guide §2.4, r13)
        und = ea.select(F.explode(F.array("a", "b")).alias("s"))
        deg = und.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
        surv = deg.filter(F.col("d") >= 3).select(F.col("s").alias("node"))
        out.append(
            surv.agg(F.count(F.lit(1)).cast("long").alias("n_nodes")).select(
                F.lit(r).cast("long").alias("round"), "n_nodes"
            )
        )
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res


@query(
    "graph_assortativity",
    section="2.I",
    oracle=f"""
WITH {_COOCCUR_EDGES_SQL},
und AS (
  SELECT a AS s, b AS t FROM e UNION ALL SELECT b AS s, a AS t FROM e
), deg AS (
  SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY s
), ed AS (
  SELECT da.d AS x, db.d AS y
  FROM und JOIN deg da ON da.node = und.s JOIN deg db ON db.node = und.t
), s AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy
  FROM ed
)
SELECT CAST(n AS BIGINT) AS n_directed_edges,
       round((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
         AS assortativity
FROM s
""",
)
def graph_assortativity(spark, sf_dir):
    """Degree assortativity of the co-occurrence graph [Newman 2002]:
    the Pearson correlation of endpoint degrees over all directed
    edge instances — positive means hubs befriend hubs (social
    graphs), negative means hubs attach to the periphery
    (infrastructure). The OLS sufficient-statistic composition on
    exact integer degree products (decimal accumulators — the
    agg_linear_regression overflow posture), two exactly-rounded
    sqrts, one final division.

    Scale: degrees from one aggregation of the (capped) edge list,
    one edge-to-degree equi join per side, a 6-sum fold — graph-sized
    throughout."""
    e = _cooccur_edges(spark, sf_dir).select("a", "b")
    und = e.select(F.col("a").alias("s"), F.col("b").alias("t")).unionAll(
        e.select(F.col("b").alias("s"), F.col("a").alias("t"))
    )
    deg = und.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    ed = (
        und.join(deg.select(F.col("node").alias("s"), F.col("d").alias("x")), "s")
        .join(deg.select(F.col("node").alias("t"), F.col("d").alias("y")), "t")
        .select("x", "y")
    )
    s = ed.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)"))
        .cast("double")
        .alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return s.select(
        F.col("n").cast("long").alias("n_directed_edges"),
        F.round(
            num
            / (
                F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("assortativity"),
    )
