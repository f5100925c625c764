"""§2.I Similarity search over embeddings (SURVEY.md).

Three tiers of the same semantics (top-k cosine neighbors; embeddings
are unit-norm so cosine ≡ dot product, FIXTURES.md):

- sim_topk_bruteforce — exact, ORACLE-checked; O(q·n·d). The semantics
  pin and the small-query-set path.
- sim_lsh_ann — BucketedRandomProjectionLSH blocked candidates (MLlib).
- sim_ivf_ann — IVF: KMeans coarse quantizer, probe nearest nprobe
  cells, exact rerank inside. The classic billion-scale ANN layout,
  expressed relationally (assignments + centroid probe join).

knn_label_vote builds classification on top of the exact top-k.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from sparkml_spark.registry import ZERO_VIOLATIONS, query
from sparkml_spark.session import ARTIFACTS_DIR, cache
from sparkml_spark.sources.loader import load_table

_N_QUERIES = 10
_K = 5


def _dot(a: str, b: str):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


_DOT_SQL = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
)


@query(
    "sim_topk_bruteforce",
    section="2.I",
    oracle=f"""
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_N_QUERIES}),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_DOT_SQL.format(a='q.embedding', b='c.embedding')} AS dot,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY {_DOT_SQL.format(a='q.embedding', b='c.embedding')} DESC,
                    c.vec_id ASC) AS rank
  FROM q JOIN embeddings c ON c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, round(dot, 6) AS cosine, rank
FROM scored WHERE rank <= {_K}
""",
)
def sim_topk_bruteforce(spark, sf_dir):
    """Exact top-5 cosine neighbors for 10 query vectors (brute force:
    broadcast the query set against all candidates, window top-k,
    tie-break on neighbor id).

    DOCUMENTED CUTOFF: exact scan is O(q·n·d) — the right tool when q
    is small (dedup audits, eval sets) even at huge n, since it's one
    linear pass. For large q use the ANN twins below."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id").asc()
    )
    return (
        F.broadcast(q)
        .join(c, F.col("neighbor_id") != F.col("query_id"))
        .withColumn("dot", _dot("q_emb", "c_emb"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _K)
        .select("query_id", "neighbor_id", F.round("dot", 6).alias("cosine"), "rank")
    )


@query(
    "knn_label_vote",
    section="2.I",
    oracle=f"""
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 50),
c AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id >= 50),
scored AS (
  SELECT q.vec_id AS query_id, c.label AS label,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY {_DOT_SQL.format(a='q.embedding', b='c.embedding')} DESC,
                    c.vec_id ASC) AS rank
  FROM q JOIN c ON true
), votes AS (
  SELECT query_id, label, COUNT(*) AS n_votes
  FROM scored WHERE rank <= 10
  GROUP BY query_id, label
)
SELECT query_id, label AS predicted_label, n_votes
FROM (
  SELECT query_id, label, n_votes,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY n_votes DESC, label ASC) AS vr
  FROM votes
)
WHERE vr = 1
""",
)
def knn_label_vote(spark, sf_dir):
    """10-NN majority-label classification of the first 50 vectors
    against the rest (deterministic: rank ties → smaller vec_id, vote
    ties → smaller label)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = e.filter(F.col("vec_id") >= 50).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("label"),
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id").asc()
    )
    w_vote = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("label").asc()
    )
    return (
        F.broadcast(q)
        .crossJoin(c)
        .withColumn("dot", _dot("q_emb", "c_emb"))
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= 10)
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
        .withColumn("vr", F.row_number().over(w_vote))
        .filter(F.col("vr") == 1)
        .select("query_id", F.col("label").alias("predicted_label"), "n_votes")
    )


@query("sim_lsh_ann", section="2.I")
def sim_lsh_ann(spark, sf_dir):
    """ANN via random-hyperplane LSH (ROWS tier, seed=42): bucketed
    random projections block the candidate space, then
    approxSimilarityJoin reranks by true Euclidean distance (on unit
    vectors, euclidean² = 2·(1−cosine), so the ordering is the same).

    The 100 TB path: candidates only ever meet inside a hash bucket —
    shuffle is (bucket, vector), never all-pairs."""
    from pyspark.ml.functions import array_to_vector

    e = load_table(spark, sf_dir, "embeddings")
    vecs = e.select("vec_id", array_to_vector("embedding").alias("features"))
    q = vecs.filter(F.col("vec_id") < _N_QUERIES)
    model = _brp_lsh_model(spark, sf_dir)
    pairs = model.approxSimilarityJoin(q, vecs, 1.2, distCol="euclid")
    w = Window.partitionBy("query_id").orderBy(F.col("euclid").asc(), F.col("neighbor_id").asc())
    return (
        pairs.select(
            F.col("datasetA.vec_id").alias("query_id"),
            F.col("datasetB.vec_id").alias("neighbor_id"),
            F.round(1.0 - F.col("euclid") * F.col("euclid") / 2.0, 6).alias("approx_cosine"),
            F.col("euclid"),
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _K)
        .drop("euclid")
    )


def build_ivf_index(spark, sf_dir):
    """Fit the IVF coarse quantizer (KMeans k=16, seed=42) and return
    the index as two RELATIONS: `assign` (vec_id, embedding, cell) —
    the inverted file — and `centroids` (cell, centroid). Pure data,
    so the index persists as plain parquet (save/load_ivf_index)."""
    return build_ivf_index_from(spark, load_table(spark, sf_dir, "embeddings"))


def build_ivf_index_from(spark, e):
    """build_ivf_index over an arbitrary (vec_id, embedding) frame —
    lets the incremental-ingest op fit the quantizer on the STANDING
    subset only. The quantizer is a session-shared fit (_shared_fit)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from sparkml_spark.operators.ml import _shared_fit

    vecs = e.select("vec_id", "embedding", array_to_vector("embedding").alias("features"))
    model = _shared_fit(
        KMeans(k=16, seed=42, featuresCol="features", predictionCol="cell"), vecs
    )
    assign = model.transform(vecs).select("vec_id", "embedding", "cell")
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cell INT, centroid ARRAY<DOUBLE>",
    )
    return assign, centroids


def ivf_probe_topk(assign, centroids, queries, k=_K, nprobe=4):
    """IVF search against an (assign, centroids) index: each query in
    `queries` (query_id, q_emb) probes its nprobe nearest centroids
    and exact-reranks only vectors assigned to those cells. Returns
    (query_id, neighbor_id, dot, rank<=k); self-matches excluded.

    At scale the posting lists are bucketed by cell so a probe touches
    nprobe/k of the data; centroids are parameter-sized (broadcast)."""
    cdot = F.aggregate(
        F.zip_with("q_emb", "centroid", lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    w_probe = Window.partitionBy("query_id").orderBy(F.col("cdot").desc(), F.col("cell").asc())
    probes = (
        queries.crossJoin(F.broadcast(centroids))
        .withColumn("cdot", cdot)
        .withColumn("pr", F.row_number().over(w_probe))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", "q_emb", "cell")
    )
    cands = probes.join(
        assign.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb"), "cell"),
        "cell",
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    w_rank = Window.partitionBy("query_id").orderBy(F.col("dot").desc(), F.col("neighbor_id").asc())
    return (
        cands.withColumn("dot", _dot("q_emb", "c_emb"))
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "dot", "rank")
    )


def _ivf_default_queries(assign):
    return assign.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )


@query("sim_ivf_ann", section="2.I")
def sim_ivf_ann(spark, sf_dir):
    """IVF-style ANN (ROWS tier, seed=42): KMeans(k=16) coarse
    quantizer; each query probes its nprobe=4 nearest centroids and
    exact-reranks only vectors assigned to those cells.

    Relational layout of a vector index: `assign` (cell → vectors) is
    the inverted file, `probe` is a broadcast join on cell id — at
    scale the posting lists are bucketed by cell so a probe touches
    nprobe/k of the data."""
    assign, centroids = build_ivf_index(spark, sf_dir)
    return ivf_probe_topk(assign, centroids, _ivf_default_queries(assign)).select(
        "query_id", "neighbor_id", F.round("dot", 6).alias("cosine"), "rank"
    )


@query(
    "multimodal_enrich",
    section="2.I",
    oracle="""
SELECT lang, label, COUNT(*) AS n_docs,
       CAST(SUM(CAST(n_chars AS DECIMAL(18,0))) AS DOUBLE) / COUNT(*) AS avg_chars,
       CAST(SUM(CAST(round(
           list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 9)
           AS DECIMAL(14,9))) AS DOUBLE) / COUNT(*) AS avg_norm_sq
FROM documents JOIN embeddings ON doc_id = vec_id
GROUP BY lang, label
""",
)
def multimodal_enrich(spark, sf_dir):
    """Text stats ⋈ vector stats per (lang, label): the multimodal
    aggregation pattern (extend with binary media columns via
    operators/multimodal.py). Per-row fold dots are quantized to a
    1e-9 decimal grid before the cross-row average so the aggregation
    is order-exact."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    norm_sq = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    joined = d.join(e, d.doc_id == e.vec_id).withColumn(
        "norm_q", F.round(norm_sq, 9).cast("decimal(14,9)")
    )
    return joined.groupBy("lang", "label").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum(F.col("n_chars").cast("decimal(18,0)")).cast("double") / F.count(F.lit(1))).alias(
            "avg_chars"
        ),
        (F.sum("norm_q").cast("double") / F.count(F.lit(1))).alias("avg_norm_sq"),
    )


@query(
    "sim_centroid_assign",
    section="2.I",
    oracle="""
WITH x AS (
  SELECT vec_id, label, i - 1 AS pos, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS val
  FROM embeddings, unnest(range(1, 65)) AS t(i)
), cent AS (
  SELECT label AS clabel, pos,
         CAST(SUM(CAST(val AS DECIMAL(27,9))) AS DOUBLE) / COUNT(*) AS c
  FROM x GROUP BY label, pos
), d AS (
  SELECT x.vec_id, x.label, cent.clabel,
         CAST(SUM(CAST(round((x.val - cent.c) * (x.val - cent.c), 12)
                       AS DECIMAL(30,12))) AS DOUBLE) AS dist2
  FROM x JOIN cent ON x.pos = cent.pos
  GROUP BY x.vec_id, x.label, cent.clabel
), r AS (
  SELECT vec_id, label, clabel, dist2,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY round(dist2, 9), clabel) AS rn
  FROM d
)
SELECT vec_id, label, clabel AS assigned_label,
       round(dist2, 6) AS dist2,
       label = clabel AS is_match
FROM r WHERE rn = 1
""",
)
def sim_centroid_assign(spark, sf_dir):
    """Relational k-means E-step: per-label centroids (exact decimal
    mean per dimension), every vector assigned to its nearest centroid
    by squared L2 — the cluster-dedup / IVF-routing primitive written
    as pure DataFrame ops (the MLlib twin is ml_clustering). Fixtures
    are 64-d (pinned in the oracle's range).

    Parity: centroid = exact decimal mean; per-dimension squared
    residuals quantized at 12 dp and decimal-summed; argmin on the
    9 dp-rounded distance with label tie-break.

    Scale: explode to (vec, dim, val) — narrow; centroids are
    k x dims rows (broadcast); the assignment join is per-dimension
    with map-side partial sums, so nothing ever shuffles at
    vectors x k granularity except the final k-row-per-vector argmin.
    For billion-vector corpora this is exactly sim_ivf_ann's routing
    stage."""
    e = load_table(spark, sf_dir, "embeddings")
    x = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "fval")
    ).select("vec_id", "label", "pos", F.col("fval").cast("double").alias("val"))
    cent = x.groupBy(F.col("label").alias("clabel"), "pos").agg(
        (
            F.sum(F.col("val").cast("decimal(27,9)")).cast("double")
            / F.count(F.lit(1))
        ).alias("c")
    )
    resid = F.round((F.col("val") - F.col("c")) * (F.col("val") - F.col("c")), 12)
    d = (
        x.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "label", "clabel")
        .agg(F.sum(resid.cast("decimal(30,12)")).cast("double").alias("dist2"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.round("dist2", 9), "clabel")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "label",
            F.col("clabel").alias("assigned_label"),
            F.round("dist2", 6).alias("dist2"),
            (F.col("label") == F.col("clabel")).alias("is_match"),
        )
    )


_Q8_SQL = (
    "list_transform({v}, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 + 0.5) AS BIGINT))"
)
_IDOT_SQL = (
    "CAST(list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2])) AS BIGINT)"
)


@query(
    "sim_quantized_int8",
    section="2.I",
    oracle=f"""
WITH qz AS (
  SELECT vec_id, {_Q8_SQL.format(v='embedding')} AS q8 FROM embeddings
),
q AS (SELECT vec_id, q8 FROM qz WHERE vec_id < {_N_QUERIES}),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_IDOT_SQL.format(a='q.q8', b='c.q8')} AS qdot,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY {_IDOT_SQL.format(a='q.q8', b='c.q8')} DESC,
                    c.vec_id ASC) AS rank
  FROM q JOIN qz c ON c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, qdot, rank
FROM scored WHERE rank <= {_K}
""",
)
def sim_quantized_int8(spark, sf_dir):
    """Scalar int8 quantization for similarity at scale: embeddings are
    unit-norm, so each dim fits [-1,1] → round-half-up to an int8 grid
    (x*127), then rank neighbors by INTEGER dot product. This is the
    standard 4x memory/bandwidth reduction for billion-vector corpora
    (float32→int8) — candidate generation runs on the quantized
    vectors, exact float rerank only on the short list (here the pin
    IS the quantized ranking, fully integer ⇒ exact cross-engine hash,
    no float drift by construction). Quantization and dot are
    codegen'd higher-order expressions — no UDFs, columnar all the
    way; the top-k is the same broadcast + window shape as
    sim_topk_bruteforce."""
    e = load_table(spark, sf_dir, "embeddings")
    qz = e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(127.0) + F.lit(0.5)).cast("long"),
        ).alias("q8"),
    )
    q = qz.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("q8").alias("q_q8")
    )
    c = qz.select(F.col("vec_id").alias("neighbor_id"), F.col("q8").alias("c_q8"))
    idot = F.aggregate(
        F.zip_with("q_q8", "c_q8", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qdot").desc(), F.col("neighbor_id").asc()
    )
    return (
        F.broadcast(q)
        .join(c, F.col("neighbor_id") != F.col("query_id"))
        .withColumn("qdot", idot)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _K)
        .select("query_id", "neighbor_id", "qdot", "rank")
    )


@query("sim_ann_recall_bound", section="2.I", oracle=ZERO_VIOLATIONS)
def sim_ann_recall_bound(spark, sf_dir):
    """ORACLE pin for sim_lsh_ann / sim_ivf_ann (VERDICT r6 #3): the
    bucketed candidates are seed-specific, but ANN quality is the
    contract — recall@5 against the exact brute-force top-k (itself
    ORACLE-green) must beat a floor, and no ANN result may be a
    self-match or exceed k rows per query. Floors (LSH >= 0.6,
    IVF >= 0.3) sit well under the measured tri-scale minima
    (0.82/0.48) but orders of magnitude above the ~k/n random floor,
    so a broken index fails while LSH draw variance cannot.
    Violations = failed floors + structural breaks; oracle pins 0.

    The exact top-k subplan is cached: it feeds three consumers (the
    n_exact count plus one semi-join per audited index), and the
    O(q·n·d) brute force is the most expensive subplan here — without
    the cache it executes three times per run. What is cached is the
    brute-force OUTPUT (q·k ≈ 100 rows of two longs, ~KBs), not its
    input; the sweep-boundary reaper frees it.

    Timing caveat (ADVICE r7): Spark dedups cache entries by logical
    plan, so REPEATED same-session executions of this query (bench
    steady loops, stress repeats) hit the cached exact top-k — run 2+
    wall time EXCLUDES the O(q·n·d) brute-force stage. Any timing
    claim about this query must use the first (cold) execution or a
    fresh session; correctness is unaffected either way."""
    exact = cache(sim_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id"))
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))

    def audit(df, tag, floor):
        hits = (
            df.select("query_id", "neighbor_id")
            .join(exact, ["query_id", "neighbor_id"], "left_semi")
            .agg(F.count(F.lit(1)).alias("n_hit"))
        )
        structural = df.agg(
            F.count_if(F.col("query_id") == F.col("neighbor_id")).alias("n_self"),
            F.count_if(F.col("rank") > _K).alias("n_overk"),
        )
        return (
            hits.crossJoin(n_exact)
            .crossJoin(structural)
            .select(
                (
                    (F.col("n_hit") < floor * F.col("n_exact")).cast("bigint")
                    + F.col("n_self")
                    + F.col("n_overk")
                ).alias(f"v_{tag}")
            )
        )

    lsh = audit(sim_lsh_ann(spark, sf_dir), "lsh", 0.6)
    ivf = audit(sim_ivf_ann(spark, sf_dir), "ivf", 0.3)
    return lsh.crossJoin(ivf).select(
        (F.col("v_lsh") + F.col("v_ivf")).alias("n_violations")
    )


_RRF_K = 60
_RRF_TOPN = 100


def _rrf_contrib_sql(rank: str) -> str:
    return f"CAST(round(1000000.0 / ({_RRF_K} + {rank})) AS BIGINT)"


@query(
    "sim_rrf_fusion",
    section="2.I",
    oracle=None,  # set below — needs llm_text's shared BM25 CTE
)
def sim_rrf_fusion(spark, sf_dir, ann: bool = False):
    """Hybrid retrieval with reciprocal-rank fusion [Cormack et al.
    2009]: the lexical arm ranks documents by BM25 against the fixed
    query-term set (shared definition with text_bm25_score), the
    dense arm ranks embeddings by cosine to a fixed query vector
    (vec_id 0 — doc and vector ids share one key space, see
    join_multimodal), each arm keeps its top-100, and the fused score
    is sum over arms of 1/(60 + rank) — in exact integer MICRO units,
    so the cross-engine hash never rides on float sum order. Absent
    ranks contribute 0 and report rank 0 (standard RRF over
    heterogeneous retrievers; a doc can chart on either arm alone).

    Scale: each arm is a global top-k — Spark compiles
    orderBy().limit(k) to TakeOrderedAndProject, a per-partition
    partial top-k + driver merge of k*partitions rows, never a global
    sort — and the rank windows then run on <= 100-row parameter-
    sized sets (the budgets/offsets pattern, not a corpus window).
    The fusion join is a <=200-row full outer. At 100 TB the dense
    arm's linear scan is replaced by the ANN twins — and that swap is
    EXECUTABLE, not prose: ``ann=True`` (registered as
    sim_rrf_fusion_ann) routes the dense arm through the persisted
    IVF index's probe path (ivf_probe_topk over the index RELOADED
    from parquet), touching only nprobe/k of the vectors while the
    fusion shape is unchanged; sim_rrf_fusion_ann_bound pins the lex
    arm identical and the dense arm's overlap floor."""
    from sparkml_spark.operators.llm_text import bm25_scores

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")

    lex = (
        bm25_scores(d)
        .orderBy(F.desc("bm25_micro"), F.asc("doc_id"))
        .limit(_RRF_TOPN)
        .withColumn(
            "lex_rank",
            F.row_number().over(
                Window.orderBy(F.desc("bm25_micro"), F.asc("doc_id"))
            ),
        )
        .select("doc_id", "lex_rank")
    )
    if ann:
        assign, centroids = load_ivf_index(
            spark, ensure_ivf_index(spark, sf_dir)
        )
        q0 = e.filter(F.col("vec_id") == 0).select(
            F.lit(0).cast("long").alias("query_id"),
            F.col("embedding").alias("q_emb"),
        )
        # nprobe=8 of 16 cells: the deep top-100 tail needs more probes
        # than the top-5 query path (measured overlap 27%@4 → 74%@8 at
        # sf0.01) — nprobe is THE production recall/latency knob, tuned
        # here to hold the 0.3 floor with >2× margin at every fixture
        # scale while still touching only nprobe/k of the posting lists.
        vec = (
            ivf_probe_topk(assign, centroids, q0, k=_RRF_TOPN, nprobe=8)
            .withColumn(
                "vec_rank",
                F.row_number().over(
                    Window.orderBy(F.desc("dot"), F.asc("neighbor_id"))
                ),
            )
            .select(F.col("neighbor_id").alias("vec_id"), "vec_rank")
        )
    else:
        q = F.broadcast(
            e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
        )
        vec = (
            e.filter(F.col("vec_id") != 0)
            .select("vec_id", "embedding")
            .crossJoin(q)
            .withColumn("dot", _dot("embedding", "q_emb"))
            .orderBy(F.desc("dot"), F.asc("vec_id"))
            .limit(_RRF_TOPN)
            .withColumn(
                "vec_rank",
                F.row_number().over(Window.orderBy(F.desc("dot"), F.asc("vec_id"))),
            )
            .select("vec_id", "vec_rank")
        )
    fused = lex.join(vec, lex.doc_id == vec.vec_id, "full_outer")
    contrib = lambda r: F.coalesce(  # noqa: E731
        F.round(F.lit(1000000.0) / (_RRF_K + F.col(r))).cast("bigint"), F.lit(0)
    )
    return fused.select(
        F.coalesce(F.col("doc_id"), F.col("vec_id")).alias("id"),
        F.coalesce(F.col("lex_rank"), F.lit(0)).cast("int").alias("lex_rank"),
        F.coalesce(F.col("vec_rank"), F.lit(0)).cast("int").alias("vec_rank"),
        (contrib("lex_rank") + contrib("vec_rank")).alias("rrf_micro"),
    )


def _rrf_oracle() -> str:
    from sparkml_spark.operators.llm_text import BM25_CTE

    return f"""
WITH {BM25_CTE},
lex_lim AS (
  SELECT doc_id, bm25_micro FROM bm25
  ORDER BY bm25_micro DESC, doc_id ASC LIMIT {_RRF_TOPN}
),
lex_top AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25_micro DESC, doc_id ASC) AS lex_rank
  FROM lex_lim
),
qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
vec_scored AS (
  SELECT c.vec_id, {_DOT_SQL.format(a='c.embedding', b='qv.embedding')} AS dot
  FROM embeddings c CROSS JOIN qv WHERE c.vec_id <> 0
),
vec_lim AS (
  SELECT vec_id, dot FROM vec_scored ORDER BY dot DESC, vec_id ASC LIMIT {_RRF_TOPN}
),
vec_top AS (
  SELECT vec_id,
         row_number() OVER (ORDER BY dot DESC, vec_id ASC) AS vec_rank
  FROM vec_lim
)
SELECT COALESCE(l.doc_id, v.vec_id) AS id,
       CAST(COALESCE(l.lex_rank, 0) AS INTEGER) AS lex_rank,
       CAST(COALESCE(v.vec_rank, 0) AS INTEGER) AS vec_rank,
       CAST(COALESCE({_rrf_contrib_sql('l.lex_rank')}, 0)
          + COALESCE({_rrf_contrib_sql('v.vec_rank')}, 0) AS BIGINT) AS rrf_micro
FROM lex_top l FULL OUTER JOIN vec_top v ON l.doc_id = v.vec_id
""".strip()


from sparkml_spark import registry as _registry  # noqa: E402

_registry.ORACLES["sim_rrf_fusion"] = _rrf_oracle()
_registry.META["sim_rrf_fusion"]["tier"] = "ORACLE"


_MMR_POOL = 50
_MMR_K = 10


def _micro(col):
    """Exact integer micro-units of a double score — F.round is
    half-away-from-zero; the numpy twin in _mmr_result matches it
    explicitly so greedy and verifier quantize identically."""
    return F.round(col * 1000000).cast("bigint")


def _mmr_candidates(e):
    """Top-{pool} candidates by exact cosine to query vec 0, with
    integer-micro relevance and the embedding kept for pairwise
    sims."""
    q = F.broadcast(
        e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    )
    return (
        e.filter(F.col("vec_id") != 0)
        .select("vec_id", "embedding")
        .crossJoin(q)
        .withColumn("rel_micro", _micro(_dot("embedding", "q_emb")))
        .orderBy(F.desc("rel_micro"), F.asc("vec_id"))
        .limit(_MMR_POOL)
        .select("vec_id", "embedding", "rel_micro")
    )


def _mmr_result(spark, sf_dir):
    """Greedy MMR selection (lambda = 0.5, objective rel - maxsim in
    integer micros — the 0.5 scaling cancels in the argmax) over the
    candidate pool, as ONE applyInPandas group: the pool is
    query-bounded ({pool} rows), so the sequential greedy is
    parameter-sized work — the packer-recurrence escape hatch, not a
    corpus-sized Python path."""
    import numpy as np
    import pandas as pd

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        V = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        # Pairwise dots with the SAME left-to-right sequential fold as
        # _dot's F.aggregate — BLAS (V @ V.T) sums in blocked order and
        # its last-ulp differences flip integer micros at rounding
        # boundaries, which sim_mmr_bound then flags (measured: 8
        # boundary flips on the sf0.01 pool before this fix).
        n_ = len(pdf)
        raw = np.zeros((n_, n_), dtype=np.float64)
        for k in range(V.shape[1]):
            raw += V[:, k][:, None] * V[None, :, k]
        raw *= 1e6
        # half-away-from-zero, matching F.round / DuckDB round
        sims = np.where(raw >= 0, np.floor(raw + 0.5), np.ceil(raw - 0.5)).astype(
            "int64"
        )
        rel = pdf["rel_micro"].to_numpy(dtype="int64")
        n = len(pdf)
        picked: list[int] = []
        # -inf sentinel, NOT zeros: sims can be negative, and a zero
        # floor silently clips max-sim-to-selected at 0 — the verifier
        # (sim_mmr_bound) caught exactly this as 8 greedy-optimality
        # violations on the sf0.01 pool.
        maxsim = np.full(n, -(2**62), dtype="int64")
        out = []
        for step in range(min(_MMR_K, n)):
            obj = rel.copy() if step == 0 else rel - maxsim
            mask = np.ones(n, dtype=bool)
            mask[picked] = False
            best = int(np.flatnonzero(mask & (obj == obj[mask].max()))[0])
            out.append(
                (
                    step + 1,
                    int(pdf["vec_id"][best]),
                    int(rel[best]),
                    0 if step == 0 else int(maxsim[best]),
                    int(obj[best]),
                )
            )
            picked.append(best)
            maxsim = np.maximum(maxsim, sims[:, best])
        return pd.DataFrame(
            out,
            columns=["mmr_rank", "vec_id", "rel_micro", "maxsim_micro", "obj_micro"],
        )

    e = load_table(spark, sf_dir, "embeddings")
    return (
        _mmr_candidates(e)
        .withColumn("g", F.lit(0))
        .groupBy("g")
        .applyInPandas(
            greedy,
            "mmr_rank int, vec_id long, rel_micro long, maxsim_micro long, "
            "obj_micro long",
        )
    )


@query("sim_mmr_rerank", section="2.I")
def sim_mmr_rerank(spark, sf_dir):
    """Maximal Marginal Relevance re-ranking [Carbonell & Goldstein
    1998] of the dense top-{pool}: greedily pick the candidate
    maximizing relevance-to-query minus max-similarity-to-already-
    selected (lambda = 0.5), 10 picks — the diversity-aware rerank a
    retrieval stack runs on top of sim_rrf_fusion's fused list.
    ROWS tier (iterative greedy is not SQL-expressible); every
    structural property of the selection is hash-pinned by
    sim_mmr_bound, including per-step greedy OPTIMALITY — a stronger
    pin than output replication, since it verifies the algorithm's
    defining invariant rather than one trace of it.

    Scale: candidate generation is the TakeOrderedAndProject top-k
    arm (ANN twins replace it at scale); the greedy itself is
    O(pool * k) on a parameter-sized set in one Arrow batch."""
    return _mmr_result(spark, sf_dir)


@query("sim_mmr_bound", section="2.I", oracle=ZERO_VIOLATIONS)
def sim_mmr_bound(spark, sf_dir):
    """ORACLE pin for sim_mmr_rerank: recomputes, RELATIONALLY and in
    exact integer micros, the greedy invariant at every step —
      (a) exactly {k} rows, ranks 1..{k}, no duplicate picks;
      (b) rank 1 maximizes relevance (ties -> smallest vec_id);
      (c) for every later rank r, no unselected candidate beats the
          pick's objective rel - max(sim to the rank<r prefix), and
          no equal-objective candidate has a smaller vec_id.
    Any nonzero count means the Python greedy and the declarative
    semantics diverged (quantization drift, tie-break bug, prefix
    tracking bug)."""
    res = _mmr_result(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    cand = _mmr_candidates(e)

    n_rows = res.agg(
        (
            F.sum(F.when(F.col("mmr_rank").between(1, _MMR_K), 0).otherwise(1))
            + F.when(F.count(F.lit(1)) == _MMR_K, 0).otherwise(1)
            + F.when(F.count_distinct(F.col("vec_id")) == _MMR_K, 0).otherwise(1)
        ).alias("v_shape")
    )

    best_rel = cand.orderBy(F.desc("rel_micro"), F.asc("vec_id")).limit(1)
    first = res.filter(F.col("mmr_rank") == 1).select(
        F.col("vec_id").alias("first_id")
    )
    v_first = (
        best_rel.crossJoin(first)
        .agg(
            F.sum(F.when(F.col("vec_id") == F.col("first_id"), 0).otherwise(1))
            .alias("v_first")
        )
    )

    # pairwise candidate sims in integer micros (same quantization as
    # the numpy greedy — F.round is half-away-from-zero)
    sel = res.select(
        F.col("mmr_rank").alias("p_rank"),
        F.col("vec_id").alias("p_id"),
    ).join(cand.select(F.col("vec_id").alias("p_id"),
                       F.col("embedding").alias("p_emb")), "p_id")
    ps = (
        cand.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"))
        .crossJoin(F.broadcast(sel))
        .select("c_id", "p_rank", _micro(_dot("c_emb", "p_emb")).alias("sim_micro"))
    )
    steps = res.filter(F.col("mmr_rank") >= 2).select(
        F.col("mmr_rank").alias("r"),
        F.col("vec_id").alias("sel_id"),
        F.col("obj_micro").alias("sel_obj"),
    )
    scored = (
        F.broadcast(steps)
        .join(ps, F.col("p_rank") < F.col("r"))
        .groupBy("r", "sel_id", "sel_obj", "c_id")
        .agg(F.max("sim_micro").alias("maxsim"))
        .join(
            cand.select(F.col("vec_id").alias("c_id"), "rel_micro"), "c_id"
        )
        .withColumn("obj", F.col("rel_micro") - F.col("maxsim"))
    )
    # drop candidates already selected before step r
    prior = res.select(
        F.col("mmr_rank").alias("q_rank"), F.col("vec_id").alias("q_id")
    )
    eligible = scored.join(
        F.broadcast(prior),
        (F.col("c_id") == F.col("q_id")) & (F.col("q_rank") < F.col("r")),
        "left_anti",
    )
    v_greedy = eligible.agg(
        F.sum(
            F.when(
                (F.col("obj") > F.col("sel_obj"))
                | ((F.col("obj") == F.col("sel_obj")) & (F.col("c_id") < F.col("sel_id"))),
                1,
            ).otherwise(0)
        ).alias("v_greedy")
    )
    return (
        n_rows.crossJoin(v_first)
        .crossJoin(v_greedy)
        .select(
            (F.col("v_shape") + F.col("v_first") + F.col("v_greedy"))
            .cast("bigint")
            .alias("n_violations")
        )
    )


# ---------------------------------------------------------------------------
# ANN index PERSISTENCE (round 11) — the index as a saved artifact
# ---------------------------------------------------------------------------

def ensure_ivf_index(spark, sf_dir) -> str:
    """Build the IVF index and persist it to parquet (idempotent,
    keyed by scale dir): assign/ is the inverted file, centroids/ the
    coarse quantizer — plain relations, so reload needs no ML-library
    deserialization and the index is queryable by ANY engine that
    reads parquet. Returns the index root path."""
    import os

    path = os.path.join(
        ARTIFACTS_DIR,
        f"ivf_index_{os.path.basename(sf_dir.rstrip('/'))}",
    )

    def _build() -> str:
        assign, centroids = build_ivf_index(spark, sf_dir)
        assign.write.mode("overwrite").parquet(os.path.join(path, "assign"))
        centroids.write.mode("overwrite").parquet(os.path.join(path, "centroids"))
        return path

    # Written once per SparkContext, not once per caller. The memo is
    # keyed by applicationId, so a fresh process always rebuilds and
    # rewrites from source (a stale on-disk artifact from an earlier
    # process is never trusted).
    from sparkml_spark.session import session_artifact

    return session_artifact(
        spark, ("sim_ivf_index_path", os.path.realpath(sf_dir)), _build
    )


def load_ivf_index(spark, path: str):
    """Reload a persisted IVF index: (assign, centroids)."""
    import os

    return (
        spark.read.parquet(os.path.join(path, "assign")),
        spark.read.parquet(os.path.join(path, "centroids")),
    )


def ensure_lsh_model(spark, sf_dir) -> str:
    """Fit and persist the LSH model via MLlib pipeline persistence
    (MLWriter parquet format) — the second index artifact family.
    Returns the model path."""
    import os

    path = os.path.join(
        ARTIFACTS_DIR,
        f"lsh_model_{os.path.basename(sf_dir.rstrip('/'))}",
    )

    def _build() -> str:
        _brp_lsh_model(spark, sf_dir).write().overwrite().save(path)
        return path

    # One MLWriter materialization per SparkContext (see
    # ensure_ivf_index for the scope rules).
    from sparkml_spark.session import session_artifact

    return session_artifact(
        spark, ("sim_lsh_model_path", os.path.realpath(sf_dir)), _build
    )


def _brp_lsh_model(spark, sf_dir):
    """The family's one BucketedRandomProjectionLSH fit (bucketLength
    0.5, 4 tables, seed 42), shared across the session (_shared_fit)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    from sparkml_spark.operators.ml import _shared_fit

    e = load_table(spark, sf_dir, "embeddings")
    return _shared_fit(
        BucketedRandomProjectionLSH(
            inputCol="features", outputCol="hashes",
            bucketLength=0.5, numHashTables=4, seed=42,
        ),
        e.select("vec_id", array_to_vector("embedding").alias("features")),
    )


def _lsh_topk_from_model(spark, sf_dir, model):
    """sim_lsh_ann's candidate+rerank path against a GIVEN model."""
    from pyspark.ml.functions import array_to_vector

    e = load_table(spark, sf_dir, "embeddings")
    vecs = e.select("vec_id", array_to_vector("embedding").alias("features"))
    q = vecs.filter(F.col("vec_id") < _N_QUERIES)
    pairs = model.approxSimilarityJoin(q, vecs, 1.2, distCol="euclid")
    w = Window.partitionBy("query_id").orderBy(
        F.col("euclid").asc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.select(
            F.col("datasetA.vec_id").alias("query_id"),
            F.col("datasetB.vec_id").alias("neighbor_id"),
            F.col("euclid"),
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _K)
    )


@query("sim_ivf_ann_persisted", section="2.I")
def sim_ivf_ann_persisted(spark, sf_dir):
    """sim_ivf_ann through the full persistence round trip (VERDICT
    r10 #4): fit the KMeans quantizer, MATERIALIZE the index to
    parquet (inverted file + centroid table), RELOAD it, and answer
    the standard query set from the reloaded relations — the
    build-once / serve-many lifecycle a production vector index runs
    (the 100 TB index is maintained as a bucketed table, not refit
    per query). ROWS tier like its fresh-index twin;
    sim_ann_recall_reload_bound pins reload == fresh exactly plus
    the recall floor."""
    assign, centroids = load_ivf_index(spark, ensure_ivf_index(spark, sf_dir))
    return ivf_probe_topk(assign, centroids, _ivf_default_queries(assign)).select(
        "query_id", "neighbor_id", F.round("dot", 6).alias("cosine"), "rank"
    )


@query("sim_ann_recall_reload_bound", section="2.I", oracle=ZERO_VIOLATIONS)
def sim_ann_recall_reload_bound(spark, sf_dir):
    """ORACLE pin for the persisted-index lifecycle, counted as exact
    integer violations:
      (a) round-trip fidelity — the RELOADED IVF index answers the
          query set IDENTICALLY to the fresh in-session index
          (symmetric exceptAll on the full result rows; KMeans at
          seed 42 is deterministic, so any drift is a serialization
          bug, not noise). Same check for the RELOADED LSH model vs
          a fresh fit (MLWriter round trip).
      (b) index integrity — 16 centroid rows; the inverted file
          covers every vector exactly once.
      (c) recall floors vs the exact top-k (same floors as
          sim_ann_recall_bound: IVF >= 0.3, LSH >= 0.6) evaluated
          against the RELOADED artifacts — the reload is what
          production queries, so the reload is what the bound
          audits.
      (d) structure — no self-match, no rank beyond k."""
    from pyspark.ml.feature import BucketedRandomProjectionLSHModel

    # --- IVF: fresh vs reloaded
    fresh_a, fresh_c = build_ivf_index(spark, sf_dir)
    ivf_fresh = ivf_probe_topk(fresh_a, fresh_c, _ivf_default_queries(fresh_a)).select(
        "query_id", "neighbor_id", "rank"
    )
    re_a, re_c = load_ivf_index(spark, ensure_ivf_index(spark, sf_dir))
    ivf_re = ivf_probe_topk(re_a, re_c, _ivf_default_queries(re_a)).select(
        "query_id", "neighbor_id", "rank"
    )
    v_ivf_rt = (
        ivf_fresh.exceptAll(ivf_re)
        .unionByName(ivf_re.exceptAll(ivf_fresh))
        .agg(F.count(F.lit(1)).alias("v_ivf_rt"))
    )
    n_vecs = load_table(spark, sf_dir, "embeddings").agg(
        F.count(F.lit(1)).alias("n_vecs")
    )
    v_integrity = (
        re_c.agg(F.count(F.lit(1)).alias("n_cells"))
        .crossJoin(re_a.agg(F.count_distinct("vec_id").alias("n_assigned")))
        .crossJoin(n_vecs)
        .select(
            (
                (F.col("n_cells") != 16).cast("bigint")
                + (F.col("n_assigned") != F.col("n_vecs")).cast("bigint")
            ).alias("v_integrity")
        )
    )
    # --- LSH: fresh vs reloaded (MLWriter round trip). The
    # "fresh" side is the session's shared seeded fit — identical to
    # the refit it replaces (seed 42 draw); the reload side still
    # exercises the full MLWriter round trip per run.
    lsh_fresh_model = _brp_lsh_model(spark, sf_dir)
    lsh_re_model = BucketedRandomProjectionLSHModel.load(
        ensure_lsh_model(spark, sf_dir)
    )
    lsh_fresh = _lsh_topk_from_model(spark, sf_dir, lsh_fresh_model).select(
        "query_id", "neighbor_id", "rank"
    )
    lsh_re = _lsh_topk_from_model(spark, sf_dir, lsh_re_model).select(
        "query_id", "neighbor_id", "rank"
    )
    v_lsh_rt = (
        lsh_fresh.exceptAll(lsh_re)
        .unionByName(lsh_re.exceptAll(lsh_fresh))
        .agg(F.count(F.lit(1)).alias("v_lsh_rt"))
    )
    # --- recall floors + structure against the RELOADED artifacts
    exact = cache(sim_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id"))
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))

    def audit(df, tag, floor):
        hits = (
            df.select("query_id", "neighbor_id")
            .join(exact, ["query_id", "neighbor_id"], "left_semi")
            .agg(F.count(F.lit(1)).alias("n_hit"))
        )
        structural = df.agg(
            F.count_if(F.col("query_id") == F.col("neighbor_id")).alias("n_self"),
            F.count_if(F.col("rank") > _K).alias("n_overk"),
        )
        return (
            hits.crossJoin(n_exact)
            .crossJoin(structural)
            .select(
                (
                    (F.col("n_hit") < floor * F.col("n_exact")).cast("bigint")
                    + F.col("n_self")
                    + F.col("n_overk")
                ).alias(f"v_{tag}")
            )
        )

    v_ivf_recall = audit(ivf_re, "ivf_recall", 0.3)
    v_lsh_recall = audit(lsh_re, "lsh_recall", 0.6)
    return (
        v_ivf_rt.crossJoin(v_lsh_rt)
        .crossJoin(v_integrity)
        .crossJoin(v_ivf_recall)
        .crossJoin(v_lsh_recall)
        .select(
            (
                F.col("v_ivf_rt")
                + F.col("v_lsh_rt")
                + F.col("v_integrity")
                + F.col("v_ivf_recall")
                + F.col("v_lsh_recall")
            )
            .cast("bigint")
            .alias("n_violations")
        )
    )


@query("sim_rrf_fusion_ann", section="2.I")
def sim_rrf_fusion_ann(spark, sf_dir):
    """sim_rrf_fusion's 100 TB configuration, executable: the dense
    arm runs through the PERSISTED IVF index (probe nprobe=4 of 16
    cells, exact rerank inside — never a corpus-wide scan) while the
    lexical arm and the fusion shape are identical to the ORACLE-
    pinned exact twin. ROWS tier (KMeans cells are engine-private);
    sim_rrf_fusion_ann_bound pins the lex arm EXACTLY equal to the
    exact twin's, the dense arm's overlap floor vs the exact top-100,
    and per-row RRF score consistency."""
    return sim_rrf_fusion(spark, sf_dir, ann=True)


@query("sim_rrf_fusion_ann_bound", section="2.I", oracle=ZERO_VIOLATIONS)
def sim_rrf_fusion_ann_bound(spark, sf_dir):
    """ORACLE pin for the ANN-armed fusion, exact-integer violations:
      (a) the lexical arm of the ANN fusion is ROW-IDENTICAL to the
          exact fusion's (BM25 is deterministic and shared — any
          drift means the swap leaked into the wrong arm);
      (b) dense-arm overlap: >= 30% of the exact dense top-100 ids
          must appear in the ANN dense arm (IVF floor, far above the
          ~100/n random floor);
      (c) per-row consistency: rrf_micro == contrib(lex_rank) +
          contrib(vec_rank) recomputed from the reported ranks."""
    exact = sim_rrf_fusion(spark, sf_dir)
    annf = sim_rrf_fusion(spark, sf_dir, ann=True)

    lex_e = exact.filter(F.col("lex_rank") > 0).select("id", "lex_rank")
    lex_a = annf.filter(F.col("lex_rank") > 0).select("id", "lex_rank")
    v_lex = (
        lex_e.exceptAll(lex_a)
        .unionByName(lex_a.exceptAll(lex_e))
        .agg(F.count(F.lit(1)).alias("v_lex"))
    )
    vec_e = exact.filter(F.col("vec_rank") > 0).select("id")
    vec_a = annf.filter(F.col("vec_rank") > 0).select("id")
    v_overlap = (
        vec_e.join(vec_a, "id", "left_semi")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .crossJoin(vec_e.agg(F.count(F.lit(1)).alias("n_exact")))
        .select(
            (F.col("n_hit") < 0.3 * F.col("n_exact"))
            .cast("bigint")
            .alias("v_overlap")
        )
    )
    contrib = lambda r: F.when(  # noqa: E731
        F.col(r) > 0,
        F.round(F.lit(1000000.0) / (_RRF_K + F.col(r))).cast("bigint"),
    ).otherwise(F.lit(0))
    v_score = annf.agg(
        F.sum(
            (
                F.col("rrf_micro") != contrib("lex_rank") + contrib("vec_rank")
            ).cast("bigint")
        ).alias("v_score")
    )
    return (
        v_lex.crossJoin(v_overlap)
        .crossJoin(v_score)
        .select(
            (F.col("v_lex") + F.col("v_overlap") + F.col("v_score"))
            .cast("bigint")
            .alias("n_violations")
        )
    )


# ---------------------------------------------------------------------------
# multimodal_caption_alignment (round 11) — CLIP-score-style pair filter
# ---------------------------------------------------------------------------

@query(
    "multimodal_caption_alignment",
    section="2.I",
    oracle="""
WITH de AS (
  SELECT d.doc_id, d.lang, e.embedding
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
), comp AS (
  SELECT lang, unnest(list_transform(embedding, (x, i) -> {'p': i, 'v': x})) AS u
  FROM de
), cent AS (
  SELECT lang, u.p AS pos,
         round(CAST(SUM(CAST(CAST(u.v AS DOUBLE) AS DECIMAL(27,6))) AS DOUBLE)
               / COUNT(*), 6) AS c
  FROM comp GROUP BY lang, u.p
), cent_arr AS (
  SELECT lang, list(c ORDER BY pos) AS centroid FROM cent GROUP BY lang
), scored AS (
  SELECT de.doc_id, de.lang,
         CAST(round(list_sum(list_transform(list_zip(de.embedding, ca.centroid),
              p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) * 1e6) AS BIGINT)
           AS align_micro
  FROM de JOIN cent_arr ca ON de.lang = ca.lang
), thr AS (
  SELECT lang, quantile_disc(align_micro, 0.5) AS t FROM scored GROUP BY lang
)
SELECT s.doc_id, s.lang, s.align_micro,
       CAST(CASE WHEN s.align_micro >= t.t THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM scored s JOIN thr t ON s.lang = t.lang
""",
)
def multimodal_caption_alignment(spark, sf_dir):
    """CLIP-score-style pair filtering (the LAION recipe, relational):
    score every (text doc, embedding) pair by its alignment to the
    language's OWN centroid direction and keep the top half per
    language — the standard "drop weakly aligned caption/image pairs"
    gate, with the per-lang centroid standing in for the cross-modal
    dual encoder this container cannot run (the plumbing — per-group
    reference direction, exact scoring, per-group discrete threshold —
    is the real operator; swap the centroid table for real dual-
    encoder outputs and nothing else changes).

    Exactness: centroid components are exact decimal-grid means
    (dsum discipline) rounded to the 1e-6 grid; the score is the
    per-row left-to-right IEEE dot (identical op sequence in both
    engines — no aggregation-order dependence) quantized to integer
    micros; the keep threshold is percentile_disc(0.5) — a DISCRETE
    order statistic on bigint micros (quantile_disc in DuckDB), so
    no interpolation float ever exists.

    Scale: one doc↔vector equi join, a (lang × 64)-row centroid agg
    (map-side combinable) broadcast back, a 5-row threshold table
    broadcast back — the corpus is shuffled ONCE (the join); no
    corpus-wide window anywhere."""
    from sparkml_spark.registry import dsum

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    de = d.join(e, F.col("vec_id") == F.col("doc_id")).select(
        "doc_id", "lang", "embedding"
    )
    comp = de.select("lang", F.posexplode("embedding").alias("pos", "v"))
    cent = comp.groupBy("lang", "pos").agg(
        F.round(
            dsum(F.col("v").cast("double")) / F.count(F.lit(1)), 6
        ).alias("c")
    )
    cent_arr = cent.groupBy("lang").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda x: x.getField("c"),
        ).alias("centroid")
    )
    scored = de.join(F.broadcast(cent_arr), "lang").select(
        "doc_id",
        "lang",
        F.round(_dot("embedding", "centroid") * 1e6)
        .cast("bigint")
        .alias("align_micro"),
    )
    thr = scored.groupBy("lang").agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY align_micro)"
        ).alias("t")
    )
    return scored.join(F.broadcast(thr), "lang").select(
        "doc_id",
        "lang",
        "align_micro",
        (F.col("align_micro") >= F.col("t")).cast("int").alias("keep"),
    )


# ---------------------------------------------------------------------------
# sim_retrieval_metrics (round 11) — retrieval-quality evaluation
# ---------------------------------------------------------------------------

#: round(1e6 / log2(rank+1)) for ranks 1..10 — the nDCG discount as a
#: LITERAL integer table, identical in both engines by construction
#: (the transcendental is evaluated once, here, not per-engine).
_NDCG_DISCOUNT_MICRO = [
    1000000, 630930, 500000, 430677, 386853,
    356207, 333333, 315465, 301030, 289065,
]
_EVAL_K = 10


@query(
    "sim_retrieval_metrics",
    section="2.I",
    oracle=f"""
WITH disc(rank, d) AS (VALUES {", ".join(f"({i+1}, {d})" for i, d in enumerate(_NDCG_DISCOUNT_MICRO))}),
q AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < {_N_QUERIES}),
scored AS (
  SELECT q.vec_id AS query_id, q.label AS q_label,
         c.vec_id AS neighbor_id, c.label AS c_label,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY {_DOT_SQL.format(a='q.embedding', b='c.embedding')} DESC,
                    c.vec_id ASC) AS rank
  FROM q JOIN embeddings c ON c.vec_id <> q.vec_id
),
nrel AS (
  SELECT q.vec_id AS query_id, COUNT(*) AS n_rel
  FROM q JOIN embeddings c
    ON c.vec_id <> q.vec_id AND c.label = q.label
  GROUP BY q.vec_id
),
topk AS (SELECT * FROM scored WHERE rank <= {_EVAL_K}),
per_q AS (
  SELECT query_id,
         MIN(CASE WHEN c_label = q_label THEN rank END) AS first_rel_rank,
         CAST(SUM(CASE WHEN c_label = q_label THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rel_topk,
         CAST(SUM(CASE WHEN c_label = q_label THEN d ELSE 0 END) AS BIGINT)
           AS dcg_micro
  FROM topk JOIN disc USING (rank)
  GROUP BY query_id
)
SELECT p.query_id,
       CAST(COALESCE(p.first_rel_rank, 0) AS BIGINT) AS first_rel_rank,
       p.n_rel_topk,
       CAST(CASE WHEN p.first_rel_rank IS NULL THEN 0
                 ELSE 1000000 // p.first_rel_rank END AS BIGINT) AS mrr_micro,
       p.dcg_micro,
       CAST((SELECT SUM(d) FROM disc
             WHERE rank <= LEAST(n.n_rel, {_EVAL_K})) AS BIGINT) AS idcg_micro,
       CAST(p.dcg_micro * 1000000
            // (SELECT SUM(d) FROM disc
                WHERE rank <= LEAST(n.n_rel, {_EVAL_K})) AS BIGINT) AS ndcg_ppm
FROM per_q p JOIN nrel n USING (query_id)
""",
)
def sim_retrieval_metrics(spark, sf_dir):
    """Retrieval-quality evaluation over the labeled embedding corpus
    — the metrics an ANN/RAG deployment tracks per release: for each
    of the {_N_QUERIES} standard queries, rank ALL candidates by
    exact cosine (the sim_topk_bruteforce ordering, ties → smaller
    id), treat same-label candidates as relevant, and report
    first-relevant rank, MRR, precision-numerator (relevant in
    top-{_EVAL_K}), DCG@{_EVAL_K}, IDCG@{_EVAL_K}, and nDCG — ALL in
    exact integers: the log2 discount table is a literal evaluated
    ONCE (see _NDCG_DISCOUNT_MICRO), never a per-engine
    transcendental, and every division is integer DIV on micro/ppm
    grids.

    Scale: the eval query set is small by definition (this is the
    sim_topk_bruteforce O(q·n·d) path — one linear pass, documented
    cutoff); metrics aggregate over the per-query top-k only. The
    relevant-count side is a broadcast-query equi count."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("label").alias("c_label"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id").asc()
    )
    disc = F.array(*[F.lit(d) for d in _NDCG_DISCOUNT_MICRO])
    topk = (
        F.broadcast(q)
        .join(c, F.col("neighbor_id") != F.col("query_id"))
        .withColumn("dot", _dot("q_emb", "c_emb"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _EVAL_K)
        .withColumn("d", F.element_at(disc, F.col("rank")))
    )
    rel = F.col("c_label") == F.col("q_label")
    per_q = topk.groupBy("query_id").agg(
        F.min(F.when(rel, F.col("rank"))).alias("first_rel_rank"),
        F.sum(rel.cast("int")).cast("long").alias("n_rel_topk"),
        F.sum(F.when(rel, F.col("d")).otherwise(0)).cast("long").alias("dcg_micro"),
    )
    nrel = (
        F.broadcast(q.select("query_id", "q_label"))
        .join(
            c.select("neighbor_id", "c_label"),
            F.col("neighbor_id") != F.col("query_id"),
        )
        .filter(rel)
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_rel"))
    )
    # cumulative discount sums for IDCG: prefix[i] = sum d_1..d_i
    prefix = [0]
    for d in _NDCG_DISCOUNT_MICRO:
        prefix.append(prefix[-1] + d)
    idcg = F.element_at(
        F.array(*[F.lit(p) for p in prefix[1:]]),
        F.least(F.col("n_rel"), F.lit(_EVAL_K)).cast("int"),
    )
    return (
        per_q.join(nrel, "query_id")
        .withColumn("idcg_micro", idcg.cast("long"))
        .select(
            "query_id",
            F.coalesce(F.col("first_rel_rank"), F.lit(0))
            .cast("long")
            .alias("first_rel_rank"),
            "n_rel_topk",
            F.when(
                F.col("first_rel_rank").isNull(), F.lit(0)
            )
            .otherwise(F.expr("1000000 DIV first_rel_rank"))
            .cast("long")
            .alias("mrr_micro"),
            "dcg_micro",
            "idcg_micro",
            F.expr("dcg_micro * 1000000 DIV idcg_micro")
            .cast("long")
            .alias("ndcg_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# sim_ivf_incremental_ingest (round 11) — append to a standing index
# ---------------------------------------------------------------------------

def _ivf_ingest_parts(spark, sf_dir):
    """(standing assign, centroids, arriving ingested-assign): fit the
    quantizer on the standing 80% (vec_id % 5 != 4), then route the
    arriving 20% to cells RELATIONALLY — argmin of the exact euclidean
    form ||c||² − 2·v·c over the broadcast centroid table (unit-norm v
    makes ||v||² constant), ties → smaller cell. No refit: production
    ingest routes against frozen centroids until the next rebuild."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    standing = e.filter(F.col("vec_id") % 5 != 4)
    arriving = e.filter(F.col("vec_id") % 5 == 4)
    assign0, centroids = build_ivf_index_from(spark, standing)
    cdot = F.aggregate(
        F.zip_with("embedding", "centroid", lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    cnorm2 = F.aggregate(
        F.transform("centroid", lambda x: x * x), F.lit(0.0), lambda a, v: a + v
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("score").asc(), F.col("cell").asc())
    ingested = (
        arriving.crossJoin(F.broadcast(centroids))
        .withColumn("score", cnorm2 - 2 * cdot)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "embedding", "cell")
    )
    return assign0, centroids, ingested


@query("sim_ivf_incremental_ingest", section="2.I")
def sim_ivf_incremental_ingest(spark, sf_dir):
    """The vector index's APPEND path (completing the lifecycle:
    build → persist → serve → INGEST): the quantizer is fit on the
    standing 80% of vectors; the arriving 20% are routed to cells
    against the FROZEN centroids (one broadcast join + per-vector
    argmin — the production ingest shape, no refit), and the standard
    query set is answered from the UPDATED inverted file. ROWS tier
    (KMeans centroids are engine-private); sim_ivf_ingest_bound pins
    routing optimality, exactly-once coverage, and post-ingest
    recall."""
    assign0, centroids, ingested = _ivf_ingest_parts(spark, sf_dir)
    full = assign0.unionByName(ingested)
    return ivf_probe_topk(full, centroids, _ivf_default_queries(full)).select(
        "query_id", "neighbor_id", F.round("dot", 6).alias("cosine"), "rank"
    )


@query("sim_ivf_ingest_bound", section="2.I", oracle=ZERO_VIOLATIONS)
def sim_ivf_ingest_bound(spark, sf_dir):
    """ORACLE pin for the ingest path, exact-integer violations:
      (a) exactly-once coverage — every arriving vector lands in
          EXACTLY one cell, and standing assignments are untouched;
      (b) routing optimality, verified RELATIONALLY — no centroid
          scores strictly better than the chosen cell (or ties with a
          smaller cell id) under the exact ||c||² − 2·v·c form the
          router itself uses: catches a broken argmin window or
          tie-break without depending on MLlib's float internals;
      (c) post-ingest recall — the updated index must still clear the
          IVF floor (>= 0.3 of the exact top-k over the FULL corpus):
          ingest that silently degrades search fails here."""
    e = load_table(spark, sf_dir, "embeddings")
    assign0, centroids, ingested = _ivf_ingest_parts(spark, sf_dir)
    n_arriving = e.filter(F.col("vec_id") % 5 == 4).agg(
        F.count(F.lit(1)).alias("n_arr")
    )
    v_cover = (
        ingested.groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum(F.when(F.col("c") != 1, 1).otherwise(0)).alias("v_multi"),
            F.count(F.lit(1)).alias("n_assigned"),
        )
        .crossJoin(n_arriving)
        .select(
            (
                F.col("v_multi")
                + (F.col("n_assigned") != F.col("n_arr")).cast("bigint")
            ).alias("v_cover")
        )
    )
    cdot = F.aggregate(
        F.zip_with("embedding", "centroid", lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    cnorm2 = F.aggregate(
        F.transform("centroid", lambda x: x * x), F.lit(0.0), lambda a, v: a + v
    )
    chosen = ingested.select("vec_id", "embedding", F.col("cell").alias("chosen"))
    rescored = (
        chosen.crossJoin(F.broadcast(centroids))
        .withColumn("score", cnorm2 - 2 * cdot)
    )
    chosen_score = rescored.filter(F.col("cell") == F.col("chosen")).select(
        "vec_id", F.col("score").alias("s_chosen")
    )
    v_opt = (
        rescored.join(chosen_score, "vec_id")
        .filter(
            (F.col("score") < F.col("s_chosen"))
            | (
                (F.col("score") == F.col("s_chosen"))
                & (F.col("cell") < F.col("chosen"))
            )
        )
        .agg(F.count(F.lit(1)).alias("v_opt"))
    )
    full = assign0.unionByName(ingested)
    ann = ivf_probe_topk(full, centroids, _ivf_default_queries(full)).select(
        "query_id", "neighbor_id"
    )
    exact = sim_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    v_recall = (
        ann.join(exact, ["query_id", "neighbor_id"], "left_semi")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .crossJoin(exact.agg(F.count(F.lit(1)).alias("n_exact")))
        .select(
            (F.col("n_hit") < 0.3 * F.col("n_exact")).cast("bigint").alias("v_recall")
        )
    )
    return (
        v_cover.crossJoin(v_opt)
        .crossJoin(v_recall)
        .select(
            (F.col("v_cover") + F.col("v_opt") + F.col("v_recall"))
            .cast("bigint")
            .alias("n_violations")
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (round 11): PQ codes + asymmetric-distance
# (ADC) search, fully integer so the hash pin needs no float grace.
# ---------------------------------------------------------------------------

_PQ_M = 4        # subspaces (64 dims -> 4 x 16)
_PQ_K = 16       # codebook entries per subspace
_PQ_DIM = 16     # dims per subspace

# Shared CTE prefix: int8 grid -> subvectors -> anchor codebook ->
# (vector, subspace, anchor) squared distances -> per-subspace codes ->
# per-(query, candidate) ADC distances with rank.
_PQ_SQL = f"""
q8 AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 127 + 0.5) AS BIGINT))
           AS v
  FROM embeddings
), sub AS (
  SELECT vec_id, sp.s, q8.v[sp.s * {_PQ_DIM} + 1 : sp.s * {_PQ_DIM} + {_PQ_DIM}] AS sv
  FROM q8 CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS s) sp
), asub AS (
  SELECT vec_id AS aid, s, sv AS av FROM sub WHERE vec_id < {_PQ_K}
), d2 AS (
  SELECT sub.vec_id, sub.s, asub.aid,
         CAST(SUM((sub.sv[i.i] - asub.av[i.i]) * (sub.sv[i.i] - asub.av[i.i]))
              AS BIGINT) AS d2
  FROM sub JOIN asub ON asub.s = sub.s
  CROSS JOIN (SELECT unnest(range(1, {_PQ_DIM} + 1)) AS i) i
  GROUP BY sub.vec_id, sub.s, asub.aid
), codes AS (
  SELECT vec_id, s, aid AS code FROM (
    SELECT vec_id, s, aid,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s
                              ORDER BY d2 ASC, aid ASC) AS rn
    FROM d2
  ) WHERE rn = 1
), adc AS (
  SELECT qd.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(SUM(qd.d2) AS BIGINT) AS adc_dist
  FROM codes c JOIN d2 qd ON qd.s = c.s AND qd.aid = c.code
  WHERE qd.vec_id < {_N_QUERIES} AND c.vec_id != qd.vec_id
  GROUP BY qd.vec_id, c.vec_id
), pq_ranked AS (
  SELECT query_id, neighbor_id, adc_dist,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY adc_dist ASC, neighbor_id ASC)
              AS BIGINT) AS rank
  FROM adc
)
"""


def _pq_parts(spark, sf_dir):
    """Spark side of the shared PQ pipeline: returns (q8, d2, codes,
    pq_ranked) DataFrames mirroring the _PQ_SQL CTEs expression-for-
    expression. All arithmetic is integer (int8 grid squared
    distances), so cross-engine equality is exact by construction."""
    e = load_table(spark, sf_dir, "embeddings")
    q8 = e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(127.0) + F.lit(0.5)).cast(
                "long"
            ),
        ).alias("v"),
    )
    sub = q8.select(
        "vec_id",
        F.explode(F.array(*[F.lit(i) for i in range(_PQ_M)])).alias("s"),
        "v",
    ).select(
        "vec_id", "s", F.expr(f"slice(v, s * {_PQ_DIM} + 1, {_PQ_DIM})").alias("sv")
    )
    asub = sub.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("aid"), "s", F.col("sv").alias("av")
    )
    d2expr = F.aggregate(
        F.zip_with("sv", "av", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    d2 = cache(
        sub.join(F.broadcast(asub), "s")
        .select("vec_id", "s", "aid", d2expr.alias("d2"))
    )
    wcode = Window.partitionBy("vec_id", "s").orderBy(
        F.col("d2").asc(), F.col("aid").asc()
    )
    codes = (
        d2.withColumn("rn", F.row_number().over(wcode))
        .filter(F.col("rn") == 1)
        .select("vec_id", "s", F.col("aid").alias("code"))
    )
    qd = d2.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "s", F.col("aid").alias("code"), "d2"
    )
    adc = (
        codes.withColumnRenamed("vec_id", "neighbor_id")
        .join(F.broadcast(qd), ["s", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d2").cast("long").alias("adc_dist"))
    )
    wrank = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    pq_ranked = adc.withColumn(
        "rank", F.row_number().over(wrank).cast("long")
    )
    return q8, d2, codes, pq_ranked


@query(
    "sim_pq_adc",
    section="2.I",
    oracle=f"""
WITH {_PQ_SQL}
SELECT query_id, neighbor_id, rank, adc_dist
FROM pq_ranked WHERE rank <= 10
""",
)
def sim_pq_adc(spark, sf_dir):
    """Product-quantization ANN with asymmetric distance computation
    [Jegou, Douze & Schmid, TPAMI 2011]: split the (int8-gridded)
    vectors into M=4 subspaces of 16 dims, code each subvector as its
    nearest of K=16 codebook anchors (deterministic argmin: d2 asc,
    anchor asc), and answer queries by ADC — the query keeps its full
    subvectors, each candidate contributes only its 4 codes, and the
    distance is the sum of 4 precomputed query-to-anchor table
    lookups. The codebook here is anchor-sampled (subvectors of the
    first K corpus vectors) rather than k-means-trained — the
    deterministic stand-in that keeps the pin exact; training lives
    in ml_clustering, the SEARCH algebra is what this op pins.

    Why it matters at 100 TB: candidates are represented by 4 bytes
    (vs 256 for raw int8) — a billion-vector index fits executor
    memory; the scan is a code-table lookup join, no per-candidate
    vector arithmetic at all. The query-side d2 table is
    queries x M x K = tiny, broadcast onto the codes; everything is
    integer, so the hash pin is exact with zero float grace."""
    _, _, _, pq_ranked = _pq_parts(spark, sf_dir)
    return pq_ranked.filter(F.col("rank") <= 10).select(
        "query_id", "neighbor_id", "rank", "adc_dist"
    )


@query(
    "sim_pq_recall",
    section="2.I",
    oracle=f"""
WITH {_PQ_SQL}, exact AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(SUM((q.v[i.i] - c.v[i.i]) * (q.v[i.i] - c.v[i.i])) AS BIGINT) AS d2f
  FROM q8 q JOIN q8 c ON c.vec_id != q.vec_id
  CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
  WHERE q.vec_id < {_N_QUERIES}
  GROUP BY q.vec_id, c.vec_id
), etop AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY d2f ASC, neighbor_id ASC) AS rn
    FROM exact
  ) WHERE rn <= 10
)
SELECT p.query_id,
       CAST(COUNT(e.neighbor_id) AS BIGINT) AS n_overlap_top10
FROM pq_ranked p
LEFT JOIN etop e
  ON e.query_id = p.query_id AND e.neighbor_id = p.neighbor_id
WHERE p.rank <= 10
GROUP BY p.query_id
""",
)
def sim_pq_recall(spark, sf_dir):
    """Recall accounting for the PQ index: per query, how many of the
    ADC top-10 appear in the EXACT int8-L2 top-10 (both rankings
    deterministic, integer, tie-broken by neighbor id). This is the
    measurement every production ANN deployment runs before swapping
    PQ in — and because both rankings are exact integer algebra, the
    overlap itself is hash-pinnable, not a ROWS-tier estimate.

    Scale: the exact arm is the documented brute-force baseline
    (queries x corpus — fine for a 10-query probe, the same cutoff
    contract as sim_topk_bruteforce); the PQ arm reuses the code
    join. Recall of anchor-sampled PQ is expected imperfect — the
    NUMBER is the evidence; the companion property test pins it
    against a plain-Python replay."""
    q8, _, _, pq_ranked = _pq_parts(spark, sf_dir)
    q = q8.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    c = q8.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"))
    d2f = F.aggregate(
        F.zip_with("qv", "cv", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    exact = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", d2f.alias("d2f"))
    )
    wex = Window.partitionBy("query_id").orderBy(
        F.col("d2f").asc(), F.col("neighbor_id").asc()
    )
    etop = (
        exact.withColumn("rn", F.row_number().over(wex))
        .filter(F.col("rn") <= 10)
        .select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    )
    return (
        pq_ranked.filter(F.col("rank") <= 10)
        .join(F.broadcast(etop), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias(
            "n_overlap_top10"
        ))
    )


# ---------------------------------------------------------------------------
# sim_matryoshka_prefix_recall (round 11) — truncated-embedding retrieval
# ---------------------------------------------------------------------------

@query(
    "sim_matryoshka_prefix_recall",
    section="2.I",
    oracle=f"""
WITH q8 AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 127 + 0.5) AS BIGINT))
           AS v
  FROM embeddings
), dots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(SUM(CASE WHEN i.i <= 16 THEN q.v[i.i] * c.v[i.i] ELSE 0 END)
              AS BIGINT) AS dot16,
         CAST(SUM(q.v[i.i] * c.v[i.i]) AS BIGINT) AS dot64
  FROM q8 q JOIN q8 c ON c.vec_id != q.vec_id
  CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
  WHERE q.vec_id < {_N_QUERIES}
  GROUP BY q.vec_id, c.vec_id
), top16 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY dot16 DESC, neighbor_id ASC) AS rn
    FROM dots) WHERE rn <= 10
), top64 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY dot64 DESC, neighbor_id ASC) AS rn
    FROM dots) WHERE rn <= 10
)
SELECT a.query_id,
       CAST(COUNT(b.neighbor_id) AS BIGINT) AS n_overlap_top10
FROM top16 a LEFT JOIN top64 b
  ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
GROUP BY a.query_id
""",
)
def sim_matryoshka_prefix_recall(spark, sf_dir):
    """Matryoshka-truncation retrieval audit [Kusupati et al. 2022,
    arXiv:2205.13147]: rank neighbors by the FIRST-16-dim dot product
    (the 4× cheaper prefix a Matryoshka-trained embedding exposes)
    and report the per-query overlap with the full-64-dim top-10 —
    the number that decides whether the cheap prefix can drive
    first-stage retrieval with the full vector reserved for rerank.
    Both rankings are integer dot products on the int8 grid with
    neighbor-id tie-breaks, so the overlap — like sim_pq_recall's —
    is hash-pinned, not estimated. (Fixture vectors are not
    Matryoshka-trained; low overlap is the honest expected readout —
    the op pins the MEASUREMENT a deployment runs.)

    Scale: one broadcast of the 10 query vectors over the corpus
    computes BOTH dots in one pass (the prefix is a bounded slice of
    the same zip_with), two TakeOrdered-class top-10s per query."""
    e = load_table(spark, sf_dir, "embeddings")
    q8 = e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(127.0) + F.lit(0.5)).cast(
                "long"
            ),
        ).alias("v"),
    )
    q = q8.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    c = q8.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"))
    dot64 = F.aggregate(
        F.zip_with("qv", "cv", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    dot16 = F.aggregate(
        F.zip_with(
            F.slice("qv", 1, 16), F.slice("cv", 1, 16), lambda x, y: x * y
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    dots = cache(
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", dot16.alias("dot16"), dot64.alias("dot64"))
    )
    w16 = Window.partitionBy("query_id").orderBy(
        F.col("dot16").desc(), F.col("neighbor_id").asc()
    )
    w64 = Window.partitionBy("query_id").orderBy(
        F.col("dot64").desc(), F.col("neighbor_id").asc()
    )
    top16 = (
        dots.withColumn("rn", F.row_number().over(w16))
        .filter(F.col("rn") <= 10)
        .select("query_id", "neighbor_id")
    )
    top64 = (
        dots.withColumn("rn", F.row_number().over(w64))
        .filter(F.col("rn") <= 10)
        .select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    )
    return (
        top16.join(F.broadcast(top64), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long")
            .alias("n_overlap_top10")
        )
    )


# ---------------------------------------------------------------------------
# sim_radius_search (round 11) — range query, the kNN complement
# ---------------------------------------------------------------------------

@query(
    "sim_radius_search",
    section="2.I",
    oracle=f"""
WITH q8 AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 127 + 0.5) AS BIGINT))
           AS v
  FROM embeddings
), d2 AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(SUM((q.v[i.i] - c.v[i.i]) * (q.v[i.i] - c.v[i.i])) AS BIGINT) AS d2f
  FROM q8 q JOIN q8 c ON c.vec_id != q.vec_id
  CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
  WHERE q.vec_id < {_N_QUERIES}
  GROUP BY q.vec_id, c.vec_id
)
SELECT query_id,
       CAST(COUNT(CASE WHEN d2f <= 28000 THEN 1 END) AS BIGINT) AS n_in_radius,
       CAST(MIN(d2f) AS BIGINT) AS d2_nearest
FROM d2 GROUP BY query_id
""",
)
def sim_radius_search(spark, sf_dir):
    """Radius (range) similarity search — the kNN complement every
    vector store exposes: per query, how many corpus vectors lie
    within a fixed L2 ball (integer threshold 28000 on the int8-grid
    squared distance ≈ cosine ≈ 0.13 for unit vectors at grid scale),
    plus the exact nearest distance. Radius queries are the dedup /
    near-duplicate primitive (is there ANYTHING this close?) where
    top-k is the retrieval primitive; both now pinned. Integer
    distances ⇒ exact hash, the sim_pq_recall posture.

    Scale: the brute-force arm shares sim_topk_bruteforce's
    documented 10-query-probe cutoff; the production radius path is
    the LSH/IVF index twins (bucket, then range-filter within the
    bucket) — this op pins the semantics those must converge to."""
    e = load_table(spark, sf_dir, "embeddings")
    q8 = e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(127.0) + F.lit(0.5)).cast(
                "long"
            ),
        ).alias("v"),
    )
    q = q8.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    c = q8.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"))
    d2f = F.aggregate(
        F.zip_with("qv", "cv", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", d2f.alias("d2f"))
        .groupBy("query_id")
        .agg(
            F.count(F.when(F.col("d2f") <= 28000, 1)).cast("long").alias("n_in_radius"),
            F.min("d2f").cast("long").alias("d2_nearest"),
        )
    )


# ---------------------------------------------------------------------------
# sim_prototype_selection (round 11) — keep the most central examples
# ---------------------------------------------------------------------------

@query(
    "sim_prototype_selection",
    section="2.I",
    oracle="""
WITH q8 AS (
  SELECT vec_id, label,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 127 + 0.5) AS BIGINT))
           AS v
  FROM embeddings
), dims AS (
  SELECT vec_id, label, i.i AS d, q8.v[i.i] AS x
  FROM q8 CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
), stats AS (
  SELECT label, d, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
  FROM dims GROUP BY label, d
), scored AS (
  SELECT dims.vec_id, dims.label,
         CAST(SUM((stats.n * dims.x - stats.s) * (stats.n * dims.x - stats.s))
              AS BIGINT) AS score
  FROM dims JOIN stats ON stats.label = dims.label AND stats.d = dims.d
  GROUP BY dims.vec_id, dims.label
)
SELECT label, vec_id, score, CAST(rnk AS BIGINT) AS rnk FROM (
  SELECT label, vec_id, score,
         ROW_NUMBER() OVER (PARTITION BY label
                            ORDER BY score ASC, vec_id ASC) AS rnk
  FROM scored
) WHERE rnk <= 5
""",
)
def sim_prototype_selection(spark, sf_dir):
    """Prototype selection — the dual of SemDeDup (which REMOVES the
    most redundant members, this KEEPS the most central): per label
    cluster, the 5 vectors nearest the cluster mean. Exactness trick:
    argmin over ‖v − S/n‖² equals argmin over Σ_d (n·vᵈ − Sᵈ)² — the
    mean's division cleared by multiplying through (the CUSUM move),
    so the centrality score is exact int64 on the int8 grid and the
    per-label top-5 is a deterministic WindowGroupLimit. This is the
    coreset/data-pruning primitive [Sorscher et al. 2022's
    self-supervised prototypes]: train on prototypes, drop the fringe.

    Scale: one explode of the corpus, a (labels × 64)-row stats table
    broadcast back, one vec_id aggregation, label-partitioned top-k —
    the sim_centroid_assign shape with exact update algebra."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    q8 = e.select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(127.0) + F.lit(0.5)).cast(
                "long"
            ),
        ).alias("v"),
    )
    dims = q8.select(
        "vec_id", "label", F.posexplode("v").alias("d0", "x")
    ).select("vec_id", "label", (F.col("d0") + 1).alias("d"), "x")
    stats = dims.groupBy("label", "d").agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("x").cast("long").alias("s")
    )
    scored = (
        dims.join(F.broadcast(stats), ["label", "d"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(
                (F.col("n") * F.col("x") - F.col("s"))
                * (F.col("n") * F.col("x") - F.col("s"))
            )
            .cast("long")
            .alias("score")
        )
    )
    w = Window.partitionBy("label").orderBy(F.col("score").asc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 5)
        .select("label", "vec_id", "score", "rnk")
    )
