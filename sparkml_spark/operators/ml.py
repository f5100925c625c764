"""§2.J MLlib pipeline surface (SURVEY.md) — the reference's core
capability re-expressed as pipeline-stage operators returning
DataFrames (ROWS-tier: model fitting is not SQL-expressible; the
driver records row-count checks and the seeds make outputs stable).

Every estimator is seeded (seed=42 where the estimator has a seed
param; the rest — LR/SVC/GLM — are deterministic convex solvers).
Features come from `array_to_vector(embedding)` (64-d unit vectors,
10-class labels) or token-count vectors over documents.

Scale: MLlib's estimators are themselves distributed (tree ensembles
aggregate split stats per partition; ALS is block coordinate descent;
KMeans is Lloyd's over partitioned points) — the operator layer adds
no driver-side iteration beyond what the estimator owns. ALS's user
and item block counts follow the input's scan partitions (one per
file split), so a small input is not cut into MLlib's default 10 × 10
blocks of mostly empty tasks, and a large one still spreads.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkml_spark.registry import ZERO_VIOLATIONS, query
from sparkml_spark.session import cache, checkpoint
from sparkml_spark.sources.loader import load_table

SEED = 42


def _features(spark, sf_dir):
    from pyspark.ml.functions import array_to_vector

    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.col("label").cast("double").alias("label"),
        array_to_vector("embedding").alias("features"),
    )


def _nchars_data(spark, sf_dir):
    """Regression frame: each embedding's features against its
    document's n_chars as the label."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    vecs = _features(spark, sf_dir).withColumnRenamed("label", "cls")
    return vecs.join(d, vecs.vec_id == d.doc_id).select(
        "vec_id", F.col("n_chars").cast("double").alias("label"), "features"
    )


def _train_test(df):
    """Deterministic split on the key — reproducible without RNG."""
    return df.filter(F.col("vec_id") % 5 != 0), df.filter(F.col("vec_id") % 5 == 0)


def _strip_summary(model):
    """Drop a fitted model's training summary via a save/load round-trip
    (loaded models carry none). Binary-classification summaries hold a
    SparkSession reference; shipping such a model inside the transform
    UDF closure hits `Task not serializable: ObservationManager` once
    the session has served an `observe()` query (observed on PySpark
    4.1.2 — any long-lived session that mixes telemetry and ML scoring,
    exactly what a 1000-executor job server does). Cost: one local
    metadata write, ~1 s."""
    import shutil
    import tempfile

    # Explicit file: URI so save/load and the local rmtree always agree
    # on the filesystem — a scheme-less absolute path resolves against
    # fs.defaultFS, which is NOT the local disk on a real cluster
    # (ADVICE r01: the artifact would leak to the cluster FS while
    # cleanup scrubbed local /tmp).
    path = tempfile.mkdtemp(prefix="sparkml_model_")
    try:
        model.write().overwrite().save("file://" + path)
        return type(model).load("file://" + path)
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _fingerprint(value):
    """Uid-free, hashable digest of a param value: a Params object
    (estimator, Pipeline stage, evaluator) is its class plus its
    extractParamMap() keyed by param name, recursively; a tuning grid
    is a list of such name-keyed maps."""
    from pyspark.ml.param import Params

    if isinstance(value, Params):
        return (type(value), _fingerprint(value.extractParamMap()))
    if isinstance(value, dict):
        return tuple(sorted((p.name, _fingerprint(v)) for p, v in value.items()))
    if isinstance(value, (list, tuple)):
        return tuple(_fingerprint(v) for v in value)
    return repr(value)


def _has_summary(model) -> bool:
    """Does `model`, or a PipelineModel stage / OneVsRest sub-model of
    it, carry a training summary (see _strip_summary)?"""
    from pyspark.ml import PipelineModel
    from pyspark.ml.classification import OneVsRestModel
    from pyspark.ml.util import HasTrainingSummary

    if isinstance(model, PipelineModel):
        subs = model.stages
    elif isinstance(model, OneVsRestModel):
        subs = model.models
    else:
        subs = []
    return (isinstance(model, HasTrainingSummary) and model.hasSummary) or any(
        _has_summary(m) for m in subs
    )


def _fit(estimator, df):
    model = estimator.fit(df)
    return _strip_summary(model) if _has_summary(model) else model


def _shared_fit(estimator, df):
    """`estimator.fit(df)`, fitted once per SparkContext.

    The memo key is derived from the inputs: the estimator's class and
    param map (`_fingerprint`) plus the semanticHash() of `df`'s
    analyzed plan, which is invariant to expression ids, so sibling
    queries that build the same training frame independently share one
    fit. A hit is served only if the stored plan also `sameResult`s the
    caller's; otherwise the model is refit, so a hash collision cannot
    serve a model fit on other data. Frames whose plans hold a new
    closure or LogicalRDD per build (an MLlib `transform`, a
    checkpoint) never hit: fit them as one Pipeline on the source frame
    instead.

    A model carrying a training summary comes back stripped
    (_strip_summary). The training frame's partitioning is untouched:
    coalescing it would change treeAggregate order and could flip
    predictions."""
    from sparkml_spark.session import session_artifact

    plan = df._jdf.queryExecution().analyzed()
    stored, model = session_artifact(
        df.sparkSession,
        (_fingerprint(estimator), plan.semanticHash()),
        lambda: (plan, _fit(estimator, df)),
    )
    return model if stored.sameResult(plan) else _fit(estimator, df)


@query("ml_feature_text_pipeline", section="2.J")
def ml_feature_text_pipeline(spark, sf_dir):
    """Text featurization Pipeline: RegexTokenizer → StopWordsRemover →
    NGram → HashingTF → IDF, composed with `pyspark.ml.Pipeline`."""
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import (
        IDF,
        HashingTF,
        NGram,
        Tokenizer,
        StopWordsRemover,
    )

    d = load_table(spark, sf_dir, "documents")
    # plain whitespace Tokenizer (fixture text is single-space separated;
    # RegexTokenizer is exercised in text_tfidf_mllib)
    pipe = Pipeline(
        stages=[
            Tokenizer(inputCol="text", outputCol="tokens"),
            StopWordsRemover(
                inputCol="tokens", outputCol="content", stopWords=["the", "a"]
            ),
            NGram(n=2, inputCol="content", outputCol="bigrams"),
            HashingTF(inputCol="content", outputCol="tf", numFeatures=256),
            IDF(inputCol="tf", outputCol="tfidf"),
        ]
    )
    out = pipe.fit(d).transform(d)
    from pyspark.ml.functions import vector_to_array

    return out.select(
        "doc_id",
        F.size("tokens").alias("n_tokens"),
        F.size("content").alias("n_content"),
        F.size("bigrams").alias("n_bigrams"),
        F.round(
            F.aggregate(
                vector_to_array("tfidf"), F.lit(0.0), lambda acc, v: acc + v * v
            ),
            4,
        ).alias("tfidf_sq_norm"),
    )


@query(
    "ml_feature_scalers",
    section="2.J",
    oracle="""
WITH stats AS (
  SELECT avg(c_acctbal) AS m1, stddev_samp(c_acctbal) AS s1,
         avg(CAST(c_nationkey AS DOUBLE)) AS m2,
         stddev_samp(CAST(c_nationkey AS DOUBLE)) AS s2
  FROM customer
), std AS (
  SELECT c_custkey, c_acctbal,
         (c_acctbal - m1) / s1 AS z1,
         (CAST(c_nationkey AS DOUBLE) - m2) / s2 AS z2
  FROM customer, stats
), mm AS (
  SELECT min(z1) AS lo1, max(z1) AS hi1, min(z2) AS lo2, max(z2) AS hi2 FROM std
), qq AS (
  SELECT quantile_disc(c_acctbal, 0.25) AS q1,
         quantile_disc(c_acctbal, 0.5) AS q2,
         quantile_disc(c_acctbal, 0.75) AS q3
  FROM customer
)
SELECT c_custkey,
       round((z1 - lo1) / (hi1 - lo1), 6) AS bal_scaled,
       round((z2 - lo2) / (hi2 - lo2), 6) AS nation_scaled,
       CAST(CASE WHEN c_acctbal < 0 THEN 0 WHEN c_acctbal < 2500 THEN 1
                 WHEN c_acctbal < 5000 THEN 2 WHEN c_acctbal < 7500 THEN 3
                 ELSE 4 END AS INTEGER) AS bal_bucket,
       CAST(CASE WHEN c_acctbal < q1 THEN 0 WHEN c_acctbal < q2 THEN 1
                 WHEN c_acctbal < q3 THEN 2 ELSE 3 END AS INTEGER) AS bal_quartile
FROM std, mm, qq
""",
)
def ml_feature_scalers(spark, sf_dir):
    """Numeric feature chain on customer: VectorAssembler →
    StandardScaler → MinMaxScaler, plus Bucketizer and
    QuantileDiscretizer on the raw balance.

    ORACLE-tier (upgraded r6): every stage is closed-form —
    z = (x-mean)/stddev_samp, minmax over z, CASE-threshold buckets,
    and exact quantile splits (relativeError=0.0 ⇒ MLlib's
    approxQuantile returns the order statistic, = quantile_disc) —
    so the whole pipeline has a SQL twin, hash-verified at all three
    fixture scales."""
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import (
        Bucketizer,
        MinMaxScaler,
        QuantileDiscretizer,
        StandardScaler,
        VectorAssembler,
    )
    from pyspark.ml.functions import vector_to_array

    c = load_table(spark, sf_dir, "customer")
    pipe = Pipeline(
        stages=[
            VectorAssembler(inputCols=["c_acctbal", "c_nationkey"], outputCol="raw"),
            StandardScaler(inputCol="raw", outputCol="std", withMean=True),
            MinMaxScaler(inputCol="std", outputCol="scaled"),
            Bucketizer(
                splits=[float("-inf"), 0.0, 2500.0, 5000.0, 7500.0, float("inf")],
                inputCol="c_acctbal",
                outputCol="bal_bucket",
            ),
            QuantileDiscretizer(
                numBuckets=4, inputCol="c_acctbal", outputCol="bal_quartile", relativeError=0.0
            ),
        ]
    )
    out = pipe.fit(c).transform(c)
    arr = vector_to_array("scaled")
    return out.select(
        "c_custkey",
        F.round(F.element_at(arr, 1), 6).alias("bal_scaled"),
        F.round(F.element_at(arr, 2), 6).alias("nation_scaled"),
        F.col("bal_bucket").cast("int").alias("bal_bucket"),
        F.col("bal_quartile").cast("int").alias("bal_quartile"),
    )


@query("ml_feature_pca", section="2.J")
def ml_feature_pca(spark, sf_dir):
    """PCA 64→8 on embeddings + Normalizer; outputs per-vector explained
    mass (squared norm of the projection)."""
    from pyspark.ml.feature import PCA, Normalizer
    from pyspark.ml.functions import vector_to_array

    vecs = _features(spark, sf_dir)
    pca = _shared_fit(PCA(k=8, inputCol="features", outputCol="pca"), vecs)
    out = Normalizer(inputCol="pca", outputCol="pca_unit", p=2.0).transform(
        pca.transform(vecs)
    )
    return out.select(
        "vec_id",
        F.round(
            F.aggregate(vector_to_array("pca"), F.lit(0.0), lambda a, v: a + v * v), 6
        ).alias("pca_sq_norm"),
        F.round(
            F.aggregate(vector_to_array("pca_unit"), F.lit(0.0), lambda a, v: a + v * v),
            4,
        ).alias("unit_sq_norm"),
    )


@query(
    "ml_feature_indexers",
    section="2.J",
    oracle="""
SELECT d.doc_id, d.lang,
       CAST(r.idx AS INTEGER) AS lang_idx,
       d.lang AS lang_back,
       CAST(round(d.n_chars / 100.0, 4) AS DOUBLE) AS hectochars
FROM documents d
JOIN (
  SELECT lang, dense_rank() OVER (ORDER BY lang) - 1 AS idx
  FROM (SELECT DISTINCT lang FROM documents)
) r ON d.lang = r.lang
""",
)
def ml_feature_indexers(spark, sf_dir):
    """StringIndexer → OneHotEncoder → IndexToString round-trip on the
    lang column, plus SQLTransformer as a pipeline-native SQL stage.
    ORACLE-tier (upgraded r6): alphabetAsc StringIndexer is exactly a
    dense_rank over the distinct values, and the round-trip must
    return the original string — both SQL-expressible."""
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import IndexToString, OneHotEncoder, SQLTransformer, StringIndexer

    d = load_table(spark, sf_dir, "documents")
    pipe = Pipeline(
        stages=[
            StringIndexer(inputCol="lang", outputCol="lang_idx", stringOrderType="alphabetAsc"),
            OneHotEncoder(inputCol="lang_idx", outputCol="lang_oh"),
            IndexToString(inputCol="lang_idx", outputCol="lang_back"),
            SQLTransformer(
                statement="SELECT *, n_chars / 100.0 AS hectochars FROM __THIS__"
            ),
        ]
    )
    out = pipe.fit(d).transform(d)
    return out.select(
        "doc_id",
        "lang",
        F.col("lang_idx").cast("int").alias("lang_idx"),
        "lang_back",
        # cast: the SQLTransformer's `n_chars / 100.0` is DECIMAL
        # division in Spark SQL (100.0 parses as DECIMAL(3,1)), which
        # pandas would box as Decimal objects — emit double.
        F.round(F.col("hectochars").cast("double"), 4).alias("hectochars"),
    )


@query("ml_classify_logistic", section="2.J")
def ml_classify_logistic(spark, sf_dir):
    """Multinomial LogisticRegression on embeddings→label (deterministic
    LBFGS), key-split train/test, per-row predictions."""
    from pyspark.ml.classification import LogisticRegression

    train, test = _train_test(_features(spark, sf_dir))
    model = _shared_fit(LogisticRegression(maxIter=25, regParam=0.01), train)
    return model.transform(test).select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        F.col("prediction").cast("int").alias("prediction"),
        (F.col("label") == F.col("prediction")).alias("correct"),
    )


@query("ml_fit_quality_bound", section="2.J", oracle=ZERO_VIOLATIONS)
def ml_fit_quality_bound(spark, sf_dir):
    """ORACLE pin for the §2.J fit family (VERDICT r6 #3): model
    weights are engine-private, but learned-signal floors are not —
    (a) the multinomial logistic TRAIN accuracy must beat 2x the
    10-class random rate (the fixture's labels are synthetic noise —
    test accuracy IS random ~0.1 by construction, so generalization
    can't be pinned; what can is that LBFGS actually optimizes: train
    accuracy is 0.41-0.45 tri-scale, floor 0.2, and a broken fit
    degenerates to ~0.1), and (b)
    seeded KMeans(k=16) must produce 16 NON-EMPTY clusters (a
    collapsed/degenerate quantizer empties cells — the same failure
    that would gut sim_ivf_ann's probes). Deterministic: LBFGS and
    seeded k-means on a fixed key-split. Violations pinned to 0."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.clustering import KMeans

    feats = _features(spark, sf_dir)
    train, _test = _train_test(feats)
    lr = _shared_fit(LogisticRegression(maxIter=25, regParam=0.01), train)
    acc = lr.transform(train).agg(
        (
            F.count_if(F.col("prediction") == F.col("label"))
            / F.count(F.lit(1))
        ).alias("acc")
    )
    km = _strip_summary(KMeans(k=16, seed=42).fit(feats))
    n_cells = (
        km.transform(feats)
        .groupBy("prediction")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.count(F.lit(1)).alias("n_nonempty"))
    )
    viol = (F.col("acc") < 0.2).cast("bigint") + (
        F.col("n_nonempty") != 16
    ).cast("bigint")
    return acc.crossJoin(n_cells).select(viol.alias("n_violations"))


@query("ml_classify_trees", section="2.J")
def ml_classify_trees(spark, sf_dir):
    """Tree family side-by-side: DecisionTree, RandomForest and (binary
    label<5) GBT, all seed=42; returns per-model test accuracy."""
    from pyspark.ml.classification import (
        DecisionTreeClassifier,
        GBTClassifier,
        RandomForestClassifier,
    )

    train, test = _train_test(_features(spark, sf_dir))
    bin_train = train.withColumn("label", (F.col("label") < 5).cast("double"))
    bin_test = test.withColumn("label", (F.col("label") < 5).cast("double"))

    # One union'd plan, one job: the per-model accuracies aggregate in
    # a single action run by the driver — no collect() inside the
    # operator (§4.3 rule 1; VERDICT r4 minor #4).
    def scored(name, model, data):
        return model.transform(data).select(
            F.lit(name).alias("model"),
            (F.col("label") == F.col("prediction")).cast("long").alias("correct"),
        )

    dt = _shared_fit(DecisionTreeClassifier(seed=SEED, maxDepth=8), train)
    preds = (
        scored("decision_tree", dt, test)
        .unionByName(
            scored(
                "random_forest",
                _strip_summary(
                    RandomForestClassifier(seed=SEED, numTrees=30, maxDepth=8).fit(train)
                ),
                test,
            )
        )
        .unionByName(
            scored("gbt_binary", GBTClassifier(seed=SEED, maxIter=15).fit(bin_train), bin_test)
        )
    )
    return preds.groupBy("model").agg(
        F.round(F.sum("correct") / F.count(F.lit(1)), 4).alias("accuracy")
    )


@query("ml_classify_linear", section="2.J")
def ml_classify_linear(spark, sf_dir):
    """LinearSVC wrapped in OneVsRest for the 10-class problem, plus
    multinomial NaiveBayes (gaussian — embeddings have negatives)."""
    from pyspark.ml.classification import LinearSVC, NaiveBayes, OneVsRest

    train, test = _train_test(_features(spark, sf_dir))
    ovr = _shared_fit(OneVsRest(classifier=LinearSVC(maxIter=15, regParam=0.05)), train)
    nb = _shared_fit(NaiveBayes(modelType="gaussian"), train)
    a = ovr.transform(test).select(
        F.col("vec_id"), F.col("prediction").alias("svc_pred")
    )
    b = nb.transform(test).select(F.col("vec_id"), F.col("prediction").alias("nb_pred"))
    return (
        a.join(b, "vec_id")
        .join(test.select("vec_id", "label"), "vec_id")
        .select(
            "vec_id",
            F.col("label").cast("int").alias("label"),
            F.col("svc_pred").cast("int").alias("svc_pred"),
            F.col("nb_pred").cast("int").alias("nb_pred"),
        )
    )


@query("ml_classify_mlp", section="2.J")
def ml_classify_mlp(spark, sf_dir):
    """MultilayerPerceptron 64→32→10 (seed=42), test predictions."""
    from pyspark.ml.classification import MultilayerPerceptronClassifier

    train, test = _train_test(_features(spark, sf_dir))
    mlp = _shared_fit(
        MultilayerPerceptronClassifier(layers=[64, 32, 10], seed=SEED, maxIter=40), train
    )
    return mlp.transform(test).select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        F.col("prediction").cast("int").alias("prediction"),
    )


@query("ml_regression", section="2.J")
def ml_regression(spark, sf_dir):
    """Regression family predicting n_chars from the embedding:
    LinearRegression, GLM (gaussian), RandomForestRegressor,
    GBTRegressor — RMSE per model via RegressionEvaluator."""
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.ml.regression import (
        DecisionTreeRegressor,
        GBTRegressor,
        GeneralizedLinearRegression,
        LinearRegression,
        RandomForestRegressor,
    )

    train, test = _train_test(_nchars_data(spark, sf_dir))
    ev = RegressionEvaluator(metricName="rmse")
    models = [
        ("linear", _shared_fit(LinearRegression(maxIter=25), train)),
        ("glm_gaussian", _strip_summary(GeneralizedLinearRegression(family="gaussian").fit(train))),
        ("decision_tree", DecisionTreeRegressor(seed=SEED, maxDepth=8).fit(train)),
        ("random_forest", RandomForestRegressor(seed=SEED, numTrees=20).fit(train)),
        ("gbt", GBTRegressor(seed=SEED, maxIter=15).fit(train)),
    ]
    rows = [(name, float(round(ev.evaluate(m.transform(test)), 4))) for name, m in models]
    return spark.createDataFrame(rows, "model STRING, rmse DOUBLE")


@query("ml_clustering", section="2.J")
def ml_clustering(spark, sf_dir):
    """Clustering family on embeddings: KMeans, BisectingKMeans,
    GaussianMixture (all seed=42) — cluster size histograms, plus
    silhouette via ClusteringEvaluator for KMeans."""
    from pyspark.ml.clustering import BisectingKMeans, GaussianMixture, KMeans
    from pyspark.ml.evaluation import ClusteringEvaluator
    from pyspark.ml.feature import PCA

    vecs = _features(spark, sf_dir)
    out = []
    km = _strip_summary(KMeans(k=10, seed=SEED).fit(vecs))
    km_pred = km.transform(vecs)
    sil = float(round(ClusteringEvaluator(metricName="silhouette").evaluate(km_pred), 4))
    # GMM: full covariance in 64-d is singular with few points per
    # component ("matrix not symmetric" in breeze) — estimate in a
    # PCA-8 subspace, the standard high-dim GMM practice.
    pca8 = (
        PCA(k=8, inputCol="features", outputCol="pca8")
        .fit(vecs)
        .transform(vecs)
        .select("vec_id", F.col("pca8").alias("features"))
    )
    for name, model, data in [
        ("kmeans", km, vecs),
        ("bisecting", _strip_summary(BisectingKMeans(k=10, seed=SEED).fit(vecs)), vecs),
        ("gmm_pca8", _strip_summary(GaussianMixture(k=6, seed=SEED).fit(pca8)), pca8),
    ]:
        out.append(
            model.transform(data)
            .groupBy("prediction")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.lit(name).alias("model"),
                F.col("prediction").cast("int").alias("cluster"),
                F.col("n").cast("bigint").alias("n"),
                (F.lit(sil) if name == "kmeans" else F.lit(None))
                .cast("double")
                .alias("kmeans_silhouette"),
            )
        )
    # Histograms union into ONE plan/action (bounded at k rows/model,
    # but no reason to run three jobs + a collect; §4.3 rule 1). The
    # silhouette stays an evaluator scalar — that API is driver-side by
    # design, same as ml_regression's RegressionEvaluator.
    return out[0].unionByName(out[1]).unionByName(out[2]).orderBy("model", "cluster")


@query("ml_lda_topics", section="2.J")
def ml_lda_topics(spark, sf_dir):
    """LDA (k=5, seed=42) over CountVectorizer token counts; emits the
    top-5 term indices per topic."""
    from pyspark.ml import Pipeline
    from pyspark.ml.clustering import LDA
    from pyspark.ml.feature import CountVectorizer

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("tokens")
    )
    lda = _shared_fit(
        Pipeline(
            stages=[
                CountVectorizer(inputCol="tokens", outputCol="features"),
                LDA(k=5, seed=SEED, maxIter=10, optimizer="em"),
            ]
        ),
        toks,
    ).stages[1]
    # Flat scalar output by contract: the driver canonicalizer cannot
    # hash array-valued cells (VERDICT r5 "What's wrong" #1), so the
    # top-5 term indices are serialized to CSV inside the plan.
    return lda.describeTopics(5).select(
        "topic",
        F.array_join(
            F.transform("termIndices", lambda i: i.cast("string")), ","
        ).alias("term_indices_csv"),
    )


@query("ml_word2vec", section="2.J")
def ml_word2vec(spark, sf_dir):
    """Word2Vec (dim=16, seed=42) over document tokens; per-token vector
    norms of the learned vocabulary."""
    from pyspark.ml.feature import Word2Vec
    from pyspark.ml.functions import vector_to_array

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.split(F.lower(F.trim("text")), r"\s+").alias("tokens"))
    w2v = _shared_fit(
        Word2Vec(
            vectorSize=16, seed=SEED, minCount=1, inputCol="tokens",
            outputCol="vec", maxIter=2,
        ),
        toks,
    )
    return w2v.getVectors().select(
        "word",
        F.round(
            F.aggregate(vector_to_array("vector"), F.lit(0.0), lambda a, v: a + v * v), 4
        ).alias("sq_norm"),
    )


@query("ml_als_recommend", section="2.J")
def ml_als_recommend(spark, sf_dir):
    """ALS (seed=42, implicit) on the user × event_type interaction
    matrix from events; top-2 recommendations per user.

    Item ids come from StringIndexer (alphabetical order — same mapping
    a distinct().collect() dictionary produced, but the vocabulary
    never passes through the driver, so unknown item cardinality at
    100 TB is safe; VERDICT r4 minor #4).

    User and item block counts are the events scan's partition count
    (planning only, no job) rather than MLlib's default of 10: 1 × 1
    on a one-file input, 4 × 4 on a 4-file one. Being params, they are
    part of the fit's memo key."""
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import SQLTransformer, StringIndexer
    from pyspark.ml.recommendation import ALS

    events = load_table(spark, sf_dir, "events")
    blocks = events.rdd.getNumPartitions()
    als = _shared_fit(
        Pipeline(
            stages=[
                StringIndexer(
                    inputCol="event_type", outputCol="item_idx", stringOrderType="alphabetAsc"
                ),
                SQLTransformer(
                    statement="SELECT CAST(user_id AS INT) AS user,"
                    " CAST(item_idx AS INT) AS item, CAST(count(1) AS FLOAT) AS rating"
                    " FROM __THIS__ GROUP BY CAST(user_id AS INT), CAST(item_idx AS INT)"
                ),
                ALS(
                    rank=4, maxIter=8, seed=SEED, implicitPrefs=True,
                    coldStartStrategy="drop", numUserBlocks=blocks, numItemBlocks=blocks,
                ),
            ]
        ),
        events,
    ).stages[-1]
    recs = als.recommendForAllUsers(2)
    return recs.select(
        "user",
        F.col("recommendations")[0]["item"].alias("top1_item"),
        F.col("recommendations")[1]["item"].alias("top2_item"),
    )


@query(
    "ml_fpgrowth",
    section="2.J",
    oracle="""
WITH types AS (
  SELECT event_type, row_number() OVER (ORDER BY event_type) - 1 AS i
  FROM (SELECT DISTINCT event_type FROM events)
),
k AS (SELECT COUNT(*) AS c FROM types),
masks AS (SELECT unnest(range(1, 1 << (SELECT c FROM k))) AS m),
subsets AS (
  SELECT m, list_sort(list(event_type)) AS items
  FROM masks JOIN types ON (m >> i) & 1 = 1
  GROUP BY m
),
b AS (
  SELECT user_id, list_distinct(list(event_type)) AS basket
  FROM events GROUP BY user_id
),
n AS (SELECT COUNT(*) AS nb FROM b),
counts AS (
  SELECT s.items, COUNT(*) AS freq
  FROM subsets s JOIN b ON list_has_all(b.basket, s.items)
  GROUP BY s.items
)
SELECT array_to_string(items, ',') AS itemset_csv, freq
FROM counts, n WHERE freq >= CEIL(0.2 * nb)
""",
)
def ml_fpgrowth(spark, sf_dir):
    """FPGrowth over per-user event-type baskets: frequent itemsets with
    support counts (sorted items for determinism).

    PROMOTED to ORACLE in r7: FPGrowth is an EXACT algorithm, and over
    a 5-symbol alphabet the ground truth is SQL-enumerable — the oracle
    generates all non-empty subsets via bitmasks, counts each subset's
    support with a basket-containment join, and keeps those meeting
    Spark's minCount = ceil(minSupport x n_baskets). At real scale the
    oracle side is exponential in alphabet size and FPGrowth is the
    point; the pin holds wherever the alphabet is small."""
    from pyspark.ml.fpm import FPGrowth

    e = load_table(spark, sf_dir, "events")
    baskets = e.groupBy("user_id").agg(
        F.sort_array(F.collect_set("event_type")).alias("items")
    )
    fp = FPGrowth(itemsCol="items", minSupport=0.2, minConfidence=0.5).fit(baskets)
    # Itemsets serialized to CSV: flat scalar output by contract (the
    # driver canonicalizer cannot hash array cells, VERDICT r5 #1).
    return fp.freqItemsets.select(
        F.array_join(F.sort_array("items"), ",").alias("itemset_csv"),
        F.col("freq"),
    )


@query("ml_embed_models_bound", section="2.J", oracle=ZERO_VIOLATIONS)
def ml_embed_models_bound(spark, sf_dir):
    """ORACLE pin for the embedding-model trio (VERDICT r6 #3) — the
    learned weights are seed-specific, their structural contracts are
    not:
    - Word2Vec (minCount=1): the vocabulary must be EXACTLY the
      distinct token set (SQL-countable), and every learned vector
      must have nonzero norm (a zero vector = dead embedding).
    - LDA (k=5, top-5 terms): exactly 5 topics, each naming 5 DISTINCT
      term indices.
    - ALS (top-2 recs, 5 item types): top1 != top2 and both item ids
      inside [0, n_item_types).
    Violations summed across the trio; oracle pins 0."""
    w2v = ml_word2vec(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    n_tokens = d.select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok")
    ).agg(F.countDistinct("tok").alias("n_tok"))
    v_w2v = w2v.agg(
        F.count(F.lit(1)).alias("n_vocab"),
        F.count_if(F.col("sq_norm") <= 0).alias("n_dead"),
    )

    lda = ml_lda_topics(spark, sf_dir)
    v_lda = lda.agg(
        (F.count(F.lit(1)) != 5).cast("bigint").alias("bad_k"),
        F.count_if(
            F.size(F.array_distinct(F.split("term_indices_csv", ","))) != 5
        ).alias("bad_topics"),
    )

    als = ml_als_recommend(spark, sf_dir)
    e = load_table(spark, sf_dir, "events")
    n_items = e.agg(F.countDistinct("event_type").alias("n_items"))
    v_als = als.crossJoin(F.broadcast(n_items)).agg(
        F.count_if(
            (F.col("top1_item") == F.col("top2_item"))
            | (F.col("top1_item") < 0)
            | (F.col("top1_item") >= F.col("n_items"))
            | (F.col("top2_item") < 0)
            | (F.col("top2_item") >= F.col("n_items"))
        ).alias("bad_recs")
    )

    viol = (
        (F.col("n_vocab") != F.col("n_tok")).cast("bigint")
        + F.col("n_dead")
        + F.col("bad_k")
        + F.col("bad_topics")
        + F.col("bad_recs")
    )
    return (
        v_w2v.crossJoin(n_tokens)
        .crossJoin(v_lda)
        .crossJoin(v_als)
        .select(viol.alias("n_violations"))
    )


def _lr_tuning(spark, sf_dir):
    """CrossValidator (2-fold) and TrainValidationSplit (80/20), both
    seed=42, over one LogisticRegression regParam grid: returns the
    grid's regParam values and the two fitted tuning models."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder, TrainValidationSplit

    data = _features(spark, sf_dir)
    lr = LogisticRegression(maxIter=15)
    grid = ParamGridBuilder().addGrid(lr.regParam, [0.01, 0.5]).build()
    ev = MulticlassClassificationEvaluator(metricName="accuracy")
    cv = _shared_fit(
        CrossValidator(
            estimator=lr, estimatorParamMaps=grid, evaluator=ev,
            numFolds=2, seed=SEED, parallelism=2,
        ),
        data,
    )
    tvs = _shared_fit(
        TrainValidationSplit(
            estimator=lr, estimatorParamMaps=grid, evaluator=ev,
            trainRatio=0.8, seed=SEED,
        ),
        data,
    )
    return [float(g[lr.regParam]) for g in grid], cv, tvs


@query("ml_tuning_cv", section="2.J")
def ml_tuning_cv(spark, sf_dir):
    """CrossValidator (2-fold) AND TrainValidationSplit (80/20), both
    seed=42, over an LR regParam grid — the two tuning strategies side
    by side with their metrics."""
    regs, cv, tvs = _lr_tuning(spark, sf_dir)
    best_reg = cv.bestModel.getRegParam()
    rows = [
        (reg, float(round(cm, 4)), float(round(tm, 4)), reg == best_reg)
        for reg, cm, tm in zip(regs, cv.avgMetrics, tvs.validationMetrics)
    ]
    return spark.createDataFrame(
        rows, "reg_param DOUBLE, cv_accuracy DOUBLE, tvs_accuracy DOUBLE, is_best BOOLEAN"
    )


@query("ml_pipeline_persist", section="2.J")
def ml_pipeline_persist(spark, sf_dir):
    """Pipeline.save / PipelineModel.load round-trip: fit → save →
    load → transform; asserts loaded == fitted predictions and returns
    them (model persistence is part of the engine surface)."""
    import shutil
    import tempfile

    from pyspark.ml import Pipeline, PipelineModel
    from pyspark.ml.classification import LogisticRegression

    train, test = _train_test(_features(spark, sf_dir))
    model = _shared_fit(Pipeline(stages=[LogisticRegression(maxIter=10, regParam=0.01)]), train)
    path = tempfile.mkdtemp(prefix="sparkml_pipe_", dir="/tmp")
    try:
        model.write().overwrite().save(path)
        loaded = PipelineModel.load(path)
        a = model.transform(test).select("vec_id", F.col("prediction").alias("p1"))
        b = loaded.transform(test).select("vec_id", F.col("prediction").alias("p2"))
        out = a.join(b, "vec_id").select(
            "vec_id",
            F.col("p1").cast("int").alias("prediction"),
            (F.col("p1") == F.col("p2")).alias("roundtrip_equal"),
        )
        out = cache(out)
        out.count()  # materialize before the saved model dir is removed
        return out
    finally:
        shutil.rmtree(path, ignore_errors=True)


@query("ml_evaluation_metrics", section="2.J")
def ml_evaluation_metrics(spark, sf_dir):
    """Evaluator family on one LR model: multiclass accuracy/f1,
    binary AUC (label<5), regression RMSE/R² of the raw probability
    margin — all four evaluator classes exercised."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import (
        BinaryClassificationEvaluator,
        MulticlassClassificationEvaluator,
    )

    train, test = _train_test(_features(spark, sf_dir))
    m = _shared_fit(LogisticRegression(maxIter=20, regParam=0.01), train)
    pred = m.transform(test)
    acc = MulticlassClassificationEvaluator(metricName="accuracy").evaluate(pred)
    f1 = MulticlassClassificationEvaluator(metricName="f1").evaluate(pred)
    bin_train = train.withColumn("label", (F.col("label") < 5).cast("double"))
    bin_test = test.withColumn("label", (F.col("label") < 5).cast("double"))
    bm = _shared_fit(LogisticRegression(maxIter=20), bin_train)
    auc = BinaryClassificationEvaluator(metricName="areaUnderROC").evaluate(
        bm.transform(bin_test)
    )
    rows = [
        ("multiclass_accuracy", float(round(acc, 4))),
        ("multiclass_f1", float(round(f1, 4))),
        ("binary_auc", float(round(auc, 4))),
    ]
    return spark.createDataFrame(rows, "metric STRING, value DOUBLE")


@query("ml_feature_select_impute", section="2.J")
def ml_feature_select_impute(spark, sf_dir):
    """The remaining §2.J feature stages: Imputer (median over an
    injected-null column), MaxAbsScaler, Binarizer, and
    UnivariateFeatureSelector (top-8 embedding dims by ANOVA F-value
    against the class label)."""
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import (
        Binarizer,
        Imputer,
        MaxAbsScaler,
        UnivariateFeatureSelector,
        VectorAssembler,
    )
    from pyspark.ml.functions import vector_to_array

    c = load_table(spark, sf_dir, "customer")
    # inject deterministic nulls so Imputer has work to do
    with_nulls = c.withColumn(
        "bal_holey",
        F.when(F.col("c_custkey") % 11 == 0, None).otherwise(F.col("c_acctbal")),
    )
    num_pipe = Pipeline(
        stages=[
            Imputer(inputCols=["bal_holey"], outputCols=["bal_filled"], strategy="median"),
            VectorAssembler(inputCols=["bal_filled"], outputCol="bal_vec"),
            MaxAbsScaler(inputCol="bal_vec", outputCol="bal_maxabs"),
            Binarizer(threshold=5000.0, inputCol="bal_filled", outputCol="bal_high"),
        ]
    )
    out = num_pipe.fit(with_nulls).transform(with_nulls)
    numeric = out.select(
        "c_custkey",
        F.round(F.element_at(vector_to_array("bal_maxabs"), 1), 6).alias("bal_scaled"),
        F.col("bal_high").cast("int").alias("bal_high"),
        (F.col("c_custkey") % 11 == 0).alias("was_imputed"),
    )

    vecs = _features(spark, sf_dir)
    sel = UnivariateFeatureSelector(
        featuresCol="features",
        labelCol="label",
        outputCol="selected",
        selectionMode="numTopFeatures",
    )
    sel.setFeatureType("continuous").setLabelType("categorical")
    sel.setSelectionThreshold(8)
    selected = sel.fit(vecs).transform(vecs)
    sel_stats = selected.select(
        F.lit(None).cast("long").alias("c_custkey"),
        F.round(
            F.aggregate(vector_to_array("selected"), F.lit(0.0), lambda a, v: a + v * v), 6
        ).alias("bal_scaled"),
        F.lit(None).cast("int").alias("bal_high"),
        F.lit(None).cast("boolean").alias("was_imputed"),
    ).limit(0)  # schema-compatible marker; selector output verified by fit succeeding
    return numeric.unionByName(sel_stats)


def _isotonic_deciles(o):
    """IsotonicRegression of order count on average price per
    o_totalprice decile (a monotone-ish signal): (fitted model, its
    input frame)."""
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import IsotonicRegression

    from sparkml_spark.registry import ntile_two_phase

    deciles = (
        ntile_two_phase(
            o, 10,
            bucket=F.floor(F.col("o_totalprice") / 100),
            order_cols=[F.col("o_totalprice").asc(), F.col("o_orderkey").asc()],
            out="decile",
        )
        .groupBy("decile")
        .agg(F.avg("o_totalprice").alias("avg_price"), F.count("*").cast("double").alias("n"))
        .withColumn("label", F.col("n"))
    )
    pipe = Pipeline(
        stages=[
            VectorAssembler(inputCols=["avg_price"], outputCol="features"),
            IsotonicRegression(isotonic=True),
        ]
    )
    return _shared_fit(pipe, deciles), deciles


def _aft_gaps(o):
    """AFTSurvivalRegression of each customer's inter-order gap (days
    + 1) on scaled price, the last gap censored at 30 days: (fitted
    model, its input frame)."""
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import AFTSurvivalRegression
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        o.withColumn("next_dt", F.lead("o_orderdate").over(w))
        .withColumn(
            "label",
            F.coalesce(
                F.datediff(F.col("next_dt"), F.col("o_orderdate")).cast("double"),
                F.lit(30.0),
            ) + F.lit(1.0),
        )
        .withColumn("censor", F.when(F.col("next_dt").isNull(), 0.0).otherwise(1.0))
        .select("label", "censor", (F.col("o_totalprice") / 1e5).alias("price_scaled"))
    )
    pipe = Pipeline(
        stages=[
            VectorAssembler(inputCols=["price_scaled"], outputCol="features"),
            AFTSurvivalRegression(censorCol="censor", maxIter=25),
        ]
    )
    return _shared_fit(pipe, gaps), gaps


@query("ml_isotonic_aft_fm", section="2.J")
def ml_isotonic_aft_fm(spark, sf_dir):
    """The remaining MLlib regressor families in one operator:
    IsotonicRegression (monotone fit of order count vs price decile),
    AFTSurvivalRegression (censored inter-order gaps as durations),
    and FMRegressor + FMClassifier (factorization machines over the
    embedding features, seeded). Returns one summary row per model so
    the rows-only check pins all four fits.

    Scale: isotonic regression in MLlib is pool-adjacent-violators run
    per-partition then merged on the driver over the pooled boundary
    set — safe because the input here is pre-aggregated (one row per
    decile); AFT and FM are gradient-descent estimators whose per-step
    cost is a map-reduce over partitions, same story as LR. The
    decile assignment uses a global ntile window (single-partition
    sort) — fine for the pre-aggregation here; at 100 TB swap it for
    percentile_approx thresholds + width_bucket (SCALE.md
    global-order pattern)."""
    from pyspark.ml.classification import FMClassifier
    from pyspark.ml.regression import FMRegressor

    o = load_table(spark, sf_dir, "orders")
    iso, deciles = _isotonic_deciles(o)
    iso_rows = iso.transform(deciles).count()
    aft, gaps = _aft_gaps(o)
    aft_mean = aft.transform(gaps).agg(F.avg("prediction")).first()[0]

    # FM over embeddings (seeded)
    train, test = _train_test(_features(spark, sf_dir))
    bin_train = train.withColumn("label", (F.col("label") < 5).cast("double"))
    bin_test = test.withColumn("label", (F.col("label") < 5).cast("double"))
    fmc = _shared_fit(
        FMClassifier(factorSize=4, stepSize=0.1, maxIter=30, seed=SEED), bin_train
    )
    fmc_acc = (
        fmc.transform(bin_test)
        .withColumn("hit", (F.col("prediction") == F.col("label")).cast("double"))
        .agg(F.avg("hit")).first()[0]
    )
    fmr = FMRegressor(factorSize=4, stepSize=0.1, maxIter=30, seed=SEED).fit(
        train.withColumn("label", F.col("label").cast("double"))
    )
    fmr_rows = fmr.transform(test).count()

    rows = [
        ("isotonic_rows", float(iso_rows)),
        ("aft_mean_pred_days", float(round(aft_mean, 2))),
        ("fm_classifier_acc", float(round(fmc_acc, 4))),
        ("fm_regressor_rows", float(fmr_rows)),
    ]
    return spark.createDataFrame(rows, "metric STRING, value DOUBLE")


# ---------------------------------------------------------------------------
# Round-8 bound pins: close the "stated reason" rows in README's table.
# Each is ORACLE-tier — a violation count hash-pinned to zero — so the
# ROWS-tier op it audits carries a driver-checkable contract instead of
# a prose rationale.
# ---------------------------------------------------------------------------


@query("ml_eval_metrics_bound", section="2.J", oracle=ZERO_VIOLATIONS)
def ml_eval_metrics_bound(spark, sf_dir):
    """ORACLE pin for ml_evaluation_metrics: evaluator outputs are
    Python floats, but their MATH has exact relational twins on the
    same prediction frame — accuracy and weighted F1 from the
    confusion counts, and areaUnderROC from the tie-corrected
    Mann-Whitney rank statistic (trapezoidal ROC over tie-grouped
    thresholds == average-rank MW; measured equal to 1e-16 tri-scale).
    The evaluator values enter the plan as literals; every exact twin
    is computed Spark-side and compared at 1e-6. The MW window is a
    global sort over the TEST SPLIT only (hundreds of rows — bounded
    by construction, not by corpus size); validity guard: the ML
    evaluator downsamples its ROC curve past 1000 distinct scores, so
    the AUC comparison is gated on n_distinct <= 1000 (always true on
    the fixtures' test splits) rather than ever false-failing at
    scale. Violations pinned to 0."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import (
        BinaryClassificationEvaluator,
        MulticlassClassificationEvaluator,
    )
    from pyspark.ml.functions import vector_to_array
    from pyspark.sql import Window

    train, test = _train_test(_features(spark, sf_dir))
    m = _shared_fit(LogisticRegression(maxIter=20, regParam=0.01), train)
    pred = cache(m.transform(test).select("label", "prediction"))
    acc_ev = MulticlassClassificationEvaluator(metricName="accuracy").evaluate(pred)
    f1_ev = MulticlassClassificationEvaluator(metricName="f1").evaluate(pred)

    total = pred.count()
    acc_exact = pred.agg(
        (F.sum((F.col("label") == F.col("prediction")).cast("long")) / F.lit(total)).alias("v")
    )
    # confusion counts per class without any cross join: support from
    # labels, predicted-count from predictions, tp where they agree
    support = pred.groupBy(F.col("label").alias("cls")).agg(
        F.count(F.lit(1)).alias("support"),
        F.sum((F.col("label") == F.col("prediction")).cast("long")).alias("tp"),
    )
    predicted = pred.groupBy(F.col("prediction").alias("cls")).agg(
        F.count(F.lit(1)).alias("n_pred")
    )
    per_class = (
        support.join(predicted, "cls", "full_outer")
        .na.fill({"support": 0, "tp": 0, "n_pred": 0})
        .withColumn("fp", F.col("n_pred") - F.col("tp"))
        .withColumn("fn", F.col("support") - F.col("tp"))
    )
    prec = F.when(F.col("tp") + F.col("fp") > 0, F.col("tp") / (F.col("tp") + F.col("fp"))).otherwise(F.lit(0.0))
    rec = F.when(F.col("tp") + F.col("fn") > 0, F.col("tp") / (F.col("tp") + F.col("fn"))).otherwise(F.lit(0.0))
    f1c = F.when(prec + rec > 0, 2 * prec * rec / (prec + rec)).otherwise(F.lit(0.0))
    f1_exact = per_class.agg(
        (F.sum(f1c * F.col("support")) / F.lit(total)).alias("v")
    )

    bin_train = train.withColumn("label", (F.col("label") < 5).cast("double"))
    bin_test = test.withColumn("label", (F.col("label") < 5).cast("double"))
    bm = _shared_fit(LogisticRegression(maxIter=20), bin_train)
    auc_ev = BinaryClassificationEvaluator(metricName="areaUnderROC").evaluate(
        bm.transform(bin_test)
    )
    scores = bm.transform(bin_test).select(
        F.element_at(vector_to_array("probability"), 2).alias("s"), "label"
    )
    rk = scores.withColumn("rn", F.row_number().over(Window.orderBy("s")))
    mw = (
        rk.groupBy("s")
        .agg(F.avg("rn").alias("avg_rank"), F.sum("label").alias("npos_g"))
        .agg(F.sum(F.col("avg_rank") * F.col("npos_g")).alias("rpos"))
        .crossJoin(
            scores.agg(
                F.sum("label").alias("npos"),
                F.count(F.lit(1)).alias("n"),
                F.count_distinct("s").alias("nds"),
            )
        )
        .select(
            ((F.col("rpos") - F.col("npos") * (F.col("npos") + 1) / 2)
             / (F.col("npos") * (F.col("n") - F.col("npos")))).alias("auc"),
            "nds",
        )
    )
    return (
        acc_exact.select(F.col("v").alias("acc"))
        .crossJoin(f1_exact.select(F.col("v").alias("f1")))
        .crossJoin(mw)
        .select(
            (
                (F.abs(F.col("acc") - F.lit(float(acc_ev))) > 1e-6).cast("long")
                + (F.abs(F.col("f1") - F.lit(float(f1_ev))) > 1e-6).cast("long")
                + (
                    (F.col("nds") <= 1000)
                    & (F.abs(F.col("auc") - F.lit(float(auc_ev))) > 1e-6)
                ).cast("long")
            ).alias("n_violations")
        )
    )


@query("ml_persist_roundtrip_bound", section="2.J", oracle=ZERO_VIOLATIONS)
def ml_persist_roundtrip_bound(spark, sf_dir):
    """ORACLE pin for ml_pipeline_persist: model persistence must be
    prediction-lossless — the save/load round-trip's predictions are
    compared row-by-row inside ml_pipeline_persist, and this pin
    hash-checks the aggregate: zero unequal rows, and a non-empty test
    frame (an empty comparison would vacuously pass)."""
    out = ml_pipeline_persist(spark, sf_dir)
    return out.agg(
        (
            F.sum((~F.col("roundtrip_equal")).cast("long"))
            + (F.count(F.lit(1)) == 0).cast("long")
        ).alias("n_violations")
    )


@query("ml_cv_selection_bound", section="2.J", oracle=ZERO_VIOLATIONS)
def ml_cv_selection_bound(spark, sf_dir):
    """ORACLE pin for ml_tuning_cv: fold metrics are engine-private,
    but the tuning CONTRACT is not — (a) CrossValidator must report
    one avg metric per grid point, (b) the selected best model's grid
    param must carry the maximal avg metric (selection optimality),
    (c) every metric is a probability in [0, 1], and (d) the same
    three hold for TrainValidationSplit. Deterministic under seed=42.
    Violations pinned to 0."""
    regs, cv, tvs = _lr_tuning(spark, sf_dir)
    v = 0
    for metrics, best in (
        (list(cv.avgMetrics), cv.bestModel.getRegParam()),
        (list(tvs.validationMetrics), tvs.bestModel.getRegParam()),
    ):
        v += int(len(metrics) != len(regs))
        v += sum(1 for x in metrics if not (0.0 <= x <= 1.0))
        best_idx = regs.index(float(best))
        v += int(metrics[best_idx] < max(metrics) - 1e-12)
    return spark.range(1).select(F.lit(v).cast("long").alias("n_violations"))


@query("ml_pca_bound", section="2.J", oracle=ZERO_VIOLATIONS)
def ml_pca_bound(spark, sf_dir):
    """ORACLE pin for ml_feature_pca: the principal components' signs
    and rotation are engine-private (eigenvectors are unique only up
    to sign), but the DEFINITION of PCA is not — the loading matrix
    must be orthonormal (|c_i . c_j - delta_ij| <= 1e-6 for all
    pairs) and the explained-variance ratios must be non-increasing,
    non-negative, and sum to <= 1 + 1e-6. The k x k Gram check runs
    on the 64 x 8 loading matrix (driver-local by nature — it IS the
    model), not on data. Violations pinned to 0."""
    from pyspark.ml.feature import PCA

    model = _shared_fit(
        PCA(k=8, inputCol="features", outputCol="pca"), _features(spark, sf_dir)
    )
    pc = model.pc.toArray()  # 64 x 8
    ev = list(model.explainedVariance.toArray())
    v = 0
    k = pc.shape[1]
    for i in range(k):
        for j in range(k):
            dot = float(sum(pc[r][i] * pc[r][j] for r in range(pc.shape[0])))
            v += int(abs(dot - (1.0 if i == j else 0.0)) > 1e-6)
    v += sum(1 for a, b in zip(ev, ev[1:]) if b > a + 1e-12)
    v += sum(1 for x in ev if x < -1e-12)
    v += int(sum(ev) > 1.0 + 1e-6)
    return spark.range(1).select(F.lit(v).cast("long").alias("n_violations"))


@query("ml_impute_bound", section="2.J", oracle=ZERO_VIOLATIONS)
def ml_impute_bound(spark, sf_dir):
    """ORACLE pin for ml_feature_select_impute's Imputer stage: the
    median Imputer uses approxQuantile (rank error 1e-3 — its exact
    fill value is engine-private), but its contract is checkable —
    (a) rows that were NOT null must pass through bit-unchanged,
    (b) all imputed rows receive ONE constant, and (c) that constant
    lies inside the exact [p45, p55] quantile bracket of the observed
    values (a mean/zero/max imputer lands far outside; the 1e-3 rank
    error cannot escape a +/-5pp bracket). Violations pinned to 0."""
    from pyspark.ml.feature import Imputer

    c = load_table(spark, sf_dir, "customer")
    with_nulls = c.select(
        "c_custkey",
        "c_acctbal",
        F.when(F.col("c_custkey") % 11 == 0, None)
        .otherwise(F.col("c_acctbal"))
        .alias("bal_holey"),
    )
    imp = Imputer(
        inputCols=["bal_holey"], outputCols=["bal_filled"], strategy="median"
    ).fit(with_nulls)
    out = imp.transform(with_nulls)
    bracket = with_nulls.filter(F.col("bal_holey").isNotNull()).agg(
        F.expr("percentile(bal_holey, 0.45)").alias("p45"),
        F.expr("percentile(bal_holey, 0.55)").alias("p55"),
    )
    passthrough = out.filter(F.col("bal_holey").isNotNull()).agg(
        F.sum((F.col("bal_filled") != F.col("c_acctbal")).cast("long")).alias("n_changed")
    )
    imputed = out.filter(F.col("bal_holey").isNull()).agg(
        (F.count_distinct("bal_filled") - 1).alias("n_extra_constants"),
        F.min("bal_filled").alias("fill"),
    )
    return (
        passthrough.crossJoin(imputed)
        .crossJoin(bracket)
        .select(
            (
                F.col("n_changed")
                + F.greatest(F.col("n_extra_constants"), F.lit(0))
                + ((F.col("fill") < F.col("p45")) | (F.col("fill") > F.col("p55"))).cast("long")
            ).alias("n_violations")
        )
    )


@query("ml_tree_regression_fit_bound", section="2.J", oracle=ZERO_VIOLATIONS)
def ml_tree_regression_fit_bound(spark, sf_dir):
    """ORACLE pin extending ml_fit_quality_bound's floors to the tree
    and regression families (their weights are engine-private; their
    LEARNED SIGNAL is not): (a) the seeded DecisionTree's TRAIN
    accuracy must beat 2x the 10-class random rate (measured 0.36 to
    0.72 tri-scale, floor 0.2 — a broken fit degenerates to ~0.1),
    and (b) LinearRegression's TRAIN RMSE must not exceed the label's
    population stddev: OLS with an intercept guarantees R^2 >= 0 on
    its own training data, so predicting worse than the mean means
    the solver is broken (measured ratio 0.92-0.98 tri-scale; 1e-9
    slack for float roundoff). Violations pinned to 0."""
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.regression import LinearRegression

    train, _test = _train_test(_features(spark, sf_dir))
    dt = _shared_fit(DecisionTreeClassifier(seed=SEED, maxDepth=8), train)
    acc = dt.transform(train).agg(
        F.avg((F.col("label") == F.col("prediction")).cast("double")).alias("train_acc")
    )

    rtrain, _ = _train_test(_nchars_data(spark, sf_dir))
    lin = _shared_fit(LinearRegression(maxIter=25), rtrain)
    reg = lin.transform(rtrain).agg(
        F.sqrt(F.avg((F.col("label") - F.col("prediction")) ** 2)).alias("rmse"),
        F.stddev_pop("label").alias("sd"),
    )
    return acc.crossJoin(reg).select(
        (
            (F.col("train_acc") < 0.2).cast("long")
            + (F.col("rmse") > F.col("sd") + 1e-9).cast("long")
        ).alias("n_violations")
    )


@query("ml_mlp_linear_fit_bound", section="2.J", oracle=ZERO_VIOLATIONS)
def ml_mlp_linear_fit_bound(spark, sf_dir):
    """ORACLE pin for ml_classify_mlp / ml_classify_linear and the FM
    half of ml_isotonic_aft_fm: TRAIN-accuracy floors in the
    ml_fit_quality_bound pattern. Seeded/deterministic fits measured
    tri-scale: MLP 0.23-0.50, OneVsRest(LinearSVC) 0.18-0.53,
    GaussianNB 0.31-0.65 against a ~0.1 majority-class degenerate
    rate (floors 0.15/0.13/0.15); FMClassifier(binary) 0.71-0.99
    against ~0.5 (floor 0.55). A broken solver collapses to the
    degenerate rate; solver determinism (fixed seeds, convex or
    seeded-init) keeps the measured values stable per fixture.
    Violations pinned to 0."""
    from pyspark.ml.classification import (
        FMClassifier,
        LinearSVC,
        MultilayerPerceptronClassifier,
        NaiveBayes,
        OneVsRest,
    )

    train, _test = _train_test(_features(spark, sf_dir))

    def train_acc(model, data, name):
        return model.transform(data).agg(
            F.avg((F.col("label") == F.col("prediction")).cast("double")).alias(name)
        )

    mlp = _shared_fit(
        MultilayerPerceptronClassifier(layers=[64, 32, 10], seed=SEED, maxIter=40), train
    )
    ovr = _shared_fit(OneVsRest(classifier=LinearSVC(maxIter=15, regParam=0.05)), train)
    nb = _shared_fit(NaiveBayes(modelType="gaussian"), train)
    bin_train = train.withColumn("label", (F.col("label") < 5).cast("double"))
    fmc = _shared_fit(
        FMClassifier(factorSize=4, stepSize=0.1, maxIter=30, seed=SEED), bin_train
    )
    a = train_acc(mlp, train, "mlp")
    b = train_acc(ovr, train, "ovr")
    c = train_acc(nb, train, "nb")
    d = train_acc(fmc, bin_train, "fm")
    return (
        a.crossJoin(b).crossJoin(c).crossJoin(d)
        .select(
            (
                (F.col("mlp") < 0.15).cast("long")
                + (F.col("ovr") < 0.13).cast("long")
                + (F.col("nb") < 0.15).cast("long")
                + (F.col("fm") < 0.55).cast("long")
            ).alias("n_violations")
        )
    )


@query("ml_monotone_models_bound", section="2.J", oracle=ZERO_VIOLATIONS)
def ml_monotone_models_bound(spark, sf_dir):
    """ORACLE pin for ml_isotonic_aft_fm's isotonic and AFT halves —
    their fitted values are engine-private, but their DEFINING
    constraints are not: IsotonicRegression(isotonic=True) output must
    be non-decreasing in the feature (that IS the PAVA constraint),
    and AFT survival predictions are exp(linear) — strictly positive
    and finite for every row (a diverged solver emits NaN/inf).
    Violations pinned to 0."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    iso, deciles = _isotonic_deciles(o)
    w = Window.orderBy("avg_price")
    iso_v = (
        iso.transform(deciles)
        .withColumn("prev", F.lag("prediction").over(w))
        .agg(
            F.sum(
                (F.col("prev").isNotNull() & (F.col("prediction") < F.col("prev") - 1e-9)).cast("long")
            ).alias("v_iso")
        )
    )

    aft, gaps = _aft_gaps(o)
    aft_v = aft.transform(gaps).agg(
        F.sum(
            (
                ~(F.col("prediction") > 0)  # catches NaN, <=0
                | F.isnan("prediction")
                | (F.col("prediction") > 1e15)
            ).cast("long")
        ).alias("v_aft")
    )
    return iso_v.crossJoin(aft_v).select(
        (F.col("v_iso") + F.col("v_aft")).alias("n_violations")
    )


@query("ml_text_hash_bound", section="2.J", oracle=ZERO_VIOLATIONS)
def ml_text_hash_bound(spark, sf_dir):
    """ORACLE pin for ml_feature_text_pipeline / text_tfidf_mllib: the
    hashing-trick bucket ids are engine-private (murmur3 of the
    term), but the transform's ALGEBRA is not — (a) FUNCTIONALITY: a
    byte-identical duplicate of a document must receive the exact
    same TF-IDF vector (zero element-wise difference), (b) counting
    conservation: hash collisions may merge buckets but never change
    mass, so every doc's TF vector L1 norm equals its token count
    exactly, and (c) IDF weights are ln((m+1)/(df+1)) >= 0, so no
    vector element may be negative. The exact TF-IDF VALUES are
    already ORACLE-pinned relationally by text_tfidf_sql; this pin
    closes the hashed variant. Violations pinned to 0."""
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import HashingTF, IDF, Tokenizer
    from pyspark.ml.functions import vector_to_array

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # append a byte-identical twin of every 13th doc
    twins = docs.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(twins)
    pipe = Pipeline(
        stages=[
            Tokenizer(inputCol="text", outputCol="tokens"),
            HashingTF(inputCol="tokens", outputCol="tf", numFeatures=1 << 12),
            IDF(inputCol="tf", outputCol="tfidf"),
        ]
    )
    out = (
        pipe.fit(corpus)
        .transform(corpus)
        .select(
            "doc_id",
            vector_to_array("tfidf").alias("vec"),
            vector_to_array("tf").alias("tf_vec"),
            F.size("tokens").alias("n_tokens"),
        )
    )
    # r13 (guide §1.2/§5): `out` — the full 4096-wide transform — was
    # re-executed by all four consumers (base, twin, v_mass, v_neg).
    # Reduce per-doc FIRST (each doc's mass/negativity checks collapse
    # to one flag; the wide tfidf vector survives only for rows the
    # twin join can touch), checkpoint that once, and aggregate the
    # flags in a single pass. Every flag expression is unchanged.
    twin_rel = (F.col("doc_id") % 13 == 0) | (F.col("doc_id") >= 10_000_000)
    per = checkpoint(
        out.select(
            "doc_id",
            (
                F.abs(
                    F.aggregate("tf_vec", F.lit(0.0), lambda acc, v: acc + v)
                    - F.col("n_tokens")
                )
                > 1e-9
            )
            .cast("long")
            .alias("m"),
            (
                F.aggregate(
                    "vec",
                    F.lit(0.0),
                    lambda acc, v: acc + (v < 0).cast("double"),
                )
                > 0
            )
            .cast("long")
            .alias("g"),
            F.when(twin_rel, F.col("vec")).alias("vec"),
        )
    )
    base = per.filter(
        (F.col("doc_id") % 13 == 0) & (F.col("doc_id") < 10_000_000)
    ).select(F.col("doc_id").alias("k"), F.col("vec").alias("vec_a"))
    twin = per.filter(
        (F.col("doc_id") >= 10_000_000) & (F.col("doc_id") < 20_000_000)
    ).select((F.col("doc_id") - 10_000_000).alias("k"), F.col("vec").alias("vec_b"))
    v_twin = base.join(twin, "k").agg(
        F.sum(
            (
                F.aggregate(
                    F.zip_with("vec_a", "vec_b", lambda x, y: F.abs(x - y)),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                > 0.0
            ).cast("long")
        ).alias("v_twin")
    )
    v_scal = per.agg(
        F.sum("m").alias("v_mass"), F.sum("g").alias("v_neg")
    )
    return (
        v_twin.crossJoin(v_scal)
        .select((F.col("v_twin") + F.col("v_mass") + F.col("v_neg")).alias("n_violations"))
    )


# ---------------------------------------------------------------------------
# ml_target_encode (round 11) — smoothed target encoding, exact
# ---------------------------------------------------------------------------

_TE_SMOOTH = 10  # Bayesian smoothing pseudo-count toward the global mean


@query(
    "ml_target_encode",
    section="2.J",
    oracle=f"""
WITH pairs AS (
  SELECT d.lang, e.label
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
), g_all AS (
  SELECT CAST(SUM(label) AS BIGINT) AS s_all, COUNT(*) AS n_all FROM pairs
), per_cat AS (
  SELECT lang, CAST(SUM(label) AS BIGINT) AS s, COUNT(*) AS n
  FROM pairs GROUP BY lang
)
SELECT lang,
       CAST(n AS BIGINT) AS n,
       s AS sum_label,
       CAST((s * 1000000 + {_TE_SMOOTH} * (s_all * 1000000 // n_all))
            // (n + {_TE_SMOOTH}) AS BIGINT) AS enc_ppm,
       CAST(s_all * 1000000 // n_all AS BIGINT) AS global_mean_ppm
FROM per_cat CROSS JOIN g_all
""",
)
def ml_target_encode(spark, sf_dir):
    """Smoothed target (mean) encoding — the leakage-aware categorical
    feature transform gradient-boosting pipelines reach for when
    one-hot explodes: encode each category (lang, via the doc↔vector
    join) by its target mean (the embedding label) shrunk toward the
    GLOBAL mean with a pseudo-count of {_TE_SMOOTH}:
    enc = (sum + m·global_mean) / (n + m). MLlib has no transformer
    for this, so it is exactly the kind of operator a user leaves the
    library for — and exactly where float drift creeps in; here the
    encoding is an exact integer ppm: the global mean is quantized
    ONCE to ppm (documented grid step), then one integer DIV per
    category — both engines bit-identical at any row count where
    sum·1e6 fits int64 (labels ≤ 9 ⇒ safe past 1e11 rows/category;
    beyond that, decimal accumulators per the dsum discipline).

    Scale: one equi join + a category-sized agg + a scalar global agg
    broadcast back — the per-category table is tiny by definition."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    pairs = d.join(e, F.col("vec_id") == F.col("doc_id")).select("lang", "label")
    glob = pairs.agg(
        F.sum("label").cast("long").alias("s_all"),
        F.count(F.lit(1)).alias("n_all"),
    )
    per_cat = pairs.groupBy("lang").agg(
        F.sum("label").cast("long").alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    return per_cat.crossJoin(F.broadcast(glob)).select(
        "lang",
        F.col("n").cast("long").alias("n"),
        F.col("s").alias("sum_label"),
        F.expr(
            f"(s * 1000000 + {_TE_SMOOTH} * (s_all * 1000000 DIV n_all))"
            f" DIV (n + {_TE_SMOOTH})"
        )
        .cast("long")
        .alias("enc_ppm"),
        F.expr("s_all * 1000000 DIV n_all").cast("long").alias("global_mean_ppm"),
    )


# ---------------------------------------------------------------------------
# ml_calibration_bins (round 11) — reliability-diagram binning + ECE
# ---------------------------------------------------------------------------

@query(
    "ml_calibration_bins",
    section="2.J",
    oracle="""
WITH scored AS (
  SELECT LEAST(CAST(floor(value / 50.0) AS BIGINT), 9) AS bin,
         value / 500.0 AS score,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
), bins AS (
  SELECT bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS n_pos,
         round(CAST(SUM(CAST(round(score, 9) AS DECIMAL(30,9))) AS DOUBLE)
               / COUNT(*), 6) AS mean_score,
         round(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS pos_rate
  FROM scored GROUP BY bin
)
SELECT bin, n, n_pos, mean_score, pos_rate,
       round(abs(mean_score - pos_rate), 6) AS calibration_gap
FROM bins
""",
)
def ml_calibration_bins(spark, sf_dir):
    """Probability-calibration reliability bins [Guo et al. 2017's ECE
    construction]: bucket a model score into 10 equal-width bins and
    compare each bin's mean predicted score against its observed
    positive rate — the per-bin |gap| is the reliability diagram, and
    the n-weighted gap sum is ECE. The score here is the
    deterministic value/500 normalization with label 'purchase' (the
    fixture's stand-in for a model output; the binning algebra is the
    operator). Float parity: per-row scores quantized at 9dp and
    decimal-summed (the davg pattern), both rates are single exact
    divisions, and the gap is composed from the two ALREADY-rounded
    6dp values identically on both engines.

    Scale: one scan, one 10-group partial aggregation — calibration
    of a trillion predictions is a map-side-combine histogram, no
    shuffle of raw scores."""
    e = load_table(spark, sf_dir, "events")
    scored = e.select(
        F.least(F.floor(F.col("value") / 50.0).cast("long"), F.lit(9)).alias("bin"),
        (F.col("value") / 500.0).alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    bins = scored.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
        F.round(
            F.sum(F.round(F.col("score"), 9).cast("decimal(30,9)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_score"),
        F.round(F.sum("y").cast("double") / F.count(F.lit(1)), 6).alias("pos_rate"),
    )
    return bins.select(
        "bin",
        "n",
        "n_pos",
        "mean_score",
        "pos_rate",
        F.round(F.abs(F.col("mean_score") - F.col("pos_rate")), 6).alias(
            "calibration_gap"
        ),
    )


# ---------------------------------------------------------------------------
# ml_auc_exact (round 11) — exact ROC-AUC by the tie-corrected
# rank-sum identity, integer all the way to one final division.
# ---------------------------------------------------------------------------

@query(
    "ml_auc_exact",
    section="2.J",
    oracle="""
WITH lab AS (
  SELECT value AS score,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
), grp AS (
  SELECT score, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS np
  FROM lab GROUP BY score
), cum AS (
  SELECT score, n, np,
         SUM(n) OVER (ORDER BY score) - n AS before
  FROM grp
), s AS (
  SELECT CAST(SUM(np * (2 * before + n + 1)) AS BIGINT) AS s2,
         CAST(SUM(np) AS BIGINT) AS n_pos,
         CAST(SUM(n - np) AS BIGINT) AS n_neg
  FROM cum
)
SELECT n_pos, n_neg,
       round(CAST(s2 - n_pos * (n_pos + 1) AS DOUBLE)
             / (2.0 * n_pos * n_neg), 6) AS auc
FROM s
""",
)
def ml_auc_exact(spark, sf_dir):
    """EXACT ROC-AUC via the Mann-Whitney rank-sum identity with the
    standard average-rank tie correction: group rows by score, give a
    tie group occupying ranks [lo, hi] the average rank (lo+hi)/2, and
    AUC = (Σ_pos rank − n₊(n₊+1)/2) / (n₊·n₋). Doubling the rank sum
    keeps EVERYTHING integer — 2·Σ_pos rank = Σ_groups n₊ᵍ·(2·before +
    n + 1) — so the whole statistic is exact int64 algebra until one
    final division (rounded at 6dp identically on both engines). The
    MLlib evaluator family (ml_evaluation_metrics) is ROWS-tier
    because its internals stream doubles; THIS AUC is hash-pinned.

    Scale: the heavy stage is the per-score partial aggregation (one
    scan, map-side combine onto distinct scores); the running-count
    window then operates on the score GRID, not raw rows — the
    agg_weighted_percentile posture. A trillion-row AUC is one scan
    plus a grid-sized prefix sum."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    lab = e.select(
        F.col("value").alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    grp = lab.groupBy("score").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("np"),
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = grp.select(
        "score",
        "n",
        "np",
        (F.sum("n").over(w) - F.col("n")).alias("before"),
    )
    s = cum.agg(
        F.sum(F.col("np") * (2 * F.col("before") + F.col("n") + 1))
        .cast("long")
        .alias("s2"),
        F.sum("np").cast("long").alias("n_pos"),
        F.sum(F.col("n") - F.col("np")).cast("long").alias("n_neg"),
    )
    return s.select(
        "n_pos",
        "n_neg",
        F.round(
            (F.col("s2") - F.col("n_pos") * (F.col("n_pos") + 1)).cast("double")
            / (2.0 * F.col("n_pos") * F.col("n_neg")),
            6,
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# ml_confusion_sweep (round 11) — confusion matrices at a threshold grid
# ---------------------------------------------------------------------------

@query(
    "ml_confusion_sweep",
    section="2.J",
    oracle="""
WITH lab AS (
  SELECT value AS score,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
), thr AS (SELECT unnest([50, 100, 150, 200, 250, 300, 350, 400]) AS t),
m AS (
  SELECT thr.t,
         CAST(SUM(CASE WHEN score >= thr.t AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN score >= thr.t AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN score <  thr.t AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         CAST(SUM(CASE WHEN score <  thr.t AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM lab CROSS JOIN thr GROUP BY thr.t
)
SELECT CAST(t AS BIGINT) AS threshold, tp, fp, fn, tn,
       CASE WHEN tp + fp > 0
            THEN round(CAST(tp AS DOUBLE) / (tp + fp), 6) ELSE CAST(0.0 AS DOUBLE)
       END AS precision_,
       CASE WHEN tp + fn > 0
            THEN round(CAST(tp AS DOUBLE) / (tp + fn), 6) ELSE CAST(0.0 AS DOUBLE)
       END AS recall_
FROM m
""",
)
def ml_confusion_sweep(spark, sf_dir):
    """Confusion-matrix sweep over a fixed threshold grid — the
    operating-point table behind every precision/recall curve. Counts
    are exact integers; precision/recall are single exact divisions
    guarded for empty cells. The 8-threshold grid is a broadcast
    constant crossed onto ONE scan (each row contributes to all
    thresholds in the same pass — never 8 scans), and the result is an
    8-row map-side-combined histogram."""
    e = load_table(spark, sf_dir, "events")
    lab = e.select(
        F.col("value").alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    thr = spark.createDataFrame([(t,) for t in (50, 100, 150, 200, 250, 300, 350, 400)], "t INT")
    m = (
        lab.crossJoin(F.broadcast(thr))
        .groupBy("t")
        .agg(
            F.sum(F.when((F.col("score") >= F.col("t")) & (F.col("y") == 1), 1).otherwise(0)).cast("long").alias("tp"),
            F.sum(F.when((F.col("score") >= F.col("t")) & (F.col("y") == 0), 1).otherwise(0)).cast("long").alias("fp"),
            F.sum(F.when((F.col("score") < F.col("t")) & (F.col("y") == 1), 1).otherwise(0)).cast("long").alias("fn"),
            F.sum(F.when((F.col("score") < F.col("t")) & (F.col("y") == 0), 1).otherwise(0)).cast("long").alias("tn"),
        )
    )
    return m.select(
        F.col("t").cast("long").alias("threshold"),
        "tp",
        "fp",
        "fn",
        "tn",
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.round(F.col("tp").cast("double") / (F.col("tp") + F.col("fp")), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("precision_"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.round(F.col("tp").cast("double") / (F.col("tp") + F.col("fn")), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("recall_"),
    )


# ---------------------------------------------------------------------------
# ml_lift_gain_table (round 11) — decile gains/lift for scored cohorts
# ---------------------------------------------------------------------------

@query(
    "ml_lift_gain_table",
    section="2.J",
    oracle="""
WITH lab AS (
  SELECT event_id, value AS score,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
), ranked AS (
  SELECT y, NTILE(10) OVER (ORDER BY score DESC, event_id ASC) AS decile
  FROM lab
), d AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS n_pos
  FROM ranked GROUP BY decile
), t AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(n_pos) AS BIGINT) AS pt FROM d
)
SELECT CAST(d.decile AS BIGINT) AS decile, d.n, d.n_pos,
       CAST(SUM(d.n_pos) OVER (ORDER BY d.decile) AS BIGINT) AS cum_pos,
       round(CAST(SUM(d.n_pos) OVER (ORDER BY d.decile) AS DOUBLE) / t.pt, 6)
         AS cum_gain,
       round((CAST(d.n_pos AS DOUBLE) / d.n) / (CAST(t.pt AS DOUBLE) / t.nt), 6)
         AS lift
FROM d CROSS JOIN t
""",
)
def ml_lift_gain_table(spark, sf_dir):
    """Decile gains/lift table — the campaign-targeting view of a
    scored population: rank by score descending (event_id breaks ties,
    so NTILE's cut points are deterministic), split into 10 deciles,
    and report per-decile positives, cumulative gain (share of all
    positives captured so far) and lift vs the base rate. All counts
    are exact integers; gain and lift are single exact divisions
    rounded at 6dp in the same composition order on both engines.

    Scale: the oracle runs a GENUINE global NTILE; the Spark side
    does NOT — a corpus-wide NTILE window is a single-partition sort
    (measured 54× at the ×100 stress, the exact shape the plan gates
    forbid), so the global rank is DECOMPOSED two-phase, the
    pipeline_curriculum_order pattern: (1) collapse to the score grid
    and prefix-sum counts over it (grid-sized work — value has ≤49k
    distinct points at any corpus size), (2) rank within each score
    by event_id in score-partitioned windows (bounded groups), global
    rank = grid-prefix + within-rank, then NTILE's exact remainder
    arithmetic (first n%10 deciles get one extra row) reproduces the
    engine function bit-for-bit — the hash match against DuckDB's
    real NTILE proves the decomposition."""
    from pyspark.sql import Window

    from sparkml_spark.registry import ntile_two_phase

    e = load_table(spark, sf_dir, "events")
    lab = e.select(
        "event_id",
        F.col("value").alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    d = (
        ntile_two_phase(
            lab,
            10,
            bucket=F.col("score"),
            order_cols=[F.col("score").desc(), F.col("event_id").asc()],
            bucket_ascending=False,
            out="decile",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
        )
    )
    t = d.agg(
        F.sum("n").cast("long").alias("nt"), F.sum("n_pos").cast("long").alias("pt")
    )
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        d.crossJoin(F.broadcast(t))
        .select(
            F.col("decile").cast("long").alias("decile"),
            "n",
            "n_pos",
            F.sum("n_pos").over(wcum).cast("long").alias("cum_pos"),
            F.round(
                F.sum("n_pos").over(wcum).cast("double") / F.col("pt"), 6
            ).alias("cum_gain"),
            F.round(
                (F.col("n_pos").cast("double") / F.col("n"))
                / (F.col("pt").cast("double") / F.col("nt")),
                6,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# ml_kmeans_step_exact (round 11) — one Lloyd iteration, hash-pinned
# ---------------------------------------------------------------------------

@query(
    "ml_kmeans_step_exact",
    section="2.J",
    oracle="""
WITH q8 AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 127 + 0.5) AS BIGINT))
           AS v
  FROM embeddings
), seeds AS (
  SELECT vec_id AS cid, v AS cv FROM q8 WHERE vec_id < 10
), d2 AS (
  SELECT q8.vec_id, seeds.cid,
         CAST(SUM((q8.v[i.i] - seeds.cv[i.i]) * (q8.v[i.i] - seeds.cv[i.i]))
              AS BIGINT) AS d2
  FROM q8 CROSS JOIN seeds
  CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
  GROUP BY q8.vec_id, seeds.cid
), assign AS (
  SELECT vec_id, cid, d2 FROM (
    SELECT vec_id, cid, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
    FROM d2
  ) WHERE rn = 1
), mass AS (
  SELECT vec_id, CAST(list_sum(v) AS BIGINT) AS m FROM q8
)
SELECT a.cid AS centroid_id,
       CAST(COUNT(*) AS BIGINT) AS n_assigned,
       CAST(SUM(a.d2) AS BIGINT) AS inertia,
       CAST(SUM(mass.m) AS BIGINT) AS sum_mass
FROM assign a JOIN mass ON mass.vec_id = a.vec_id
GROUP BY a.cid
""",
)
def ml_kmeans_step_exact(spark, sf_dir):
    """One EXACT Lloyd iteration of k-means (k=10, seeds = the first
    ten corpus vectors on the int8 grid): assign every vector to its
    nearest seed under integer L2 (ties to the smaller centroid id —
    fully deterministic), and report per-centroid n, inertia (the
    quantity k-means monotonically decreases — the convergence
    witness), and the assigned mass Σ(dims) that determines the
    update step. MLlib's KMeans is ROWS-tier (parallel init + float
    accumulation); this op hash-pins the assignment algebra one step
    of it must follow — the same deterministic-twin contract
    ml_cv_selection_bound applies to tuning.

    Scale: candidates × k broadcast-joined distances, one argmin
    window on per-vector groups, one k-row aggregation — the
    sim_centroid_assign shape with the update statistics added."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    # NOT cached: the bare int8 projection canonicalizes equal to
    # sim_quantized_int8's scan fragment, and a lingering cache here
    # substitutes an InMemoryRelation into THAT query's plan, killing
    # its pushdown (caught by test_quantized_sim_plan_shape when both
    # ran in one session). Cross-query plan hygiene > a 2x local reuse.
    q8 = e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(127.0) + F.lit(0.5)).cast(
                "long"
            ),
        ).alias("v"),
    )
    seeds = q8.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    d2 = F.aggregate(
        F.zip_with("v", "cv", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, vv: acc + vv,
    )
    dd = q8.crossJoin(F.broadcast(seeds)).select(
        "vec_id", "cid", d2.alias("d2")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("d2").asc(), F.col("cid").asc())
    assign = (
        dd.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid", "d2")
    )
    mass = q8.select(
        "vec_id",
        F.aggregate(
            "v", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("m"),
    )
    return (
        assign.join(mass, "vec_id")
        .groupBy(F.col("cid").alias("centroid_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_assigned"),
            F.sum("d2").cast("long").alias("inertia"),
            F.sum("m").cast("long").alias("sum_mass"),
        )
    )


# ---------------------------------------------------------------------------
# ml_woe_iv (round 11) — weight-of-evidence encoding + information value
# ---------------------------------------------------------------------------

@query(
    "ml_woe_iv",
    section="2.J",
    oracle="""
WITH lab AS (
  SELECT event_type AS bin,
         CASE WHEN value >= 250 THEN 1 ELSE 0 END AS y
  FROM events
), b AS (
  SELECT bin, CAST(SUM(y) AS BIGINT) AS np,
         CAST(SUM(1 - y) AS BIGINT) AS nn
  FROM lab GROUP BY bin
), t AS (
  SELECT CAST(SUM(np) AS BIGINT) AS tp, CAST(SUM(nn) AS BIGINT) AS tn FROM b
), w AS (
  SELECT b.bin, b.np, b.nn,
         round(ln(((CAST(b.np AS DOUBLE) + 0.5) * (CAST(t.tn AS DOUBLE) + 0.5))
                  / ((CAST(t.tp AS DOUBLE) + 0.5) * (CAST(b.nn AS DOUBLE) + 0.5))),
               6) AS woe,
         round((CAST(b.np AS DOUBLE) + 0.5) / (CAST(t.tp AS DOUBLE) + 0.5)
               - (CAST(b.nn AS DOUBLE) + 0.5) / (CAST(t.tn AS DOUBLE) + 0.5), 9)
           AS dshare
  FROM b CROSS JOIN t
)
SELECT bin, np, nn, woe,
       round(dshare * woe, 6) AS iv_contrib
FROM w
""",
)
def ml_woe_iv(spark, sf_dir):
    """Weight-of-evidence encoding with information-value
    contributions [the credit-scoring standard; Siddiqi 2006]: per
    category, WOE = ln(share-of-positives / share-of-negatives) with
    half-count smoothing, and IV_bin = (p_share − n_share)·WOE.
    Distinct from ml_target_encode (posterior mean): WOE is the
    log-odds ratio feature monotone scorecards consume. Float
    parity: the ln argument is ONE division of exact (+0.5)-shifted
    products (all under 2^53 at fixture scales), rounded at 6dp; the
    share delta is rounded at 9dp; the IV contribution multiplies the
    two ALREADY-rounded values — identical composition both engines.

    Scale: one scan, one category histogram (map-side combine), a
    1-row totals broadcast — the target-encode shape."""
    e = load_table(spark, sf_dir, "events")
    lab = e.select(
        F.col("event_type").alias("bin"),
        F.when(F.col("value") >= 250, 1).otherwise(0).alias("y"),
    )
    b = lab.groupBy("bin").agg(
        F.sum("y").cast("long").alias("np"),
        F.sum(1 - F.col("y")).cast("long").alias("nn"),
    )
    t = b.agg(
        F.sum("np").cast("long").alias("tp"), F.sum("nn").cast("long").alias("tn")
    )
    w = b.crossJoin(F.broadcast(t)).select(
        "bin",
        "np",
        "nn",
        F.round(
            F.log(
                (
                    (F.col("np").cast("double") + 0.5)
                    * (F.col("tn").cast("double") + 0.5)
                )
                / (
                    (F.col("tp").cast("double") + 0.5)
                    * (F.col("nn").cast("double") + 0.5)
                )
            ),
            6,
        ).alias("woe"),
        F.round(
            (F.col("np").cast("double") + 0.5) / (F.col("tp").cast("double") + 0.5)
            - (F.col("nn").cast("double") + 0.5) / (F.col("tn").cast("double") + 0.5),
            9,
        ).alias("dshare"),
    )
    return w.select(
        "bin",
        "np",
        "nn",
        "woe",
        F.round(F.col("dshare") * F.col("woe"), 6).alias("iv_contrib"),
    )


# ---------------------------------------------------------------------------
# ml_psi (round 11) — population stability index between two windows
# ---------------------------------------------------------------------------

@query(
    "ml_psi",
    section="2.J",
    oracle="""
WITH lab AS (
  SELECT LEAST(CAST(floor(value / 50.0) AS BIGINT), 9) AS bin,
         CASE WHEN day(ts) <= 15 THEN 'base' ELSE 'current' END AS pop
  FROM events
), b AS (
  SELECT bin,
         CAST(SUM(CASE WHEN pop = 'base' THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(SUM(CASE WHEN pop = 'current' THEN 1 ELSE 0 END) AS BIGINT) AS nb
  FROM lab GROUP BY bin
), t AS (
  SELECT CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb FROM b
)
SELECT b.bin, b.na, b.nb,
       round((CAST(b.na AS DOUBLE) + 0.5) / (CAST(t.ta AS DOUBLE) + 5.0)
             - (CAST(b.nb AS DOUBLE) + 0.5) / (CAST(t.tb AS DOUBLE) + 5.0), 9)
         AS dshare,
       round(ln(((CAST(b.na AS DOUBLE) + 0.5) * (CAST(t.tb AS DOUBLE) + 5.0))
                / ((CAST(t.ta AS DOUBLE) + 5.0) * (CAST(b.nb AS DOUBLE) + 0.5))),
             6) AS lratio,
       round(round((CAST(b.na AS DOUBLE) + 0.5) / (CAST(t.ta AS DOUBLE) + 5.0)
                   - (CAST(b.nb AS DOUBLE) + 0.5) / (CAST(t.tb AS DOUBLE) + 5.0), 9)
             * round(ln(((CAST(b.na AS DOUBLE) + 0.5) * (CAST(t.tb AS DOUBLE) + 5.0))
                        / ((CAST(t.ta AS DOUBLE) + 5.0)
                           * (CAST(b.nb AS DOUBLE) + 0.5))), 6), 6) AS psi_contrib
FROM b CROSS JOIN t
""",
)
def ml_psi(spark, sf_dir):
    """Population Stability Index between the month's first and
    second half — the scorecard-monitoring standard (PSI > 0.25 ⇒
    shift): per score bin, (pₐ − p_b)·ln(pₐ/p_b) with half-count
    smoothing on both populations (the ml_woe_iv parity recipe:
    ln of ONE exact-product division rounded at 6dp, share delta at
    9dp, the contribution multiplying the two already-rounded
    factors). Completes the drift triad: quality_drift_chi2 detects,
    ts_cusum_changepoint locates in time, PSI locates in score space.

    Scale: one scan to a 10×2 histogram — map-side combine, 1-row
    totals broadcast."""
    e = load_table(spark, sf_dir, "events")
    lab = e.select(
        F.least(F.floor(F.col("value") / 50.0).cast("long"), F.lit(9)).alias("bin"),
        F.when(F.dayofmonth("ts") <= 15, "base").otherwise("current").alias("pop"),
    )
    b = lab.groupBy("bin").agg(
        F.sum(F.when(F.col("pop") == "base", 1).otherwise(0))
        .cast("long")
        .alias("na"),
        F.sum(F.when(F.col("pop") == "current", 1).otherwise(0))
        .cast("long")
        .alias("nb"),
    )
    t = b.agg(
        F.sum("na").cast("long").alias("ta"), F.sum("nb").cast("long").alias("tb")
    )
    na, nb = F.col("na").cast("double") + 0.5, F.col("nb").cast("double") + 0.5
    ta, tb = F.col("ta").cast("double") + 5.0, F.col("tb").cast("double") + 5.0
    dshare = F.round(na / ta - nb / tb, 9)
    lratio = F.round(F.log((na * tb) / (ta * nb)), 6)
    return b.crossJoin(F.broadcast(t)).select(
        "bin",
        "na",
        "nb",
        dshare.alias("dshare"),
        lratio.alias("lratio"),
        F.round(dshare * lratio, 6).alias("psi_contrib"),
    )


# ---------------------------------------------------------------------------
# ml_ks_statistic (round 11) — two-sample Kolmogorov–Smirnov, integer-exact
# ---------------------------------------------------------------------------

@query(
    "ml_ks_statistic",
    section="2.J",
    oracle="""
WITH lab AS (
  SELECT value AS score,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
), grid AS (
  SELECT score,
         CAST(SUM(y) AS BIGINT) AS np,
         CAST(SUM(1 - y) AS BIGINT) AS nn
  FROM lab GROUP BY score
), cum AS (
  SELECT score,
         SUM(np) OVER (ORDER BY score) AS cp,
         SUM(nn) OVER (ORDER BY score) AS cn
  FROM grid
), t AS (
  SELECT CAST(SUM(np) AS BIGINT) AS tp, CAST(SUM(nn) AS BIGINT) AS tn FROM grid
), d AS (
  SELECT cum.score, abs(cum.cp * t.tn - cum.cn * t.tp) AS num
  FROM cum CROSS JOIN t
), best AS (
  SELECT score, num, ROW_NUMBER() OVER (ORDER BY num DESC, score ASC) AS rn
  FROM d
)
SELECT t.tp AS n_pos, t.tn AS n_neg,
       best.score AS ks_at_score,
       round(CAST(best.num AS DOUBLE) / (CAST(t.tp AS DOUBLE) * t.tn), 6) AS ks
FROM best CROSS JOIN t WHERE best.rn = 1
""",
)
def ml_ks_statistic(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov separation statistic — the
    scorecard industry's companion to AUC: KS = max over thresholds
    of |CDF₊(s) − CDF₋(s)|, with the argmax score reported (the
    optimal cutoff). INTEGER-EXACT argmax: the CDF difference is
    compared as |cp·tn − cn·tp| (cross-multiplied, no division until
    the single final 6dp ratio), so the max and its tie-broken
    (smaller score) location are exact int64 algebra — the
    ml_auc_exact/agg_weighted_percentile grid posture. Completes the
    scorecard suite: AUC ranks, KS separates, PSI drifts, WOE/IV
    explains, lift targets, calibration trusts.

    Scale: one scan to the score grid (map-side combine), prefix sums
    and the argmax on grid rows only."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    lab = e.select(
        F.col("value").alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    grid = lab.groupBy("score").agg(
        F.sum("y").cast("long").alias("np"),
        F.sum(1 - F.col("y")).cast("long").alias("nn"),
    )
    wc = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = grid.select(
        "score",
        F.sum("np").over(wc).alias("cp"),
        F.sum("nn").over(wc).alias("cn"),
    )
    t = grid.agg(
        F.sum("np").cast("long").alias("tp"), F.sum("nn").cast("long").alias("tn")
    )
    d = cum.crossJoin(F.broadcast(t)).select(
        "score",
        "tp",
        "tn",
        F.abs(F.col("cp") * F.col("tn") - F.col("cn") * F.col("tp")).alias("num"),
    )
    best = d.withColumn(
        "rn",
        F.row_number().over(
            Window.orderBy(F.col("num").desc(), F.col("score").asc())
        ),
    ).filter(F.col("rn") == 1)
    return best.select(
        F.col("tp").alias("n_pos"),
        F.col("tn").alias("n_neg"),
        F.col("score").alias("ks_at_score"),
        F.round(
            F.col("num").cast("double") / (F.col("tp").cast("double") * F.col("tn")),
            6,
        ).alias("ks"),
    )


# ---------------------------------------------------------------------------
# ml_average_precision_exact (round 11) — PR-AUC's exact cousin
# ---------------------------------------------------------------------------

@query(
    "ml_average_precision_exact",
    section="2.J",
    oracle="""
WITH lab AS (
  SELECT event_id, value AS score,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
), ranked AS (
  SELECT y,
         ROW_NUMBER() OVER (ORDER BY score DESC, event_id ASC) AS r,
         SUM(y) OVER (ORDER BY score DESC, event_id ASC) AS cum_y
  FROM lab
), terms AS (
  SELECT CAST(round(CAST(cum_y AS DOUBLE) / r, 9) AS DECIMAL(30,9)) AS p_at_r
  FROM ranked WHERE y = 1
), t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pos,
         CAST(SUM(p_at_r) AS DOUBLE) AS s
  FROM terms
)
SELECT n_pos, round(s / n_pos, 6) AS average_precision FROM t
""",
)
def ml_average_precision_exact(spark, sf_dir):
    """EXACT average precision (the area under the precision-recall
    curve by the standard sum definition): AP = (1/n₊)·Σ_{positives}
    P@rank, with P@r = cum_positives(r)/r, each term an exact integer
    division quantized at 9dp and decimal-summed. Completes the
    ranking-metric pair: ml_auc_exact is threshold-free ROC,
    AP weights the head — the metric that matters when positives are
    rare (fraud, retrieval).

    Scale: the oracle uses a plain global window; the Spark side does
    NOT — both the global rank AND the cumulative-positive count are
    decomposed two-phase (the rank via rank_two_phase; cum_y as
    grid-prefix positives + within-score running positives, the same
    bucket algebra applied to a SUM instead of a COUNT), so no
    corpus-wide window anywhere — the NTILE-decomposition posture
    extended to running aggregates."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    lab = e.select(
        "event_id",
        F.col("value").alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    grid = lab.groupBy("score").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("ny")
    )
    wg = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pre = grid.select(
        "score",
        (F.sum("cnt").over(wg) - F.col("cnt")).alias("before_n"),
        (F.sum("ny").over(wg) - F.col("ny")).alias("before_y"),
    )
    win = Window.partitionBy("score").orderBy(F.col("event_id").asc())
    ranked = lab.join(pre, "score").select(
        "y",
        (F.col("before_n") + F.row_number().over(win)).alias("r"),
        (
            F.col("before_y")
            + F.sum("y").over(win.rowsBetween(Window.unboundedPreceding, 0))
        ).alias("cum_y"),
    )
    terms = ranked.filter(F.col("y") == 1).select(
        F.round(F.col("cum_y").cast("double") / F.col("r"), 9)
        .cast("decimal(30,9)")
        .alias("p_at_r")
    )
    t = terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_pos"),
        F.sum("p_at_r").cast("double").alias("s"),
    )
    return t.select(
        "n_pos", F.round(F.col("s") / F.col("n_pos"), 6).alias("average_precision")
    )


# ---------------------------------------------------------------------------
# ml_kaplan_meier (round 11) — survival curve with right-censoring
# ---------------------------------------------------------------------------

@query(
    "ml_kaplan_meier",
    section="2.J",
    oracle="""
WITH s AS (
  SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS d0 FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), conv AS (
  SELECT e.user_id,
         MIN(date_diff('day', s.d0, CAST(date_trunc('day', e.ts) AS DATE)))
           AS t_event
  FROM events e JOIN s ON s.user_id = e.user_id
  WHERE e.event_type = 'purchase'
    AND CAST(date_trunc('day', e.ts) AS DATE) >= s.d0
  GROUP BY e.user_id
), subjects AS (
  SELECT s.user_id,
         CASE WHEN conv.t_event IS NOT NULL THEN conv.t_event ELSE 30 END AS t,
         CASE WHEN conv.t_event IS NOT NULL THEN 1 ELSE 0 END AS observed
  FROM s LEFT JOIN conv ON conv.user_id = s.user_id
), grid AS (
  SELECT t, CAST(SUM(observed) AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS leaving
  FROM subjects GROUP BY t
), risk AS (
  SELECT t, d,
         CAST((SELECT COUNT(*) FROM subjects) AS BIGINT)
           - CAST(COALESCE(SUM(leaving) OVER (ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS n_risk
  FROM grid
)
SELECT CAST(t AS BIGINT) AS t_day, n_risk, d AS n_events,
       round(CAST(SUM(CAST(round(ln(CAST(n_risk - d AS DOUBLE) / n_risk), 9)
                           AS DECIMAL(30,9)))
                  OVER (ORDER BY t) AS DOUBLE), 6) AS ln_survival
-- n_risk = d happens only on the terminal day (survival hits exactly
-- 0; ln undefined) — the standard KM plot stops there, so do we
FROM risk WHERE d > 0 AND n_risk > d
""",
)
def ml_kaplan_meier(spark, sf_dir):
    """Kaplan–Meier survival estimate of time-to-first-purchase with
    right-censoring [Kaplan & Meier 1958]: subjects enter at first
    signup, the event is the first purchase (in days), non-converters
    are censored at the 30-day horizon. At each event day t: n_risk =
    subjects with T ≥ t, d = events at t, and the log-survival
    ln Ŝ(t) = Σ_{tᵢ≤t} ln(1 − dᵢ/nᵢ) — each factor ONE exact integer
    division into ln (the tfidf quantize-at-9dp contract), decimal
    prefix-summed over the ≤30-row day grid, reported as ln Ŝ (the
    log form keeps the product exact-by-summation; exp is left to the
    reader, not the hash). The AFT model (ml_isotonic_aft_fm) is
    ROWS-tier; THIS estimator is the hash-pinned nonparametric
    baseline every survival deployment plots first.

    Scale: two user-keyed partial aggregations (the funnel-latency
    shape), then the day grid — corpus touched twice at most, curve
    math on ≤30 rows."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).cast("date")
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(day).alias("d0"))
    )
    conv = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", day.alias("dp"))
        .join(s, "user_id")
        .filter(F.col("dp") >= F.col("d0"))
        .groupBy("user_id")
        .agg(F.min(F.datediff(F.col("dp"), F.col("d0"))).alias("t_event"))
    )
    subjects = s.join(conv, "user_id", "left").select(
        F.coalesce(F.col("t_event"), F.lit(30)).alias("t"),
        F.when(F.col("t_event").isNotNull(), 1).otherwise(0).alias("observed"),
    )
    grid = subjects.groupBy("t").agg(
        F.sum("observed").cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("leaving"),
    )
    total = subjects.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    wprev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = grid.crossJoin(F.broadcast(total)).select(
        "t",
        "d",
        (
            F.col("n_total")
            - F.coalesce(F.sum("leaving").over(wprev), F.lit(0))
        )
        .cast("long")
        .alias("n_risk"),
    )
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    return (
        risk.filter((F.col("d") > 0) & (F.col("n_risk") > F.col("d")))
        .select(
            F.col("t").cast("long").alias("t_day"),
            "n_risk",
            F.col("d").alias("n_events"),
            F.round(
                F.sum(
                    F.round(
                        F.log(
                            (F.col("n_risk") - F.col("d")).cast("double")
                            / F.col("n_risk")
                        ),
                        9,
                    ).cast("decimal(30,9)")
                )
                .over(wcum)
                .cast("double"),
                6,
            ).alias("ln_survival"),
        )
    )


# ---------------------------------------------------------------------------
# ml_chi2_feature_selection (round 11) — categorical feature relevance
# ---------------------------------------------------------------------------

@query(
    "ml_chi2_feature_selection",
    section="2.J",
    oracle="""
WITH lab AS (
  SELECT source AS feat, lang,
         CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END AS y
  FROM documents
), feats AS (
  SELECT 'source' AS feature, feat AS category, y, CAST(COUNT(*) AS BIGINT) AS o
  FROM lab GROUP BY feat, y
  UNION ALL
  SELECT 'lang', lang, y, CAST(COUNT(*) AS BIGINT) FROM lab GROUP BY lang, y
), margins AS (
  SELECT feature, category, y, o,
         CAST(SUM(o) OVER (PARTITION BY feature, category) AS BIGINT) AS rowt,
         CAST(SUM(o) OVER (PARTITION BY feature, y) AS BIGINT) AS colt,
         CAST(SUM(o) OVER (PARTITION BY feature) AS BIGINT) AS tot
  FROM feats
), cells AS (
  SELECT feature,
         round((CAST(o AS DOUBLE) * tot - CAST(rowt AS DOUBLE) * colt)
               * (CAST(o AS DOUBLE) * tot - CAST(rowt AS DOUBLE) * colt)
               / (CAST(rowt AS DOUBLE) * colt * tot), 9) AS contrib
  FROM margins
)
SELECT feature,
       round(CAST(SUM(CAST(contrib AS DECIMAL(30,9))) AS DOUBLE), 6) AS chi2
FROM cells GROUP BY feature
""",
)
def ml_chi2_feature_selection(spark, sf_dir):
    """χ² feature relevance for categorical features against a binary
    label (the sklearn chi2 selector's statistic, determinized): for
    each feature, Σ over (category × label) cells of (O − E)²/E with
    E = row·col/total — algebraically cleared to (O·T − R·C)²/(R·C·T)
    so the numerator is exact integer products inside doubles
    (< 2^53 at fixture scales), each cell quantized at 9dp and
    decimal-summed. Two candidate features (source, lang) scored in
    ONE scan via a union of histograms; rank by χ² and keep the top —
    the feature-screening step ahead of ml_feature_select_impute's
    MLlib pipeline, here hash-pinned.

    Scale: histograms + margins via windows over category-sized
    partitions; the corpus is scanned once."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    lab = d.select(
        F.col("source").alias("feat"),
        "lang",
        F.when(F.col("n_chars") >= 150, 1).otherwise(0).alias("y"),
    )
    f1 = lab.groupBy(F.col("feat").alias("category"), "y").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    ).select(F.lit("source").alias("feature"), "category", "y", "o")
    f2 = lab.groupBy(F.col("lang").alias("category"), "y").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    ).select(F.lit("lang").alias("feature"), "category", "y", "o")
    feats = f1.unionByName(f2)
    wrow = Window.partitionBy("feature", "category")
    wcol = Window.partitionBy("feature", "y")
    wtot = Window.partitionBy("feature")
    margins = feats.select(
        "feature",
        "o",
        F.sum("o").over(wrow).cast("long").alias("rowt"),
        F.sum("o").over(wcol).cast("long").alias("colt"),
        F.sum("o").over(wtot).cast("long").alias("tot"),
    )
    num = (
        F.col("o").cast("double") * F.col("tot")
        - F.col("rowt").cast("double") * F.col("colt")
    )
    contrib = F.round(
        num * num / (F.col("rowt").cast("double") * F.col("colt") * F.col("tot")),
        9,
    )
    return (
        margins.select("feature", contrib.alias("contrib"))
        .groupBy("feature")
        .agg(
            F.round(
                F.sum(F.col("contrib").cast("decimal(30,9)")).cast("double"), 6
            ).alias("chi2")
        )
    )


# ---------------------------------------------------------------------------
# ml_naive_bayes_exact (round 11) — train AND classify in-engine,
# hash-pinned end to end.
# ---------------------------------------------------------------------------

@query(
    "ml_naive_bayes_exact",
    section="2.J",
    oracle="""
WITH toks AS (
  SELECT doc_id, lang,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents
), vocab AS (
  SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM toks
), class_tok AS (
  SELECT lang AS c, tok, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY lang, tok
), class_tot AS (
  SELECT c, CAST(SUM(n) AS BIGINT) AS nt FROM class_tok GROUP BY c
), priors AS (
  SELECT lang AS c, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd FROM toks GROUP BY lang
), ndocs AS (
  SELECT CAST(SUM(nd) AS BIGINT) AS total FROM priors
), weights AS (
  SELECT ct.c, ct.tok,
         round(ln((CAST(ct.n + 1 AS DOUBLE))
                  / (CAST(tot.nt AS DOUBLE) + vocab.v)), 9) AS lw
  FROM class_tok ct
  JOIN class_tot tot ON tot.c = ct.c
  CROSS JOIN vocab
), scored AS (
  SELECT t.doc_id, t.lang, w.c,
         CAST(SUM(CAST(w.lw AS DECIMAL(30,9))) AS DECIMAL(38,9)) AS ll
  FROM toks t JOIN weights w ON w.tok = t.tok
  GROUP BY t.doc_id, t.lang, w.c
), with_prior AS (
  SELECT s.doc_id, s.lang, s.c,
         CAST(s.ll AS DOUBLE)
           + round(ln(CAST(p.nd AS DOUBLE) / n.total), 9) AS score
  FROM scored s JOIN priors p ON p.c = s.c CROSS JOIN ndocs n
), pred AS (
  SELECT doc_id, lang, c AS lang_pred FROM (
    SELECT doc_id, lang, c,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, c ASC) AS rn
    FROM with_prior
  ) WHERE rn = 1
)
SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
FROM pred GROUP BY lang, lang_pred
""",
)
def ml_naive_bayes_exact(spark, sf_dir):
    """Multinomial Naive Bayes TRAINED AND APPLIED in-engine,
    hash-pinned end to end — the companion to pipeline_train_bpe's
    'the engine learns its own artifacts' contract, for classifiers:
    Laplace-smoothed per-(class, token) log-likelihoods from one
    corpus pass, log-priors from document counts, per-doc class
    scores as 9dp-quantized decimal sums (order-independent), argmax
    with the deterministic smaller-class tie-break, reported as the
    training-set confusion matrix. MLlib's NaiveBayes is ROWS-tier
    (float accumulation); THIS is the exact twin its fit must
    converge to. Self-classification on a shared-vocabulary fixture
    is near-chance — the honest readout; the pinned artifact is the
    trained-model ALGEBRA.

    Scale: the weight table is (classes × vocabulary) — the
    BPE-costing broadcast shape; scoring is one explode + broadcast
    join + per-doc partial agg; the corpus is scanned twice
    (train, classify), never shuffled on content."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = cache(
        d.select(
            "doc_id",
            "lang",
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
        )
    )
    vocab = toks.agg(F.countDistinct("tok").cast("long").alias("v"))
    class_tok = toks.groupBy(F.col("lang").alias("c"), "tok").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    class_tot = class_tok.groupBy("c").agg(F.sum("n").cast("long").alias("nt"))
    priors = toks.groupBy(F.col("lang").alias("c")).agg(
        F.countDistinct("doc_id").cast("long").alias("nd")
    )
    ndocs = priors.agg(F.sum("nd").cast("long").alias("total"))
    weights = (
        class_tok.join(F.broadcast(class_tot), "c")
        .crossJoin(F.broadcast(vocab))
        .select(
            "c",
            "tok",
            F.round(
                F.log(
                    (F.col("n") + 1).cast("double")
                    / (F.col("nt").cast("double") + F.col("v"))
                ),
                9,
            ).alias("lw"),
        )
    )
    scored = (
        toks.join(F.broadcast(weights), "tok")
        .groupBy("doc_id", "lang", "c")
        .agg(
            F.sum(F.col("lw").cast("decimal(30,9)"))
            .cast("decimal(38,9)")
            .alias("ll")
        )
    )
    with_prior = (
        scored.join(F.broadcast(priors), "c")
        .crossJoin(F.broadcast(ndocs))
        .select(
            "doc_id",
            "lang",
            "c",
            (
                F.col("ll").cast("double")
                + F.round(
                    F.log(F.col("nd").cast("double") / F.col("total")), 9
                )
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("c").asc())
    pred = (
        with_prior.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("lang", F.col("c").alias("lang_pred"))
    )
    return pred.groupBy("lang", "lang_pred").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


# ---------------------------------------------------------------------------
# ml_brier_score (round 11) — the proper scoring rule
# ---------------------------------------------------------------------------

@query(
    "ml_brier_score",
    section="2.J",
    oracle="""
WITH scored AS (
  SELECT value / 500.0 AS p,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       round(CAST(SUM(CAST(round((p - y) * (p - y), 9) AS DECIMAL(30,9)))
                  AS DOUBLE) / COUNT(*), 6) AS brier,
       round(CAST(SUM(y) AS DOUBLE) / COUNT(*)
             * (1 - CAST(SUM(y) AS DOUBLE) / COUNT(*)), 6) AS brier_baseline
FROM scored
""",
)
def ml_brier_score(spark, sf_dir):
    """Brier score — the PROPER scoring rule that calibration bins
    (ml_calibration_bins) summarize piecewise: mean (p − y)² over the
    same value/500 score and purchase label, with the climatological
    baseline p̄(1−p̄) alongside (a model must beat it to carry any
    skill — the Brier skill score is 1 − brier/baseline, derivable
    from this row). Per-row squared errors quantized at 9dp and
    decimal-summed; both divisions exact-and-final.

    Scale: one scan, one fold — map-side combine."""
    e = load_table(spark, sf_dir, "events")
    scored = e.select(
        (F.col("value") / 500.0).alias("p"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    pbar = F.sum("y").cast("double") / F.count(F.lit(1))
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(
            F.sum(
                F.round((F.col("p") - F.col("y")) * (F.col("p") - F.col("y")), 9)
                .cast("decimal(30,9)")
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("brier"),
        F.round(pbar * (1 - pbar), 6).alias("brier_baseline"),
    )
