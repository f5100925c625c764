"""Fitted-model memo gates (`operators/ml.py::_shared_fit`).

The memo key is derived from the estimator's param map and the training
frame's analyzed plan, so:
- a sibling query that rebuilds its base query's training frames builds
  nothing new (`test_memo_pair_sibling_builds_nothing`);
- a drifted split, param or input path refits instead of sharing
  (`test_memo_key_follows_inputs`);
- a refit from an empty memo reproduces the memoized model's output
  (`test_cold_refit_matches_memo`).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import sparkml_spark.operators  # noqa: F401 — populates the registry

from .conftest import SF_DIR

# (base queries, sibling): the sibling's artifacts are all built by the bases
MEMO_PAIRS = [
    (("ml_feature_pca",), "ml_pca_bound"),
    (("ml_classify_logistic",), "ml_fit_quality_bound"),
    (("ml_classify_trees", "ml_regression"), "ml_tree_regression_fit_bound"),
    (
        ("ml_classify_linear", "ml_classify_mlp", "ml_isotonic_aft_fm"),
        "ml_mlp_linear_fit_bound",
    ),
    (("ml_isotonic_aft_fm",), "ml_monotone_models_bound"),
    (("ml_word2vec", "ml_lda_topics", "ml_als_recommend"), "ml_embed_models_bound"),
    (("ml_tuning_cv",), "ml_cv_selection_bound"),
    (("ml_pipeline_persist",), "ml_persist_roundtrip_bound"),
    (("ml_evaluation_metrics",), "ml_eval_metrics_bound"),
    (("dedup_near_minhash",), "dedup_minhash_recall_bound"),
    (("sim_ivf_ann", "sim_lsh_ann"), "sim_ann_recall_bound"),
    (("sim_rrf_fusion_ann",), "sim_rrf_fusion_ann_bound"),
    (("sim_ivf_incremental_ingest",), "sim_ivf_ingest_bound"),
]


@pytest.fixture
def builds(monkeypatch):
    """Keys of the `session_artifact` entries built during the test.
    Callers import `session_artifact` at call time, so wrapping the
    module attribute sees every lookup."""
    import sparkml_spark.session as session

    built = []
    original = session.session_artifact

    def counted(spark, key, build):
        def counting_build():
            built.append(repr(key)[:160])
            return build()

        return original(spark, key, counting_build)

    monkeypatch.setattr(session, "session_artifact", counted)
    return built


@pytest.mark.parametrize(
    "bases,sibling", MEMO_PAIRS, ids=[sibling for _, sibling in MEMO_PAIRS]
)
def test_memo_pair_sibling_builds_nothing(spark, builds, bases, sibling):
    from pyspark.ml.util import HasTrainingSummary

    from sparkml_spark.operators.ml import _fitted
    from sparkml_spark.registry import QUERIES
    from sparkml_spark.session import context_state, reap_registered

    for base in bases:
        QUERIES[base](spark, SF_DIR)
    del builds[:]
    QUERIES[sibling](spark, SF_DIR)
    reap_registered(spark)
    assert builds == [], f"{sibling} rebuilt artifacts of {bases}: {builds}"

    memo = context_state(spark).artifacts
    models = [v[1] for v in memo.values() if isinstance(v, tuple)]
    assert models, "expected memoized models"
    with_summary = [
        type(m).__name__
        for model in models
        for m in _fitted(model)
        if isinstance(m, HasTrainingSummary) and m.hasSummary
    ]
    assert with_summary == [], f"memoized models still carry a summary: {with_summary}"


def test_memo_key_follows_inputs(spark, builds):
    from pyspark.ml.classification import NaiveBayes

    from sparkml_spark.operators.ml import _features, _shared_fit, _train_test
    from sparkml_spark.session import context_state

    memo = context_state(spark).artifacts

    def train(sf_dir=SF_DIR):
        return _train_test(_features(spark, sf_dir))[0]

    nb = NaiveBayes(modelType="gaussian")
    first = _shared_fit(nb, train())
    # same estimator and input, each rebuilt independently: one fit
    assert _shared_fit(NaiveBayes(modelType="gaussian"), train()) is first
    n = len(builds)

    drifted = [
        _shared_fit(nb, _features(spark, SF_DIR).filter(F.col("vec_id") % 5 != 1)),
        _shared_fit(NaiveBayes(modelType="gaussian", smoothing=0.5), train()),
    ]
    sf01 = os.path.join(os.path.dirname(os.path.normpath(SF_DIR)), "sf0.01")
    if os.path.isdir(sf01):
        drifted.append(_shared_fit(nb, train(sf01)))
    assert all(m is not first for m in drifted)
    assert len(builds) == n + len(drifted)

    # a key hit whose stored plan is not the same result (a semanticHash
    # collision) refits rather than serving the stored model
    key = next(k for k, v in memo.items() if isinstance(v, tuple) and v[1] is first)
    stored = memo[key]
    other = _features(spark, SF_DIR).filter(F.col("vec_id") % 5 != 1)
    memo[key] = (other._jdf.queryExecution().analyzed(), first)
    try:
        assert _shared_fit(nb, train()) is not first
    finally:
        memo[key] = stored


def test_cold_refit_matches_memo(spark, builds):
    from sparkml_spark.registry import QUERIES
    from sparkml_spark.session import context_state

    memo_rows = sorted(map(tuple, QUERIES["ml_classify_logistic"](spark, SF_DIR).collect()))
    memo = context_state(spark).artifacts
    live = dict(memo)
    memo.clear()
    del builds[:]
    try:
        cold_rows = sorted(
            map(tuple, QUERIES["ml_classify_logistic"](spark, SF_DIR).collect())
        )
    finally:
        memo.update(live)
    assert builds, "expected the evicted fit to be rebuilt"
    assert cold_rows == memo_rows
