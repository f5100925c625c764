"""MLlib stage checks: schemas, sanity metrics, seed stability."""

from __future__ import annotations

import sparkml_spark.operators  # noqa: F401
from sparkml_spark.registry import QUERIES

from .conftest import SF_DIR


def test_logistic_predictions_sane(spark):
    # Fixture labels carry almost no linear signal (train acc ~0.48,
    # held-out ~chance), so assert non-degeneracy, not accuracy: the
    # model must produce valid, non-collapsed class predictions.
    pred = QUERIES["ml_classify_logistic"](spark, SF_DIR).collect()
    assert len(pred) > 0
    classes = {r["prediction"] for r in pred}
    assert classes <= set(range(10)) and len(classes) >= 3


def test_tree_accuracy_schema(spark):
    rows = QUERIES["ml_classify_trees"](spark, SF_DIR).collect()
    assert {r["model"] for r in rows} == {"decision_tree", "random_forest", "gbt_binary"}
    assert all(0.0 <= r["accuracy"] <= 1.0 for r in rows)


def test_kmeans_seed_stable(spark):
    a = QUERIES["ml_clustering"](spark, SF_DIR).collect()
    b = QUERIES["ml_clustering"](spark, SF_DIR).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b)), "seeded KMeans not stable"


def test_pipeline_persist_roundtrip(spark):
    rows = QUERIES["ml_pipeline_persist"](spark, SF_DIR).collect()
    assert rows and all(r["roundtrip_equal"] for r in rows)


def test_als_covers_users(spark, monkeypatch):
    """ALS's user and item block counts are the events scan's partition
    count, and its recommendations equal a fit with MLlib's default
    blocks, for every user."""
    from pyspark.ml.recommendation import ALS

    from sparkml_spark.operators import ml
    from sparkml_spark.sources.loader import load_table

    fit, blocks, default_blocks = ALS._fit, [], False

    def recording_fit(self, dataset):
        if default_blocks:
            self.clear(self.numUserBlocks)
            self.clear(self.numItemBlocks)
        blocks.append((self.getNumUserBlocks(), self.getNumItemBlocks()))
        return fit(self, dataset)

    monkeypatch.setattr(ALS, "_fit", recording_fit)
    # fit on every call: the memo would serve the session's earlier fit
    monkeypatch.setattr(ml, "_shared_fit", ml._fit)

    def top2():
        recs = QUERIES["ml_als_recommend"](spark, SF_DIR).toPandas()
        return recs.sort_values("user").reset_index(drop=True)

    recs = top2()
    default_blocks = True
    reference = top2()

    events = load_table(spark, SF_DIR, "events")
    n = events.rdd.getNumPartitions()
    assert blocks == [(n, n), (10, 10)]
    assert recs.equals(reference), (recs, reference)
    assert len(recs) == events.select("user_id").distinct().count()
