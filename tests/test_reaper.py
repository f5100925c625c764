"""r14 block-hygiene gates (VERDICT r13 #2): lazy `_ckpt` localCheckpoint
blocks and per-query `.cache()` entries must be freeable DETERMINISTICALLY
at sweep boundaries — `session.reap_registered` frees what the query path
registered, and a reaped query recomputes correctly when re-built.

The registries hold only the live application's entries: registering
drops what a stopped SparkContext left behind.
"""

from __future__ import annotations

import sparkml_spark.operators  # noqa: F401 — populates the registry

from .conftest import SF_DIR


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def test_ckpt_blocks_register_and_reap(spark):
    from sparkml_spark.registry import QUERIES
    from sparkml_spark.session import persistent_rdd_count, reap_registered

    reap_registered(spark)  # clean slate (frees earlier tests' leftovers)
    base = persistent_rdd_count(spark)

    df = QUERIES["dedup_ngram_jaccard"](spark, SF_DIR)
    _noop(df)
    n1 = df.count()
    assert persistent_rdd_count(spark) > base, "expected _ckpt blocks to register"

    n = reap_registered(spark)
    assert n >= 1
    assert persistent_rdd_count(spark) <= base

    # a reaped query REBUILDS and recomputes correctly (fresh plan,
    # fresh checkpoints) — the reap must not poison later invocations
    df2 = QUERIES["dedup_ngram_jaccard"](spark, SF_DIR)
    assert df2.count() == n1
    reap_registered(spark)


def test_cache_blocks_register_and_reap(spark):
    from sparkml_spark.registry import QUERIES
    from sparkml_spark.session import persistent_rdd_count, reap_registered

    reap_registered(spark)
    base = persistent_rdd_count(spark)

    df = QUERIES["graph_label_propagation"](spark, SF_DIR)
    _noop(df)
    assert persistent_rdd_count(spark) > base, "expected round caches to register"

    reap_registered(spark)
    assert persistent_rdd_count(spark) <= base

    # unpersisted caches recompute — same census, no read-after-free
    rows = {r["label"]: r["n_nodes"] for r in df.collect()}
    assert sum(rows.values()) > 0


def test_registries_drop_dead_app_entries(spark):
    from sparkml_spark import session

    session.reap_registered(spark)
    app = spark.sparkContext.applicationId
    # entries a stopped SparkContext left behind
    session._REAPABLE.append(("app-dead", 1))
    session._REAPABLE_DFS.append(("app-dead", object()))

    session.register_reapable(spark.range(3).localCheckpoint(eager=False))
    session.register_reapable_cache(spark.range(4).cache())
    assert [a for a, _ in session._REAPABLE] == [app]
    assert [a for a, _ in session._REAPABLE_DFS] == [app]

    session.reap_registered(spark)
    session._REAPABLE.append(("app-dead", 2))
    chain = session.CheckpointChain(spark)
    chain.step(spark.range(5))
    chain.release_to_registry()
    assert [a for a, _ in session._REAPABLE] == [app]
    assert session.reap_registered(spark) == 1
