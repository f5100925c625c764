"""Block-hygiene gates: every block the engine pins — `session.cache`,
`session.checkpoint` and `CheckpointChain.step` — is registered when it
is pinned, so `session.reap_registered` frees it DETERMINISTICALLY at a
sweep boundary, and a reaped query recomputes correctly when re-built.

Every per-SparkContext registry (applied confs, table plans, memoized
artifacts, pinned blocks) holds only the live application's entries:
what a stopped SparkContext left behind is dropped.
"""

from __future__ import annotations

import ast
import gc
import os
import weakref

import pytest

import sparkml_spark.operators  # noqa: F401 — populates the registry

from .conftest import SF_DIR

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "sparkml_spark")


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
    assert persistent_rdd_count(spark) > base, "expected checkpoint blocks to register"

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

    for qid in ("graph_label_propagation", "scan_csv_malformed"):
        reap_registered(spark)
        base = persistent_rdd_count(spark)

        df = QUERIES[qid](spark, SF_DIR)
        rows = sorted(df.collect())
        assert persistent_rdd_count(spark) > base, f"{qid}: expected caches to register"

        assert reap_registered(spark) >= 1
        assert persistent_rdd_count(spark) <= base, qid

        # unpersisted caches recompute — same rows, no read-after-free
        assert sorted(df.collect()) == rows, qid


class _Probe:
    """A memoized artifact that can be watched with a weakref."""


def test_registries_drop_dead_app_entries(spark, monkeypatch):
    from pyspark import SparkContext

    from sparkml_spark import session
    from sparkml_spark.sources.loader import load_table

    session.reap_registered(spark)
    app = {"id": "app-dead"}
    monkeypatch.setattr(SparkContext, "applicationId", property(lambda sc: app["id"]))

    # a context that stops with entries in every registry
    table = load_table(spark, SF_DIR, "region")
    artifact = session.session_artifact(spark, ("dead-probe",), _Probe)
    pinned = spark.range(2)
    session.cache(pinned)
    pinned.unpersist()
    dead = [weakref.ref(x) for x in (table, artifact, pinned)]
    del table, artifact, pinned

    # the next context re-applies the confs and holds none of them
    app["id"] = "app-next"
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    load_table(spark, SF_DIR, "region")
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    gc.collect()
    assert [r() is None for r in dead] == [True, True, True], "table, artifact, pin"

    session.checkpoint(spark.range(3))
    session.cache(spark.range(4))
    assert session.reap_registered(spark) == 2

    # the chain registers each generation as it creates it; a
    # generation the chain already freed is not counted again, and the
    # final one is reaped exactly once
    chain = session.CheckpointChain(spark)
    chain.step(spark.range(5))
    chain.step(spark.range(6))
    chain.reap()
    assert session.reap_registered(spark) == 1
    chain.close()
    assert session.reap_registered(spark) == 0

    # a block id is only ever read from a checkpoint's LogicalRDD
    with pytest.raises(TypeError):
        session._block_rdd_id(spark.range(3))


def _attr_calls(attrs):
    """(module path relative to the package, name of the enclosing
    top-level def or None, call node) of every `.attr(` call in the
    package whose attr is in `attrs`."""
    for root, _, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            for top in tree.body:
                for node in ast.walk(top):
                    if (
                        isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr in attrs
                    ):
                        yield os.path.relpath(path, PKG), getattr(top, "name", None), node


def test_only_session_pins_blocks():
    """Every pinned block is registered by construction: no module but
    session.py calls `.cache(`, `.persist(` or `.localCheckpoint(`."""
    offenders = [
        f"{rel}:{node.lineno} .{node.func.attr}("
        for rel, _, node in _attr_calls({"cache", "persist", "localCheckpoint"})
        if rel != "session.py"
    ]
    assert offenders == [], offenders


def test_only_ml_fit_fits():
    """No fitted model keeps a training summary by construction: the
    package's only `.fit(` is in `operators/ml.py::_fit`, which drops
    the summaries."""
    offenders = [
        f"{rel}:{node.lineno} .fit("
        for rel, owner, node in _attr_calls({"fit"})
        if (rel, owner) != (os.path.join("operators", "ml.py"), "_fit")
    ]
    assert offenders == [], offenders


def test_memoized_models_own_the_standing_blocks(spark):
    """MLlib pins blocks of its own that no registry holds: a memoized
    DistributedLDAModel keeps its GraphX graph and a memoized ALS model
    its factor RDDs, for the session's life. After a reap those must be
    the only blocks standing, so a new library-internal pin fails here
    instead of waiting for a sweep to find it."""
    from sparkml_spark.registry import QUERIES
    from sparkml_spark.session import reap_registered

    owned = {"VertexRDD, VertexRDD", "EdgeRDD", "userFactors", "itemFactors"}
    for qid in ("ml_lda_topics", "ml_als_recommend"):
        QUERIES[qid](spark, SF_DIR).collect()
    reap_registered(spark)

    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    standing = [jmap.get(int(i)).name() for i in jmap.keySet().toArray()]
    assert set(standing) <= owned, standing
