"""Block-hygiene gates: every block the engine pins — `session.cache`,
`session.checkpoint` and `CheckpointChain.step` — is registered when it
is pinned, so `session.reap_registered` frees it DETERMINISTICALLY at a
sweep boundary, and a reaped query recomputes correctly when re-built.

The registry holds only the live application's entries: registering
drops what a stopped SparkContext left behind.
"""

from __future__ import annotations

import ast
import os

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


def test_registries_drop_dead_app_entries(spark):
    from sparkml_spark import session

    session.reap_registered(spark)
    app = spark.sparkContext.applicationId
    # entries a stopped SparkContext left behind
    session._PINNED.append(("app-dead", 1))
    session._PINNED.append(("app-dead", object()))

    session.checkpoint(spark.range(3))
    session.cache(spark.range(4))
    assert [a for a, _ in session._PINNED] == [app, app]
    assert session.reap_registered(spark) == 2

    # the chain registers each generation as it creates it; a
    # generation the chain already freed is not counted again, and the
    # final one is reaped exactly once
    session._PINNED.append(("app-dead", 2))
    chain = session.CheckpointChain(spark)
    chain.step(spark.range(5))
    chain.step(spark.range(6))
    chain.reap()
    assert [a for a, _ in session._PINNED] == [app, app]
    assert session.reap_registered(spark) == 1
    chain.close()
    assert session.reap_registered(spark) == 0

    # a block id is only ever read from a checkpoint's LogicalRDD
    with pytest.raises(TypeError):
        session._block_rdd_id(spark.range(3))


def test_only_session_pins_blocks():
    """Every pinned block is registered by construction: no module but
    session.py calls `.cache(`, `.persist(` or `.localCheckpoint(`."""
    pinning = {"cache", "persist", "localCheckpoint"}
    offenders = []
    for root, _, files in os.walk(PKG):
        for name in files:
            path = os.path.join(root, name)
            if not name.endswith(".py") or path == os.path.join(PKG, "session.py"):
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            offenders += [
                f"{os.path.relpath(path, PKG)}:{node.lineno} .{node.func.attr}("
                for node in ast.walk(tree)
                if isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in pinning
            ]
    assert offenders == [], offenders
