"""The benchmark's own test: its stage counts see a re-collect.

Collecting a DataFrame that was already executed reuses the finished
shuffle stages, so only the last stage runs. The benchmark therefore
builds every DataFrame fresh, and this test shows that `exec.stages_run`
and `exec.stages_skipped` tell the two apart.

    python3 -m pytest perfbench/test_fresh_plan.py -q
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import run  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    if run._missing_program():
        pytest.skip("program missing")
    run._isolate()
    if run._missing_fixtures():
        pytest.skip("fixtures missing")
    from sparkml_spark.session import get_spark

    session = get_spark("perfbench-test")
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()
    shutil.rmtree(run.WORK, ignore_errors=True)


def _execute(spark, df, run_stages: set, tag: str) -> dict:
    from layers import QueryTrace

    sc = spark.sparkContext
    trace = QueryTrace(sc, run_stages)
    sc.setJobGroup(f"{tag}-exec", tag)
    df.toPandas()
    return trace.finish(f"{tag}-build", f"{tag}-exec", df._jdf)


def test_recollect_shows_skipped_stages(spark):
    import sparkml_spark.operators  # noqa: F401
    from sparkml_spark.registry import QUERIES

    run_stages: set = set()
    df = QUERIES["join_multiway_5"](spark, run.sf_dir())
    fresh = _execute(spark, df, run_stages, "fresh")
    again = _execute(spark, df, run_stages, "again")
    rebuilt = _execute(spark, QUERIES["join_multiway_5"](spark, run.sf_dir()), run_stages, "rebuilt")

    assert fresh["exec.stages_run"] > 1
    assert fresh["exec.stages_skipped"] == 0
    assert again["exec.stages_run"] == 1
    assert again["exec.stages_skipped"] == fresh["exec.stages_run"] - 1
    assert rebuilt["exec.stages_run"] == fresh["exec.stages_run"]
    assert rebuilt["exec.stages_skipped"] == 0
