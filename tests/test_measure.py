"""Timing gates for `scripts/` and `bench.py`.

Every timed execution goes through `scripts/measure.py`:
- no other file there reads a clock (`test_only_measure_reads_the_clock`,
  no JVM);
- a measured execution runs every stage of its plan, even for a frame
  that was already collected, where a re-collect would have AQE serve
  the finished shuffle stages and run only the last one
  (`test_measure_runs_every_stage`).
"""

from __future__ import annotations

import ast
import glob
import os
import sys

import pytest

import sparkml_spark.operators  # noqa: F401 — populates the registry

from .conftest import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CLOCKS = {"time", "time_ns", "perf_counter", "perf_counter_ns", "monotonic", "monotonic_ns"}


def _clock_calls(path):
    """Line numbers of the `time` module's clock calls in `path`,
    however the module or its functions were imported."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    modules, names = set(), set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            modules |= {a.asname or a.name for a in node.names if a.name == "time"}
        elif isinstance(node, ast.ImportFrom) and node.module == "time":
            names |= {a.asname or a.name for a in node.names if a.name in CLOCKS}
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if (
            isinstance(f, ast.Attribute)
            and f.attr in CLOCKS
            and isinstance(f.value, ast.Name)
            and f.value.id in modules
        ) or (isinstance(f, ast.Name) and f.id in names):
            yield node.lineno


def test_only_measure_reads_the_clock():
    paths = sorted(glob.glob(os.path.join(ROOT, "scripts", "*.py"))) + [
        os.path.join(ROOT, "bench.py")
    ]
    offenders = [
        f"{os.path.relpath(path, ROOT)}:{line}"
        for path in paths
        if os.path.basename(path) != "measure.py"
        for line in _clock_calls(path)
    ]
    assert offenders == [], offenders


@pytest.mark.parametrize("sink", ["collect", "noop"])
def test_measure_runs_every_stage(spark, sink):
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    from layers import QueryTrace

    from scripts.measure import execute, timed
    from sparkml_spark.registry import QUERIES

    sc = spark.sparkContext
    run_stages: set = set()
    df = QUERIES["join_multiway_5"](spark, SF_DIR)

    def traced(tag, run):
        trace = QueryTrace(sc, run_stages)
        sc.setJobGroup(f"{tag}-{sink}", tag)
        try:
            run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return trace.finish(f"{tag}-{sink}-build", f"{tag}-{sink}", df._jdf)

    # the frame's own first run: its final plan has N stages, all run
    first = traced("first", df.collect)
    n = first["exec.stages_run"]
    assert n > 1 and first["exec.stages_skipped"] == 0

    for tag in ("measured", "measured-again"):
        got = traced(tag, lambda: timed(lambda: execute(df, sink)))
        assert (got["exec.stages_run"], got["exec.stages_skipped"]) == (n, 0), (tag, got)
