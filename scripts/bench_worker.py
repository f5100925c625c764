"""Bench worker for the A/B control (VERDICT r9 #1).

Runs the headline suite of ONE code version (the repo root passed as
argv[1]: the checkout itself, or a `git archive` export of the commit
being compared) and serves per-query timings over a line protocol on
stdin/stdout, so bench.py can interleave two workers query-by-query in
the same wall-clock session. Interleaving is what makes the comparison
environment-controlled: any machine-level shift hits both series
identically, and both JVMs get the same warm-up, so the HEAD/prev
ratio isolates CODE regressions — the failure mode of round 9, where a
+53% absolute move passed on an "environment band" narrative verified
for only one query.

The worker times its root's package with THIS checkout's
scripts/measure.py, so both series follow one protocol: every
execution is a fresh plan of the prepared DataFrame.

Protocol (stdout is reserved for the protocol; Spark logs to stderr):
  -> READY {"queries": [...]}        after plans are prepared + warmed
  <- <bench_name>\n                  parent requests one execution
  -> TIME <bench_name> <seconds>\n   one `measure.execute` of the
                                     prepared plan (collect)
  <- exit\n                          shut down
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

# This checkout's measure.py: this file's directory is sys.path[0].
from measure import execute, timed


def main() -> int:
    root = os.path.abspath(sys.argv[1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sys.path.insert(0, root)

    from sparkml_spark.session import get_spark  # the EXPORT's package

    import sparkml_spark.operators  # noqa: F401
    from sparkml_spark.registry import QUERIES

    # the export's own headline map (names are stable across rounds)
    spec = importlib.util.spec_from_file_location(
        "prev_bench", os.path.join(root, "bench.py")
    )
    prev_bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(prev_bench)
    headline = prev_bench.HEADLINE

    spark = get_spark("sparkml_spark-bench-ab", master=f"local[{cpus}]")
    spark.conf.set("spark.sql.shuffle.partitions", "8")

    dfs = {}
    for bench_name, qid in headline.items():
        dfs[bench_name] = QUERIES[qid](spark, sf_dir)
        execute(dfs[bench_name])  # warm-up: JIT + codegen

    print("READY " + json.dumps({"queries": list(headline)}), flush=True)
    for line in sys.stdin:
        cmd = line.strip()
        if not cmd:
            continue
        if cmd == "exit":
            break
        _, secs = timed(lambda: execute(dfs[cmd]))
        print(f"TIME {cmd} {secs:.4f}", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
