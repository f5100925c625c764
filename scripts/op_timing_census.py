"""Full-inventory per-operator timing census (optimization round r13).

Guide §1 ("measure first"): before touching anything, time EVERY
registered query at the bench scale factor with the noop sink —
`df.write.format("noop").mode("overwrite").save()` — so the number is
the computation, not the sink or a collect()'s row transfer. Two
numbers per query:

- build_s: Python plan construction + any work the operator does
  inside its callable (streaming ops run their micro-batch feed here;
  ML ops fit here) + the FIRST noop execution (warm-up included).
- steady_s: best of scripts/measure.py's warm noop executions of the
  already-built DataFrame, each a fresh plan — pure execution
  throughput, the number that scales with data.

Jobs are labelled (`setJobDescription`) so a live UI run is readable.
Results stream to JSONL (one line per query, flushed) so a timeout
still leaves a usable partial census. Usage:

  python scripts/op_timing_census.py [--sf-dir /root/testdata/sf0.1]
      [--out /tmp/census.jsonl] [names...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.measure import execute, timed, warm_runs


def _build_and_run(fn, spark, sf_dir):
    """The query's DataFrame, built and executed once (noop sink)."""
    df = fn(spark, sf_dir)
    execute(df, "noop")
    return df


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/op_census.jsonl")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "8")  # bench profile
    from sparkml_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("op-timing-census", master=f"local[{cpus}]")
    spark.conf.set("spark.sql.shuffle.partitions", "8")

    import sparkml_spark.operators  # noqa: F401
    from sparkml_spark.registry import QUERIES
    from sparkml_spark.session import persistent_rdd_count, reap_registered

    names = args.names or list(QUERIES)
    with open(args.out, "w") as out:
        for i, qid in enumerate(names):
            fn = QUERIES[qid]
            spark.sparkContext.setJobDescription(f"census: {qid}")
            rec: dict = {"q": qid}
            try:
                df, build_s = timed(lambda: _build_and_run(fn, spark, args.sf_dir))
                rec["build_s"] = round(build_s, 3)
                rec["steady_s"] = round(min(warm_runs(df, "noop")), 3)
            except Exception as exc:  # noqa: BLE001 — census, not a gate
                rec["err"] = f"{type(exc).__name__}: {exc}"[:300]
                traceback.print_exc(file=sys.stderr)
            finally:
                spark.sparkContext.setJobDescription(None)
                # r14 (VERDICT r13 #2): this query's result is fully
                # consumed — free its registered checkpoint/cache
                # blocks deterministically so the sweep holds O(1)
                # standing RDDs instead of GC-paced accumulation.
                rec["reaped"] = reap_registered(spark)
                rec["standing_rdds"] = persistent_rdd_count(spark)
            out.write(json.dumps(rec) + "\n")
            out.flush()
            print(f"[{i+1}/{len(names)}] {qid}: {rec.get('build_s')}s / "
                  f"{rec.get('steady_s')}s {rec.get('err', '')}", file=sys.stderr)
    print(f"census done: {len(names)} queries", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
