"""sf1 multi-file/multi-rowgroup headline run (VERDICT r12 #4).

BASELINE.md's 2x gate has had exactly one scale point (sf0.1,
single-file single-rowgroup fixtures). This script adds the second:
the headline suite at sf1 — a x10 replication of sf0.1 via the
stress harness's referential-integrity-preserving build (lineitem
6,000,000 rows, 10 part files per fact table, so every scan really
splits into parallel tasks; the single-rowgroup serial-scan artifact
SCALE.md documents does not exist on this layout) — timed under the
BASELINE protocol (warm second execution, one shared session) AND
steady-state (best of scripts/measure.py's runs), against DuckDB twins
measured the same two ways on the SAME parquet layout. The DuckDB side
runs each headline query's registered ORACLE sql — the exact semantics the driver
hash-compares, so the two engines are doing provably identical work.

Prints one JSON line; recorded in SCALE.md. Usage:
  python scripts/sf1_bench.py [--k 10] [--sf-dir /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.measure import warm_runs


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    import duckdb

    from bench import HEADLINE
    from scripts.stress_scale import build_scaled
    from sparkml_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    spark = get_spark("sparkml_spark-sf1bench")
    # BASELINE.md's config line: shuffle.partitions=8 at sf0.1. At x10
    # keep the engine's default 32 — the honest "same code, bigger
    # data" posture (AQE coalesces either way).
    import sparkml_spark.operators  # noqa: F401
    from sparkml_spark.registry import ORACLES, QUERIES

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".artifacts", "scalebench",
        f"x{args.k}p2_{os.path.basename(args.sf_dir.rstrip('/'))}",
    )
    build_scaled(spark, args.sf_dir, out_dir, args.k)

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        path = os.path.join(out_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )

    results: dict[str, dict] = {}
    for name, qid in HEADLINE.items():
        fn = QUERIES[qid]
        sql = ORACLES[qid]
        # the first timed run is run 2, the BASELINE.md protocol number
        s_times = warm_runs(lambda: fn(spark, out_dir).collect())
        d_times = warm_runs(lambda: con.execute(sql).fetchall())
        s_run2, s_best = round(s_times[0], 3), round(min(s_times), 3)
        d_run2, d_best = round(d_times[0], 3), round(min(d_times), 3)
        n_rows = len(con.execute(sql).fetchall())
        results[name] = {
            "rows": n_rows,
            "spark_run2": s_run2, "spark_steady": s_best,
            "duckdb_run2": d_run2, "duckdb_steady": d_best,
            "ratio_run2": round(s_run2 / max(d_run2, 1e-9), 2),
            "ratio_steady": round(s_best / max(d_best, 1e-9), 2),
        }
        print(
            f"# {name}: spark run2 {s_run2:.3f}s steady {s_best:.3f}s | "
            f"duckdb run2 {d_run2:.3f}s steady {d_best:.3f}s | "
            f"ratio run2 {results[name]['ratio_run2']}x "
            f"steady {results[name]['ratio_steady']}x ({n_rows} rows)",
            file=sys.stderr,
        )

    suite_s = round(sum(r["spark_run2"] for r in results.values()), 3)
    suite_d = round(sum(r["duckdb_run2"] for r in results.values()), 3)
    print(json.dumps({
        "metric": "sf1_headline",
        "k": args.k,
        "base_sf_dir": args.sf_dir,
        "lineitem_rows": con.execute(
            "SELECT COUNT(*) FROM lineitem").fetchone()[0],
        "queries": results,
        "suite_spark_run2": suite_s,
        "suite_duckdb_run2": suite_d,
        "suite_ratio_run2": round(suite_s / max(suite_d, 1e-9), 2),
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
