"""Curation/LLM-family second scale point (round 13, extends the sf1
headline run to the families the 100-TB story is really about).

sf1_bench.py gave the BASELINE 2x gate its second scale point for the
six headline queries. This script applies the same protocol — warm
second execution + best-of-N steady (scripts/measure.py), one shared
session, DuckDB twin = each op's REGISTERED oracle SQL on the SAME
parquet layout — to the heavy curation ops (dedup / tfidf /
corpus-assembly / packing / tokenize / decontaminate / global shuffle /
brute-force ANN). These are the operators a 100-TB training-data
pipeline actually spends its time in; until now their scale evidence
was Spark-only scaling RATIOS (stress_scale --llm), with no
cross-engine wall-clock anchor beyond sf0.1.

The suite is ORACLE-tier only, so the DuckDB twin provably computes
identical semantics (the driver hash-compares exactly these pairs).
Documented-cutoff quadratic ops (dedup_embedding_cosine,
dedup_semantic_semdedup) are excluded for the reason stress_scale.py
records: at x10 they are beyond their own docstrings' cutoffs by
design, and their prescribed scale paths (sim_lsh_ann / cluster-count
growth) are what gets timed instead.

Prints one JSON line; recorded in SCALE.md. Usage:
  python scripts/curation_bench.py [--k 10] [--sf-dir /root/testdata/sf0.1]
  python scripts/curation_bench.py --base   # 1x anchor on the raw fixtures
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.measure import warm_runs

#: ORACLE-tier curation ops with corpus-sized work (see module doc).
SUITE = [
    "dedup_exact_hash",
    "dedup_minhash_sql",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_exact_substring_apply",
    "text_tfidf_sql",
    "quality_gopher_filter",
    "pipeline_training_corpus",
    "pipeline_decontaminate",
    "pipeline_sequence_pack",
    "pipeline_tokenize_bpe",
    "pipeline_global_shuffle",
    "pipeline_stratified_sample_k",
    "sim_topk_bruteforce",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--base", action="store_true",
                    help="time the raw sf-dir (1x anchor), no scaled build")
    ap.add_argument("--ids", nargs="*", help="override the suite")
    args = ap.parse_args()

    import duckdb

    from scripts.stress_scale import build_scaled
    from sparkml_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    spark = get_spark("sparkml_spark-curationbench")
    import sparkml_spark.operators  # noqa: F401
    from sparkml_spark.registry import ORACLES, QUERIES

    if args.base:
        out_dir = args.sf_dir
        k = 1
    else:
        k = args.k
        out_dir = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            ".artifacts", "scalebench",
            f"x{k}p2_{os.path.basename(args.sf_dir.rstrip('/'))}",
        )
        build_scaled(spark, args.sf_dir, out_dir, k)

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        path = os.path.join(out_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )

    suite = args.ids or SUITE
    results: dict[str, dict] = {}
    for qid in suite:
        fn, sql = QUERIES[qid], ORACLES[qid]
        s_rows_holder = []
        s_times = warm_runs(
            lambda: s_rows_holder.append(len(fn(spark, out_dir).collect()))
        )
        d_times = warm_runs(lambda: con.execute(sql).fetchall())
        s_run2, s_best = round(s_times[0], 3), round(min(s_times), 3)
        d_run2, d_best = round(d_times[0], 3), round(min(d_times), 3)
        d_rows = len(con.execute(sql).fetchall())
        s_rows = s_rows_holder[-1]
        results[qid] = {
            "rows": d_rows,
            "rows_agree": s_rows == d_rows,
            "spark_run2": s_run2, "spark_steady": s_best,
            "duckdb_run2": d_run2, "duckdb_steady": d_best,
            "ratio_run2": round(s_run2 / max(d_run2, 1e-9), 2),
            "ratio_steady": round(s_best / max(d_best, 1e-9), 2),
        }
        print(
            f"# {qid}: spark run2 {s_run2:.3f}s steady {s_best:.3f}s | "
            f"duckdb run2 {d_run2:.3f}s steady {d_best:.3f}s | "
            f"ratio run2 {results[qid]['ratio_run2']}x "
            f"steady {results[qid]['ratio_steady']}x "
            f"({d_rows} rows, agree={s_rows == d_rows})",
            file=sys.stderr,
        )

    suite_s = round(sum(r["spark_run2"] for r in results.values()), 3)
    suite_d = round(sum(r["duckdb_run2"] for r in results.values()), 3)
    print(json.dumps({
        "metric": "curation_bench",
        "k": k,
        "layout": out_dir,
        "documents_rows": con.execute(
            "SELECT COUNT(*) FROM documents").fetchone()[0],
        "queries": results,
        "suite_spark_run2": suite_s,
        "suite_duckdb_run2": suite_d,
        "suite_ratio_run2": round(suite_s / max(suite_d, 1e-9), 2),
        "rows_agree_all": all(r["rows_agree"] for r in results.values()),
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
