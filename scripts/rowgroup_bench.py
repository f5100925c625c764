"""Single-file MULTI-ROWGROUP layout: the last local-layout artifact
(VERDICT r11 #7).

The committed fixtures are single-file single-rowgroup parquet; the
r12 multi-file verify stage (scripts/partitioned_verify.py) covers
row-order robustness, but one production layout remained unexercised:
a large single FILE containing many rowgroups. Spark parallelizes
such a file by byte-range splits (each task reads the rowgroups whose
midpoints land in its range) — with a single rowgroup the file is one
atomic task no matter how many cores exist, which is exactly the
serial-scan artifact SCALE.md's "Global posture" documents.

This script rebuilds the sf0.1 tables as single files with small
rowgroups (pyarrow rewrite, physical dtypes untouched), then in one
session measures:
  1. scan-split mechanics: the raw lineitem scan's partition count on
     both layouts under a small maxPartitionBytes — multi-rowgroup
     must split into >1 populated task, single-rowgroup stays 1;
  2. the headline suite, best of scripts/measure.py's fresh-plan
     runs, on both layouts, interleaved per query;
  3. result equality: the flagship aggregate row-set must be
     identical across layouts.

Prints one JSON line; recorded in SCALE.md. Usage:
  python scripts/rowgroup_bench.py [--sf-dir /root/testdata/sf0.1]
      [--rows-per-group 50000]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.measure import warm_runs


def build_layout(base_dir: str, out_dir: str, rows_per_group: int) -> None:
    marker = os.path.join(out_dir, ".layout_complete")
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read().strip() == f"{base_dir}|{rows_per_group}":
                return
    import shutil

    import pyarrow.parquet as pq

    from sparkml_spark.sources.loader import TABLES

    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    for t in TABLES:
        src = os.path.join(base_dir, f"{t}.parquet")
        # pyarrow round-trip preserves the physical schema (NANOS ts
        # stays NANOS), so the loader's dtype-gated repair sees the
        # same input on both layouts.
        pq.write_table(
            pq.read_table(src),
            os.path.join(out_dir, f"{t}.parquet"),
            row_group_size=rows_per_group,
        )
    with open(marker, "w") as f:
        f.write(f"{base_dir}|{rows_per_group}\n")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--rows-per-group", type=int, default=50_000)
    args = ap.parse_args()

    from bench import HEADLINE
    from sparkml_spark.session import get_spark

    spark = get_spark("sparkml_spark-rowgroupbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.shuffle.partitions", "8")  # bench parity
    import sparkml_spark.operators  # noqa: F401
    from sparkml_spark.registry import QUERIES

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(
        repo, ".artifacts", "rowgroup", os.path.basename(args.sf_dir.rstrip("/"))
    )
    build_layout(args.sf_dir, out_dir, args.rows_per_group)

    # --- scan-split mechanics under a 4 MB split size ---
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
    try:
        def populated_tasks(path):
            df = spark.read.parquet(path)
            counts = df.rdd.glom().map(len).collect()
            return sum(1 for c in counts if c > 0), len(counts)

        single_pop, single_total = populated_tasks(
            os.path.join(args.sf_dir, "lineitem.parquet"))
        multi_pop, multi_total = populated_tasks(
            os.path.join(out_dir, "lineitem.parquet"))
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    assert multi_pop > 1, (
        f"multi-rowgroup file produced {multi_pop} populated scan tasks — "
        "rowgroup-level split parallelism is not engaging")

    # --- headline suite, interleaved ---
    single, rowgrouped = {}, {}
    for name, qid in HEADLINE.items():
        fn = QUERIES[qid]
        dfs_a, dfs_b = fn(spark, args.sf_dir), fn(spark, out_dir)
        single[name] = round(min(warm_runs(dfs_a)), 3)
        rowgrouped[name] = round(min(warm_runs(dfs_b)), 3)
        print(f"# {name}: single-rowgroup {single[name]:.3f}s vs "
              f"multi-rowgroup {rowgrouped[name]:.3f}s", file=sys.stderr)

    # --- flagship equality across layouts ---
    flag = HEADLINE[next(iter(HEADLINE))]
    rows_a = sorted(map(tuple, QUERIES[flag](spark, args.sf_dir).collect()))
    rows_b = sorted(map(tuple, QUERIES[flag](spark, out_dir).collect()))
    assert rows_a == rows_b, "flagship result drifted across layouts"

    print(json.dumps({
        "metric": "rowgroup_layout_bench",
        "sf_dir": args.sf_dir,
        "rows_per_group": args.rows_per_group,
        "lineitem_scan_tasks_4mb_split": {
            "single_rowgroup": {"populated": single_pop, "total": single_total},
            "multi_rowgroup": {"populated": multi_pop, "total": multi_total},
        },
        "single_rowgroup_s": single,
        "multi_rowgroup_s": rowgrouped,
        "flagship_rows_equal": True,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
