"""Headline bench over a partitioned multi-file layout (VERDICT r9 #7).

The committed fixtures are single-file, single-rowgroup parquet — the
known artifact of SCALE.md's "Global posture": every headline scan is
serial regardless of core count, and partition pruning never fires
because there is nothing to prune. This script closes the loop by
rebuilding sf0.1 as the layout a 100 TB corpus actually has:

  lineitem  -> hive-style `l_ship_month=yyyy-MM/` partitions (the
               same shape sink_parquet_partitioned writes), ~84 dirs
  orders / events / customer -> 8-file unpartitioned (scan
               parallelism without partition columns)
  dims / documents / embeddings -> copied as-is

then measures, in one session:

  1. every bench.HEADLINE query, best of scripts/measure.py's
     fresh-plan runs, single-file vs partitioned layout — the
     scan-parallelism delta;
  2. partition PRUNING on the partitioned lineitem: the flagship
     Q1 aggregate with its l_shipdate cutoff also expressed on the
     partition column (the predicate a production query carries),
     asserting the plan prunes via PartitionFilters and reporting
     selected/total partitions plus the measured time delta.

Prints one JSON line; results recorded in SCALE.md ("Partitioned
layout" table). Usage:
  python scripts/partitioned_bench.py [--sf-dir /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from scripts.measure import warm_runs


def build_layout(spark, base_dir: str, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    done = os.path.join(out_dir, ".layout_complete")
    if os.path.exists(done):
        return
    from sparkml_spark.sources.loader import TABLES, load_table

    for t in TABLES:
        dst = os.path.join(out_dir, f"{t}.parquet")
        if os.path.exists(dst):
            shutil.rmtree(dst, ignore_errors=True) if os.path.isdir(dst) else os.remove(dst)
        if t == "lineitem":
            df = load_table(spark, base_dir, t).withColumn(
                "l_ship_month", F.date_format("l_shipdate", "yyyy-MM")
            )
            df.write.partitionBy("l_ship_month").parquet(dst)
        elif t in ("orders", "events", "customer"):
            # raw read (not load_table): keep events.ts nanos EXACTLY as
            # the fixture stores them so the loader's dtype-gated repair
            # sees the same input on both layouts
            spark.read.parquet(os.path.join(base_dir, f"{t}.parquet")) \
                .repartition(8).write.parquet(dst)
        else:
            src = os.path.join(base_dir, f"{t}.parquet")
            if os.path.isdir(src):
                shutil.copytree(src, dst)
            else:
                shutil.copy(src, dst)
    with open(done, "w") as f:
        f.write("ok\n")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from bench import HEADLINE
    from sparkml_spark.session import get_spark

    spark = get_spark("sparkml_spark-partbench")
    spark.conf.set("spark.sql.shuffle.partitions", "8")  # bench parity
    import sparkml_spark.operators  # noqa: F401
    from sparkml_spark.registry import QUERIES
    from sparkml_spark.sources.loader import load_table

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".artifacts",
        "partbench",
        os.path.basename(args.sf_dir.rstrip("/")),
    )
    build_layout(spark, args.sf_dir, out_dir)

    single, parted = {}, {}
    for name, qid in HEADLINE.items():
        fn = QUERIES[qid]
        # interleave the two layouts per query — same A/B discipline
        # as the cross-round bench control
        dfs_a, dfs_b = fn(spark, args.sf_dir), fn(spark, out_dir)
        single[name] = round(min(warm_runs(dfs_a)), 3)
        parted[name] = round(min(warm_runs(dfs_b)), 3)
        print(
            f"# {name}: single-file {single[name]:.3f}s vs "
            f"partitioned {parted[name]:.3f}s",
            file=sys.stderr,
        )

    # ---- partition pruning on the flagship's cutoff ----
    li = load_table(spark, out_dir, "lineitem")
    cutoff_date, cutoff_month = "1998-09-02", "1998-09"
    pruned_q = (
        li.filter(
            (F.col("l_ship_month") <= cutoff_month)
            & (F.col("l_shipdate") <= cutoff_date)
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("sum_qty"))
    )
    full_q = (
        li.filter(F.col("l_shipdate") <= cutoff_date)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("sum_qty"))
    )
    plan = pruned_q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "l_ship_month" in plan, plan[:2000]
    months = [
        d for d in os.listdir(os.path.join(out_dir, "lineitem.parquet"))
        if d.startswith("l_ship_month=")
    ]
    selected = [m for m in months if m.split("=")[1] <= cutoff_month]
    t_pruned, t_full = min(warm_runs(pruned_q)), min(warm_runs(full_q))
    # narrower cutoff: prune to one year (the realistic rolling-window read)
    t_year = min(warm_runs(
        li.filter(F.col("l_ship_month").between("1995-01", "1995-12"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("sum_qty"))
    ))
    year_sel = len([m for m in months if "1995-01" <= m.split("=")[1] <= "1995-12"])

    print(
        json.dumps(
            {
                "metric": "partitioned_layout_bench",
                "sf_dir": args.sf_dir,
                "single_file": single,
                "partitioned": parted,
                "pruning": {
                    "partitions_total": len(months),
                    "q1_cutoff_selected": len(selected),
                    "q1_full_scan_s": round(t_full, 3),
                    "q1_pruned_s": round(t_pruned, 3),
                    "year_window_selected": year_sel,
                    "year_window_s": round(t_year, 3),
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
