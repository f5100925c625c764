"""Plan-compile cost of iterative/deep-union operators at 100 TB id
ranges (VERDICT r11 #5b).

hierarchy_closure builds its transitive closure as an explicit loop —
one union branch per tree level, each branch a longer chain of
projections than the last. At the fixture's id range that is ~11
levels; at a 100 TB corpus with 2^63 ids it is 64. Executor work per
level is unchanged (narrow, no shuffle), but the LOGICAL PLAN grows
quadratically in node count (branch k carries k nested projections),
and Catalyst analysis/optimization is what pays it — a driver-side
cost invisible at test scale. This probe measures, for depth
∈ {11, 16, 32, 64}: plan-compile wall clock (force analysis +
optimization + physical planning via executedPlan) and execution wall
clock of the same loop shape over the sf0.01 nodes, plus the same for
the closed-form single-plan variant (shiftright ancestor explode) as
the comparison point.

Prints one JSON line; recorded in SCALE.md. Usage:
  python scripts/deep_plan_probe.py [--sf-dir /root/testdata/sf0.01]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from scripts.measure import timed


def loop_closure(nodes, depth_cap: int):
    """The hierarchy_closure loop shape with a forced level count (as
    if max_node were 2^depth_cap): levels beyond the fixture's actual
    tree depth are empty at runtime but are full plan branches — the
    compile-cost scenario under measurement."""
    levels = [
        nodes.select("node", F.col("node").alias("ancestor"), F.lit(0).alias("depth"))
    ]
    frontier = levels[0]
    for depth in range(1, depth_cap + 1):
        frontier = frontier.filter(F.col("ancestor") > 1).select(
            "node",
            F.expr("ancestor DIV 2").alias("ancestor"),
            F.lit(depth).alias("depth"),
        )
        levels.append(frontier)
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def closed_form(nodes, depth_cap: int):
    """Single-plan closure: ancestor at depth d is shiftright(node, d)
    (binary-tree parent DIV 2 iterated), kept while the PREVIOUS level
    was still above the root — one transform/filter/explode, no union,
    plan size O(1) in the depth."""
    chain = F.expr(
        f"""filter(
              transform(sequence(0, {depth_cap}),
                        d -> struct(CAST(d AS INT) AS depth,
                                    shiftright(node, d) AS ancestor)),
              s -> s.depth = 0 OR shiftright(node, s.depth - 1) > 1
            )"""
    )
    return nodes.select("node", F.explode(chain).alias("s")).select(
        "node", F.col("s.ancestor").alias("ancestor"), F.col("s.depth").alias("depth")
    )


def measure(df):
    # analysis+optimize+planning
    _, t_compile = timed(lambda: df._jdf.queryExecution().executedPlan())
    n, t_exec = timed(df.count)
    return round(t_compile, 2), round(t_exec, 2), n


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--depths", default="11,16,32,64")
    # The loop arm is not run past this depth by default: at 64 levels
    # it does not merely slow down, it OOMs the whole JVM (measured
    # r12 — java.lang.OutOfMemoryError in codegen, SparkEnv torn down),
    # which would take the closed-form measurements down with it.
    ap.add_argument("--loop-max", type=int, default=32)
    args = ap.parse_args()

    from sparkml_spark.session import get_spark

    spark = get_spark("deep-plan-probe")
    spark.sparkContext.setLogLevel("ERROR")
    import sparkml_spark.operators  # noqa: F401
    from sparkml_spark.sources.loader import load_table

    e = load_table(spark, args.sf_dir, "events")
    nodes = (
        e.select((F.col("user_id") + 1).alias("node")).distinct()
        .localCheckpoint()  # isolate the closure plan from the scan
    )

    rows = []
    for depth in [int(d) for d in args.depths.split(",")]:
        cc, ce, cn = measure(closed_form(nodes, depth))
        if depth <= args.loop_max:
            lc, le, ln = measure(loop_closure(nodes, depth))
            assert ln == cn, f"row drift at depth {depth}: loop={ln} closed={cn}"
            loop_part = {"loop_compile_s": lc, "loop_exec_s": le}
        else:
            loop_part = {"loop_skipped": "OOMs the JVM at this depth (r12)"}
        rows.append(
            {"depth": depth, **loop_part,
             "closed_compile_s": cc, "closed_exec_s": ce, "rows": cn}
        )
        print(f"# depth {depth}: loop {loop_part}; "
              f"closed {cc}s / {ce}s; rows {cn}", file=sys.stderr)

    print(json.dumps({"metric": "deep_plan_probe", "sf_dir": args.sf_dir,
                      "rows": rows}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
