"""One-off scale probes behind SCALE.md's measured claims that don't
fit the stress harness's base-vs-scaled timing shape.

  cc      iterative connected-components dedup at base vs ×k — pins
          that round count is set by cluster DIAMETER, not corpus
          size (warm wall, exact output-count scaling).
  stream  watermarked streaming tumbling agg replayed over the ×k
          events build — pins events/s and that state stays EXACTLY
          3600 windows × event_type regardless of input volume.
  bucket  bucketing amortization at ×k: raw fact⋈fact join vs
          bucketed write + exchange-free join; reports how many
          repeat joins pay back the one-time write shuffle.
  hotgram exact-substring dedup with the boilerplate gram on EVERY
          doc at ×k — the adversarial hot key that would have been a
          single task under a gkey window; pins that the partial-agg
          + semi-join plan absorbs it.

cc/stream/bucket expect the scalebench x{k}p2 build to exist (run
stress_scale.py first); hotgram builds its corpus in-flight from
--sf-dir. Prints one JSON line per probe.

Usage: python scripts/scale_probes.py [cc|stream|bucket|all] [--k 100]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.measure import timed, warm_runs


def _dirs(k: int, sf_dir: str) -> tuple[str, str]:
    scaled = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".artifacts",
        "scalebench",
        f"x{k}p2_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    if not os.path.isdir(scaled):
        raise SystemExit(f"{scaled} missing — run stress_scale.py --k {k} first")
    return sf_dir, scaled


def probe_cc(spark, k: int, sf_dir: str) -> dict:
    from sparkml_spark.registry import QUERIES

    base, scaled = _dirs(k, sf_dir)
    out = {}
    for _warm in (True, False):  # first pass warms JVM/codegen for BOTH dirs
        for name, d in (("base", base), ("scaled", scaled)):
            n, secs = timed(lambda: QUERIES["dedup_cc_clusters"](spark, d).count())
            out[name] = {"rows": n, "seconds": round(secs, 2)}
    return {
        "metric": "cc_dedup_probe",
        "k": k,
        **out,
        "ratio": round(out["scaled"]["seconds"] / max(out["base"]["seconds"], 1e-9), 1),
    }


def probe_stream(spark, k: int, sf_dir: str) -> dict:
    from sparkml_spark.registry import QUERIES

    _, scaled = _dirs(k, sf_dir)
    n = spark.read.parquet(os.path.join(scaled, "events.parquet")).count()
    # Warm once, then report the best replay (measure.warm_runs); a
    # single cold run folds plan/codegen startup into the throughput
    # figure (ADVICE r6).
    windows = []
    dt = min(warm_runs(
        lambda: windows.append(QUERIES["stream_tumbling_agg"](spark, scaled).count())
    ))
    return {
        "metric": "stream_replay_probe",
        "k": k,
        "events": n,
        "state_rows": windows[-1],
        "seconds": round(dt, 1),
        "events_per_sec": round(n / dt),
    }


def probe_bucket(spark, k: int, sf_dir: str) -> dict:
    """Bucketing amortization: one write-time shuffle buys exchange-
    free repeat joins (join_bucketed_colocated's claim, measured).
    Times the raw fact⋈fact join, the bucketed write, and the
    bucketed join at ×k, then reports the crossover — how many
    repeat joins pay back the write."""
    from pyspark.sql import functions as F

    _, scaled = _dirs(k, sf_dir)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    li = spark.read.parquet(os.path.join(scaled, "lineitem.parquet")).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = spark.read.parquet(os.path.join(scaled, "orders.parquet")).select(
        "o_orderkey", "o_orderstatus"
    )

    def join_time(left, right) -> float:
        df = (
            left.join(right, left.l_orderkey == right.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_items"))
        )
        return round(min(warm_runs(df, "noop")), 2)

    t_raw = join_time(li, o)

    wh = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".artifacts",
        "bucket_probe",
    )
    os.makedirs(wh, exist_ok=True)
    # Key table names by BOTH k and the fixture basename, and always
    # (re)write: a tableExists skip would report bucket_write ~0s and a
    # bogus break-even, and a stale table from another --sf-dir at the
    # same k would silently poison the join timing (ADVICE r6).
    # Sanitize for SQL identifiers: fixture basenames contain dots
    # ("sf0.1"), which break every unquoted `spark.sql`/saveAsTable
    # reference to the table.
    fixture = re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(sf_dir.rstrip("/")))
    names = (f"li_probe_x{k}_{fixture}", f"o_probe_x{k}_{fixture}")

    def write_buckets():
        for name, df, key in ((names[0], li, "l_orderkey"), (names[1], o, "o_orderkey")):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (
                df.write.bucketBy(32, key)
                .sortBy(key)
                .option("path", os.path.join(wh, name))
                .mode("overwrite")
                .saveAsTable(name)
            )

    t_write = round(timed(write_buckets)[1], 2)
    t_bucketed = join_time(spark.table(names[0]), spark.table(names[1]))
    saved = max(t_raw - t_bucketed, 1e-9)
    return {
        "metric": "bucket_amortization_probe",
        "k": k,
        "seconds": {
            "raw_join": t_raw,
            "bucket_write": t_write,
            "bucketed_join": t_bucketed,
        },
        "joins_to_break_even": round(t_write / saved, 1),
    }


def probe_hotgram(spark, k: int, sf_dir: str) -> dict:
    """Adversarial skew probe for dedup_exact_substring (VERDICT r7
    #2): replicate documents ×k and put the boilerplate sentence on
    EVERY replica — one gram digest now repeats n_docs×k times, the
    worst hot key the op can face. Under the old gkey-window plan all
    those rows land in ONE task; under the partial-agg + semi-join
    plan the hot key collapses map-side to one (gkey, count) row per
    map task. Reports base (every-7th boilerplate, ×1) vs hot (×k,
    every doc) wall and the span-row counts, warm best-of-N (measure)."""
    from pyspark.sql import functions as F

    from sparkml_spark.operators.llm_dedup import _ES_BOILER, exact_substring_spans
    from sparkml_spark.sources.formats import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()
    base = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.concat("text", F.lit(" " + _ES_BOILER)))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    hot = (
        docs.crossJoin(spark.range(k).select(F.col("id").alias("rep")))
        .select(
            (F.col("doc_id") * k + F.col("rep")).alias("doc_id"),
            F.concat("text", F.lit(" " + _ES_BOILER)).alias("text"),
        )
        .repartition(32)
    )
    out = {}
    for name, corpus in (("base", base), ("hot", hot)):
        spans = exact_substring_spans(corpus)
        rows = spans.count()
        out[name] = {"span_rows": rows, "seconds": round(min(warm_runs(spans, "noop")), 2)}
    return {
        "metric": "exact_substring_hotgram_probe",
        "k": k,
        "docs_base": n_docs,
        "docs_hot": n_docs * k,
        "hot_gram_occurrences": n_docs * k,
        **out,
        "ratio": round(out["hot"]["seconds"] / max(out["base"]["seconds"], 1e-9), 1),
    }


def probe_semdedup(spark, k: int, sf_dir: str) -> dict:
    """Degenerate-clustering probe for dedup_semantic_semdedup
    (VERDICT r8 #7): every vector in ONE cluster — the clustering
    failure mode the enforced cap exists for — with STRIDED vec_ids
    (id*8+3) so the probe also exercises the id-HASH sub-cell salt
    (ADVICE r9: raw id-mod salting collapses residue-correlated ids
    into few cells). Replicates the sf embeddings xj for j in the
    ladder, reports candidate-pair count (sum over realized hash
    cells of c*(c-1)/2), max cell size, and warm best-of-N wall for
    capped vs uncapped runs. Expected: uncapped pairs grow ~n^2
    (x10 => x100 pairs); capped pairs grow ~n (cells multiply, cell
    size stays <= cap), which is the whole point of the cap."""
    from pyspark.sql import functions as F

    from sparkml_spark.operators.llm_dedup import (
        _SEM_MAX_CLUSTER,
        sem_cells,
        semdedup_within_clusters,
    )
    from sparkml_spark.registry import q8
    from sparkml_spark.sources.formats import load_table

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n_base = e.count()

    def giant(j: int):
        reps = spark.range(j).select(F.col("id").alias("rep"))
        return (
            e.crossJoin(reps)
            .select(
                ((F.col("vec_id") + F.col("rep") * n_base) * 8 + 3).alias("vec_id"),
                F.lit(0).alias("label"),
                q8("embedding").alias("q8"),
            )
            .repartition(32)
        )

    def cell_stats(df, cap: int) -> tuple[int, int]:
        # pair accounting over the ENGINE's own cell assignment
        # (llm_dedup.sem_cells), so a future salt change can never
        # desynchronize this probe from the real partitioning
        cells = (
            sem_cells(df, cap)
            .groupBy("label", "cell")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        row = cells.agg(
            F.sum(F.expr("c * (c - 1) DIV 2")).alias("pairs"),
            F.max("c").alias("max_cell"),
        ).first()
        return int(row.pairs), int(row.max_cell)

    # uncapped contrast stops at x3: pair cost is quadratic by
    # construction (that IS the finding) and x10 uncapped alone is
    # ~2e8 pair-dot evaluations — unpayable in probe time, which is
    # precisely what the cap prevents.
    ladder = [
        ("uncapped_x1", 1, 10**9),
        ("uncapped_x3", 3, 10**9),
        ("capped_x10", 10, _SEM_MAX_CLUSTER),
        (f"capped_x{k}", k, _SEM_MAX_CLUSTER),
    ]
    out = {}
    for name, j, cap in ladder:
        df = giant(j)
        pairs, max_cell = cell_stats(df, cap)
        res = semdedup_within_clusters(df, cap=cap)
        out[name] = {
            "vectors": n_base * j,
            "candidate_pairs": pairs,
            "max_cell": max_cell,
            "seconds": round(min(warm_runs(res, "noop")), 2),
        }
    return {
        "metric": "semdedup_degenerate_cluster_probe",
        "k": k,
        "cap": _SEM_MAX_CLUSTER,
        **out,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "probe", choices=["cc", "stream", "bucket", "hotgram", "semdedup", "all"], nargs="?", default="all"
    )
    ap.add_argument("--k", type=int, default=100)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from sparkml_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    spark = get_spark("sparkml_spark-scale-probes")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    import sparkml_spark.operators  # noqa: F401
    import sparkml_spark.streaming.ops  # noqa: F401

    probes = {
        "cc": probe_cc,
        "stream": probe_stream,
        "bucket": probe_bucket,
        "hotgram": probe_hotgram,
        "semdedup": probe_semdedup,
    }
    names = list(probes) if args.probe == "all" else [args.probe]
    for name in names:
        print(json.dumps(probes[name](spark, args.k, args.sf_dir)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
