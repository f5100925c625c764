"""Scale-up stress harness: measure how the headline queries scale
when the FACT tables grow k× (default 10×) while dimensions stay
fixed — the shape of real growth, and the direct evidence for
SCALE.md's "would this plan survive a scale-up" claims.

Builds .artifacts/scalebench/ by replicating the fact tables
(lineitem / orders / customer / events / documents / embeddings) k
times with per-replica key offsets — offsets are computed over each
SHARED key space (custkey across customer+orders, orderkey across
orders+lineitem), so row counts AND join/distinct cardinalities scale
together while referential integrity holds by construction. Document
text is mapped through a per-replica seeded alphabet permutation and
embedding components circular-shifted (sign-flipped past the shift
period) so the duplicate/near-dup structure stays constant. The
small dims (region/nation/supplier/part) are copied through
unchanged. Then times every bench.HEADLINE query at the base and
scaled dirs (scripts/measure.py: a warm-up, then the best of its
fresh-plan runs, so every stage runs) and prints one JSON line with
per-query times and scaling ratios.

A plan that survives scale-up shows ratio ≈ k (linear in rows, the
local ceiling: 32 cores, one machine) or better; a super-linear ratio
is the smell the harness exists to catch (pair explosion, global
sort, driver materialization).

Usage: python scripts/stress_scale.py [--k 10] [--sf-dir /root/testdata/sf0.1]
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

#: fact table -> {column: shared key-space name}. Offsets are computed
#: per key SPACE (max over every column in the space + 1), not per
#: column — o_custkey and c_custkey must shift by the SAME amount or
#: cross-replica joins dangle whenever the two maxima differ (they
#: coincide on the current fixture only by accident).
FACTS = {
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "lineitem": {"l_orderkey": "orderkey"},
    "customer": {"c_custkey": "custkey"},
    "events": {"event_id": "eventid", "user_id": "userid"},
    # doc_id and vec_id share ONE space: join_multimodal pairs
    # documents.doc_id = embeddings.vec_id, so both must shift by the
    # same per-replica amount (max over BOTH, +1) or cross-replica
    # doc↔vector joins dangle (code-review r6 #2).
    "documents": {"doc_id": "docvec"},
    "embeddings": {"vec_id": "docvec"},
}
DIMS = ["region", "nation", "supplier", "part"]

_ALPHA = "abcdefghijklmnopqrstuvwxyz"


def _perm(i: int) -> str:
    """Deterministic per-replica permutation of a-z (replica 0 is the
    identity — the base data rides through unchanged)."""
    if i == 0:
        return _ALPHA
    import random

    chars = list(_ALPHA)
    random.Random(0x5CA1E + i).shuffle(chars)
    return "".join(chars)

#: The §2.I ops with real blow-up risk at scale (candidate joins,
#: inverted indexes, global manifests) — timed by --llm. NOTE
#: dedup_embedding_cosine is deliberately absent: it is the
#: documented-cutoff all-pairs semantic pin (O(n²·d), "fine to ~10⁴
#: vectors" per its docstring) and the first harness run validated
#: that cutoff empirically — at ×10 (20.8k vectors ⇒ 4.3e8 pairs) it
#: does not finish in bench time. sim_lsh_ann, the blocked scale path
#: the docstring prescribes beyond the cutoff, is timed instead.
#: dedup_semantic_semdedup is absent for the same structural reason:
#: its cost is sum(cluster²) and the FIXTURE has a fixed 10-label
#: clustering, so replicating the corpus ×k grows every cluster ×k and
#: the pair count ×k² — by design. The production scale lever is
#: growing the cluster COUNT with the corpus (SemDeDup's k=50k on
#: LAION), which a replicated fixture cannot express.
#: Note for pair-level analysis of dedup outputs at large k: the dedup
#: ops self-union a synthetic twin corpus at doc_id + 1_000_000
#: (llm_dedup._DUP_OFFSET); once k × max(doc_id) crosses 1M (k ≳ 20 on
#: sf0.1) twin ids overlap other replicas' REAL id ranges. Runtime
#: measurements are unaffected (the corpus is a union, nothing joins
#: on doc_id), but anyone mapping pair ids back to replicas must
#: normalize by % _DUP_OFFSET first (see the replica-disjointness
#: property test).
LLM_SUITE = [
    "dedup_exact_hash",
    "dedup_minhash_sql",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_incremental",
    "dedup_exact_substring_apply",
    "text_tfidf_sql",
    "pipeline_training_corpus",
    "pipeline_sequence_pack",
    "sim_lsh_ann",
    "win_sessionize_batch",
    # r8 split-management / monitoring family — scan+partial-agg ops
    # whose ratios pin the "histogram-first, never doc-shuffling" claim.
    "pipeline_dataset_split",
    "pipeline_split_leakage",
    "pipeline_filter_funnel",
    "pipeline_snapshot_diff",
    "quality_drift_tvd",
    "pipeline_incremental_agg",
    "pipeline_stratified_sample_k",
    "pipeline_pack_bins_nextfit",
    # r9 BPE subword family — the fold is vocabulary-sized by design
    # (the permuted replicas grow the vocab x k, still tiny), so the
    # corpus-side cost is the explode + broadcast-join; these ratios
    # pin that tokenization never becomes corpus-shuffling work.
    "pipeline_tokenize_bpe",
    "pipeline_token_budget_mix_bpe",
    "pipeline_pack_bins_bpe",
    "pipeline_training_corpus_full",
    "pipeline_pack_manifest",
    "pipeline_chunk_overlap_bpe",
    # r10: OOV-drift monitor. The permuted replicas are EXACTLY the
    # drift scenario (disjoint vocab vs. the sf0.001-trained merges),
    # so at large k the violation flags must FIRE on the scaled copy
    # while runtime stays vocabulary-bounded — both halves of the
    # contract (see SCALE.md "BPE fertility at x100").
    "quality_bpe_fertility_bound",
    # r10 retrieval + curriculum + VLM packing family: BM25 is a
    # corpus scan with broadcast stats; RRF is two bounded top-k arms;
    # curriculum is the two-phase prefix sum; the interleave manifest
    # rides the sharded packer. None may grow super-linearly.
    "text_bm25_score",
    "sim_rrf_fusion",
    "pipeline_curriculum_order",
    "multimodal_interleave_manifest",
    "pipeline_pack_ffd_bound",
    "quality_gopher_filter",
    "quality_drift_chi2",
    "pipeline_dataset_card",
    # r11: in-engine tokenizer training (corpus pass + vocabulary-sized
    # iterations — the permuted replicas grow the vocab xk, still
    # tiny), the daily-append refresh chain (batch-sized broadcasts
    # against the standing index), the persisted-index ANN fusion, and
    # the unigram-LM surprise filter (vocabulary-sized LM broadcast).
    "pipeline_train_bpe",
    "pipeline_incremental_refresh",
    "sim_rrf_fusion_ann",
    "quality_surprise_filter",
    "text_pii_redact",
    "pipeline_span_corruption",
    "multimodal_caption_alignment",
    "sim_retrieval_metrics",
    "dedup_incremental_minhash",
    "pipeline_train_bpe_apply",
    "pipeline_right_to_forget",
    "pipeline_lineage_fingerprint",
    "win_user_streaks",
    "ml_target_encode",
    "quality_keep_decision",
    "pipeline_mix_temperature",
    "sim_ivf_ingest_bound",
    # r11 wave 2: the co-occurrence graph family (celebrity cap bounds
    # pair expansion — the quadratic risk lives in bucket size, not in
    # data size), the Bloom prefilter (bit-set is <= 2^16 rows at ANY
    # scale), DSIR (B=1024 weight broadcast onto one tokenize pass),
    # and the SFT/DPO constructors (zero-shuffle / stratum windows).
    "graph_cooccur_edges",
    "graph_triangle_count",
    "graph_jaccard_links",
    "graph_label_propagation",
    "dedup_bloom_prefilter",
    "pipeline_dsir_select",
    "pipeline_chat_sft_format",
    "pipeline_preference_pairs",
    # r11 wave 3: weighted percentiles (window on the collapsed price
    # grid), calibration (10-group histogram), running-distinct
    # (user-keyed windows), PQ (codebook-sized broadcasts; the recall
    # twin carries the documented 10-query brute-force arm).
    "agg_weighted_percentile",
    "ml_calibration_bins",
    "win_running_distinct",
    "sim_pq_adc",
    "sim_pq_recall",
    # r11 wave 4: sufficient-stat aggregates (one scan each) and the
    # ACF (daily partial agg + series-sized self-join).
    "agg_linear_regression",
    "agg_entropy_gini",
    "ts_autocorr",
    "subquery_quantified",
    # r11 wave 5: score-grid AUC / threshold sweep (one scan each),
    # user-keyed attribution join, series-sized CUSUM.
    "ml_auc_exact",
    "ml_confusion_sweep",
    "events_attribution_multitouch",
    "ts_cusum_changepoint",
    # r11 wave 6: all daily/grid/user partial-agg collapses.
    "ts_forecast_backtest",
    "win_bollinger_bands",
    "events_funnel_latency",
    "events_cohort_ltv",
    # r11 wave 7: decile/grid partial aggs, the WindowGroupLimit
    # keyword top-k, and the two-stage dedup cascade.
    "ml_lift_gain_table",
    "agg_gini_coefficient",
    "text_keyword_topk",
    "dedup_cascade_keep",
    # r11 wave 8: CDC compaction (key windows + one full-outer),
    # QUALIFY rewrite (WindowGroupLimit), calendar pins (narrow scan).
    "op_cdc_apply_ordered",
    "sql_qualify_rewrite",
    "fn_date_interval_clamp",
    # r11 wave 9: decay scoreboard (map-side GROUP BY), Theil-Sen
    # (series-sized pair join), exact Lloyd step (seed broadcast).
    "win_exponential_decay",
    "ts_theil_sen",
    "ml_kmeans_step_exact",
    # r11 wave 10: histogram-broadcast shapes.
    "ml_woe_iv",
    "stat_benford_digits",
    "events_hour_of_week_profile",
    # r11: NTILE-decomposition consumers (no corpus-wide single
    # partition window anywhere in these anymore).
    "events_rfm_segmentation",
    # r11 wave 11: drift/experiment folds + the truncated-embedding
    # audit (one broadcast pass for both dot widths).
    "ml_psi",
    "events_ab_test_ztest",
    "sim_matryoshka_prefix_recall",
    # r11 wave 12: grid/histogram/user-keyed shapes.
    "ml_ks_statistic",
    "agg_audience_overlap",
    "pipeline_privacy_kanon",
    "events_user_lifecycle",
    # r11 wave 13: bounded-round graph peeling + the rank-helper fit.
    "graph_kcore_membership",
    "events_power_law_fit",
    # r11 wave 14: two-level folds, composite-key self-join, series
    # window. (stream_ab_monitor is excluded: streaming jobs carry
    # fixed trigger/checkpoint overhead that swamps the data cost.)
    "agg_hhi_concentration",
    "orders_duplicate_payments",
    "ts_burst_detection",
    # r11 wave 15: two-phase-ranked metric, 4-cell fold, probe scan.
    "ml_average_precision_exact",
    "events_diff_in_diff",
    "sim_radius_search",
    # r11 wave 16: broadcast-ring assignment, one corpus scan.
    "pipeline_consistent_hash_ring",
    # r11 wave 17: dialect pins (daily windows / WindowGroupLimit /
    # the user-keyed as-of carry).
    "win_frame_exclude_rewrite",
    "sql_distinct_on_rewrite",
    "join_asof_native_pin",
    # r11 wave 18: scorer histogram + vocabulary-growth checkpoints.
    "quality_langid_confusion",
    "text_heaps_law_fit",
    # r11 wave 19: label-stat broadcast coreset + censored survival.
    "sim_prototype_selection",
    "ml_kaplan_meier",
    # r11 wave 20: parameter-sized waterfill, histogram chi2, the
    # map-side checksum fold.
    "pipeline_budget_waterfill",
    "ml_chi2_feature_selection",
    "fn_table_checksum",
    # r11 wave 21: zero-shuffle minting + the char-gram explode.
    "fn_stable_id_mint",
    "text_char_ngram_profile",
    # r11 wave 22: the one-plan composed analytics chain.
    "events_analytics_full",
    # r11 wave 23: frame-bounded median + SNM's 2n-3 candidates.
    "win_moving_median",
    "dedup_sorted_neighborhood",
    # r11 wave 24: the one-scan release manifest.
    "pipeline_release_gate",
    # r11 wave 25: in-engine NB training + the sparse cosine index.
    "ml_naive_bayes_exact",
    "text_tfidf_knn",
    # r11 wave 26: graph-sized correlation, 25-cell entropy, planning
    # grid.
    "graph_assortativity",
    "events_markov_entropy_rate",
    "events_ab_sample_size",
    # r11 wave 27: one-fold scoring + zero-shuffle diversity.
    "ml_brier_score",
    "text_type_token_ratio",
    # r11 wave 28: the grid-sweep skyline.
    "agg_skyline_frontier",
]


def build_scaled(spark, base_dir: str, out_dir: str, k: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for t in DIMS:
        src = os.path.join(base_dir, f"{t}.parquet")
        dst = os.path.join(out_dir, f"{t}.parquet")
        if not os.path.exists(dst):
            shutil.copy(src, dst)
    if all(
        os.path.exists(os.path.join(out_dir, f"{t}.parquet")) for t in FACTS
    ):
        return  # cached build — skip the offset-probing reads entirely
    # Shared key-space offsets FIRST: max over every column in the
    # space across all tables that carry it, +1.
    raw = {
        t: spark.read.parquet(os.path.join(base_dir, f"{t}.parquet"))
        for t in FACTS
    }
    spaces: dict[str, int] = {}
    for t, cols in FACTS.items():
        for c, space in cols.items():
            m = raw[t].agg(F.max(c)).collect()[0][0]
            spaces[space] = max(spaces.get(space, 0), m + 1)
    for t, cols in FACTS.items():
        dst = os.path.join(out_dir, f"{t}.parquet")
        if os.path.exists(dst):
            continue
        # raw read (nanosAsLong on) keeps events.ts as bigint — the
        # loader's dtype-gated repair then treats the scaled copy
        # exactly like the original fixture.
        df = raw[t]
        parts = []
        for i in range(k):
            rep = df
            for c, space in cols.items():
                rep = rep.withColumn(c, F.col(c) + F.lit(i * spaces[space]))
            if t == "documents" and i > 0:
                # Make replica text DISJOINT (per-replica seeded
                # alphabet permutation): ANY bijection on a-z maps
                # tokens/shingles bijectively, so the duplicate/
                # near-dup structure within a replica is preserved
                # exactly while cross-replica text shares nothing.
                # A weaker perturb (suffix tag) left trigram sets
                # ~identical across replicas, so every doc formed a
                # genuine k-sized duplicate cluster and PAIRWISE dedup
                # output grew quadratically — correct dedup behavior,
                # wrong experiment (first harness run caught exactly
                # this). A Caesar rotation has period 25 and capped
                # --llm at k<=25; seeded permutations have no period
                # (distinctness asserted by the caller).
                rep = rep.withColumn(
                    "text", F.translate("text", _ALPHA, _perm(i))
                )
            if t == "embeddings" and i > 0:
                # Circular-shift vector components per replica, with a
                # global sign flip every 63 replicas: unit norms and
                # within-replica geometry (cosine is negation-
                # invariant) preserved, exact cross-replica
                # duplication destroyed (same quadratic-cluster
                # reasoning as documents). Shift alone has period 63;
                # the sign flip doubles it to 126.
                s = i % 63 + 1
                shifted = F.concat(
                    F.slice("embedding", s + 1, 64 - s),
                    F.slice("embedding", 1, s),
                )
                if (i // 63) % 2 == 1:
                    shifted = F.transform(shifted, lambda x: -x)
                rep = rep.withColumn("embedding", shifted)
            parts.append(rep)
        out = parts[0]
        for rep in parts[1:]:
            out = out.unionByName(rep)
        # one file per replica keeps scan parallelism honest (the base
        # fixture is a single rowgroup; k files -> k-way scan).
        out.repartition(k).write.mode("overwrite").parquet(dst + ".dir")
        # loader expects <table>.parquet as a path; a directory works.
        os.rename(dst + ".dir", dst)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--llm", action="store_true", help="time the §2.I LLM suite instead"
    )
    # For ops whose OUTPUT grows with the data (tfidf's (doc,term)
    # pairs, sessionize's sessions), the collect protocol measures
    # mostly the driver single-threadedly ingesting millions of result
    # rows — its own documented anti-pattern. Measured at ×100: tfidf
    # 82.2× under collect vs 6.4× under noop; sessionize 112.6× vs
    # 3.9×. A production pipeline writes such outputs to a sink, so
    # noop is the cluster-predictive protocol for output-linear ops.
    ap.add_argument(
        "--sink",
        choices=["collect", "noop"],
        default="collect",
        help="collect = bench protocol (driver ingests results); "
        "noop = executor-side write, isolates the distributed stages "
        "(use for output-linear ops)",
    )
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated subset of the suite's query ids to time "
        "(targeted re-measures after a plan change; avoids re-running "
        "the full ×k suite when only one family's plan moved)",
    )
    ap.add_argument(
        "--fail-ratio",
        type=float,
        default=None,
        help="exit non-zero if any query's scaled/base ratio exceeds "
        "this bound — turns the harness into a CI gate against "
        "super-linear plan rot (VERDICT r6 #6). Linear-in-rows is "
        "ratio ≈ k; leave headroom for small-base timing noise.",
    )
    args = ap.parse_args()
    if args.llm:
        # Replicas i and j sharing a text permutation (or an embedding
        # (shift, sign) pair) would re-form the quadratic duplicate
        # clusters the perturbations exist to prevent. Seeded
        # permutations make collisions astronomically unlikely
        # (26! states) — assert rather than trust; the embedding
        # scheme has a hard period of 126.
        perms = [_perm(i) for i in range(args.k)]
        if len(set(perms)) != args.k:
            ap.error("replica text permutations collide — change the seed")
        if args.k > 126:
            ap.error("--llm supports k <= 126 (embedding shift+sign period)")

    from bench import HEADLINE
    from sparkml_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    spark = get_spark("sparkml_spark-stress")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    import sparkml_spark.operators  # noqa: F401
    from sparkml_spark.registry import QUERIES

    # Keyed by k, the base fixture, AND the perturbation-scheme version
    # (p2 = seeded permutation / shift+sign): a cached x10-of-sf0.1
    # must never be reused for a later x10-of-sf0.01 run, and a cache
    # built under an older perturbation scheme must never satisfy a
    # newer build (the build is per-table resumable, so a stale cache
    # would short-circuit silently).
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".artifacts",
        "scalebench",
        f"x{args.k}p2_{os.path.basename(args.sf_dir.rstrip('/'))}",
    )
    build_scaled(spark, args.sf_dir, out_dir, args.k)

    suite = {q: q for q in LLM_SUITE} if args.llm else HEADLINE
    if args.only:
        wanted = set(args.only.split(","))
        unknown = wanted - set(suite)
        if unknown:
            ap.error(f"--only ids not in the suite: {sorted(unknown)}")
        suite = {n: q for n, q in suite.items() if n in wanted}
    base, scaled, ratios = {}, {}, {}
    for name, qid in suite.items():
        fn = QUERIES[qid]
        base[name] = round(min(warm_runs(fn(spark, args.sf_dir), args.sink)), 3)
        scaled[name] = round(min(warm_runs(fn(spark, out_dir), args.sink)), 3)
        ratios[name] = round(scaled[name] / max(base[name], 1e-9), 1)
        print(
            f"# {name}: base {base[name]:.3f}s -> x{args.k} {scaled[name]:.3f}s "
            f"(ratio {ratios[name]:.1f}, linear would be ~{args.k})",
            file=sys.stderr,
        )
    print(
        json.dumps(
            {
                "metric": "scaleup_stress_llm" if args.llm else "scaleup_stress",
                "k": args.k,
                "sink": args.sink,
                "base": base,
                "scaled": scaled,
                "ratio": ratios,
            }
        )
    )
    if args.fail_ratio is not None:
        over = {q: r for q, r in ratios.items() if r > args.fail_ratio}
        if over:
            print(
                f"# FAIL: ratios over --fail-ratio {args.fail_ratio}: {over}",
                file=sys.stderr,
            )
            return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
