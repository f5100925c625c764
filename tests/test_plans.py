"""Plan-shape assertions — the 100 TB contract, enforced in CI.

Each test pins a physical property that decides scale behavior. If a
refactor regresses one of these (filter stops pushing, a dim join
stops broadcasting, top-k becomes a global sort), this fails before
any benchmark does.
"""

from __future__ import annotations

import sparkml_spark.operators  # noqa: F401
from sparkml_spark.plans import (
    has_broadcast_join,
    has_partial_aggregate,
    has_take_ordered,
    pushed_filters,
    read_schema_columns,
    shuffle_count,
)
from sparkml_spark.registry import QUERIES

from .conftest import SF_DIR


def test_flagship_pushdown_and_pruning(spark):
    df = QUERIES["agg_groupby_multi"](spark, SF_DIR)
    filters = pushed_filters(df)
    assert any("l_shipdate" in f for f in filters), filters
    schemas = read_schema_columns(df)
    assert schemas and len(schemas[0]) == 7, (
        f"expected 7 of 11 lineitem columns read, got {schemas}"
    )


def test_flagship_partial_aggregation(spark):
    assert has_partial_aggregate(QUERIES["agg_groupby_multi"](spark, SF_DIR))


def test_filter_compare_pushdown(spark):
    filters = pushed_filters(QUERIES["filter_compare"](spark, SF_DIR))
    assert any("GreaterThan(l_quantity" in f for f in filters), filters


def test_q5_broadcasts_dims(spark):
    df = QUERIES["join_multiway_5"](spark, SF_DIR)
    assert has_broadcast_join(df)
    # the only hash-partitioned shuffles should be the fact join sides
    # and the final agg — never one per dimension table
    assert shuffle_count(df) <= 4, shuffle_count(df)


def test_topk_no_global_sort(spark):
    assert has_take_ordered(QUERIES["topk_global"](spark, SF_DIR))


def test_range_bucketed_join_is_equi_not_nested_loop(spark):
    """join_range_bucketed exists to replace the O(n*m) nested-loop
    theta join with a bucket equi join — the plan must contain a
    hash/sort-merge join and NO BroadcastNestedLoop."""
    from sparkml_spark.plans import formatted_plan

    plan = formatted_plan(QUERIES["join_range_bucketed"](spark, SF_DIR))
    assert "BroadcastNestedLoop" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    ), plan


def test_union_all_no_shuffle(spark):
    assert shuffle_count(QUERIES["union_all"](spark, SF_DIR)) == 0


def test_broadcast_hint_respected(spark):
    assert has_broadcast_join(QUERIES["join_broadcast_hint"](spark, SF_DIR))


def test_scan_prunes_columns(spark):
    # project_rename touches 4 of 5 customer columns; the scan must not
    # read the full row
    schemas = read_schema_columns(QUERIES["project_rename"](spark, SF_DIR))
    assert schemas and len(schemas[0]) == 4, schemas


def test_bucketed_join_no_shuffle(spark):
    df = QUERIES["join_bucketed_colocated"](spark, SF_DIR)
    df.collect()  # materialize bucket tables first
    df2 = QUERIES["join_bucketed_colocated"](spark, SF_DIR)
    # one exchange for the final small agg is fine; the join itself
    # must not shuffle either bucketed side
    assert shuffle_count(df2) <= 1, shuffle_count(df2)


def test_q6_all_predicates_pushed(spark):
    # Q6 is the pushdown showcase: date bounds, discount range, and
    # quantity cap must all reach the lineitem scan, and the scan must
    # read only the 4 referenced columns.
    df = QUERIES["tpch_q6_shape"](spark, SF_DIR)
    filters = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in filters, filters
    schemas = read_schema_columns(df)
    assert schemas and len(schemas[0]) == 4, schemas


def test_q10_topk_no_global_sort(spark):
    assert has_take_ordered(QUERIES["tpch_q10_shape"](spark, SF_DIR))


def test_q9_dims_broadcast_single_fact_shuffle(spark):
    # part/supplier/nation broadcast; only lineitem⋈orders and the
    # final aggregate may shuffle.
    df = QUERIES["tpch_q9_shape"](spark, SF_DIR)
    assert has_broadcast_join(df)
    assert shuffle_count(df) <= 3, shuffle_count(df)


def test_q19_or_predicates_reach_both_scans(spark):
    # Disjunctive pushdown: each scan gets the OR of its own columns.
    df = QUERIES["tpch_q19_shape"](spark, SF_DIR)
    filters = " ".join(pushed_filters(df))
    assert "Or(" in filters and "p_brand" in filters and "l_quantity" in filters, filters


def test_bloom_filter_injected(spark):
    # The runtime bloom filter must appear in the compiled plan (the
    # operator freezes it under tuned thresholds) — and the session
    # confs must be restored afterwards.
    from sparkml_spark.plans.explain import executed_plan

    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    df = QUERIES["join_bloom_pruned"](spark, SF_DIR)
    plan = executed_plan(df).lower()
    assert "bloomfilter" in plan or "might_contain" in plan, plan[:2000]
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == before


def test_partition_pruned_scan(spark):
    """The hive-partitioned read must prune to the single lang=en
    partition (directory-level, before any task runs)."""
    df = QUERIES["scan_partition_pruned"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lang" in plan, plan[:2000]


def test_dynamic_partition_pruning_injected(spark):
    """The partitioned fact scan must carry a dynamicpruning subquery
    keyed on the join's dim side."""
    df = QUERIES["join_dynamic_partition_pruning"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:3000]


def test_cache_hot_dim_reused_in_memory(spark):
    """Both consumers of the cached rollup must read the
    InMemoryRelation instead of re-aggregating orders."""
    df = QUERIES["cache_hot_dim_reuse"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan, plan[:3000]


def test_quantized_sim_plan_shape(spark):
    """int8 similarity: query-side filter reaches the scan, only
    (vec_id, embedding) are read, the query set broadcasts, and the
    per-group top-k is a WindowGroupLimit (partial top-k before the
    exchange), not a full per-partition sort of all pairs."""
    df = QUERIES["sim_quantized_int8"](spark, SF_DIR)
    filters = pushed_filters(df)
    assert any("vec_id" in f for f in filters), filters
    schemas = read_schema_columns(df)
    assert all(set(s) == {"vec_id", "embedding"} for s in schemas), schemas
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "BroadcastExchange" in plan

def test_win_topk_uses_window_group_limit(spark):
    """rank()<=k must compile to WindowGroupLimit — a per-partition
    partial top-k BEFORE the exchange — not a full sort of every group
    (the difference between shuffling k rows/group and all rows)."""
    for qid in ("win_topk_per_group", "win_dedup_latest"):
        plan = QUERIES[qid](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan, f"{qid}: {plan[:1500]}"


def test_minhash_band_join_no_cartesian(spark):
    """The banded MinHash/SimHash self-joins must meet candidates only
    inside a band bucket (equi join) — an all-pairs plan would be
    quadratic in corpus size."""
    for qid in ("dedup_minhash_sql", "dedup_simhash"):
        plan = QUERIES[qid](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, f"{qid}: {plan[:1500]}"
        assert "BroadcastNestedLoop" not in plan, f"{qid}: {plan[:1500]}"


def test_ngram_jaccard_join_input_is_df_filtered(spark):
    """The shared-shingle self-join must consume the df-CUT shingle
    stream (computed once behind a lazy localCheckpoint). The cut
    itself is asserted on the raw `df_cut_kept` plan, since the
    checkpointed subtree is not visible from the outer query: a
    per-shingle frequency PARTIAL aggregation — never a shingle
    window, which would hold every occurrence of a hot shingle in one
    task — feeding a broadcast LEFT ANTI join against the (provably
    tiny) hot set, so the stream is never shuffled a second time for
    the cut. Without the cut, one ubiquitous shingle is a single
    shuffle key with an O(df²) pair explosion at corpus scale
    (VERDICT r4 'What's wrong' #3)."""
    import re

    from pyspark.sql import functions as F

    from sparkml_spark.operators.llm_dedup import _corpus_with_near_dups, df_cut_kept

    corpus = _corpus_with_near_dups(spark, SF_DIR)
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    exploded = corpus.select(
        "doc_id", F.explode(F.array_distinct(toks)).alias("shingle")
    )
    raw = df_cut_kept(exploded, corpus)._jdf.queryExecution()
    raw_opt = raw.optimizedPlan().toString()
    assert "windowspecdefinition(shingle" not in raw_opt, raw_opt[:2000]
    assert "(2 * df" in raw_opt or "(df" in raw_opt, raw_opt[:2000]
    raw_plan = raw.executedPlan().toString()
    assert re.search(
        r"HashAggregate\(keys=\[shingle[^\]]*\][^)]*partial_count", raw_plan
    ), raw_plan[:2000]
    assert re.search(r"BroadcastHashJoin \[shingle[^\n]*LeftAnti", raw_plan), (
        raw_plan[:2000]
    )
    for m in re.finditer(r"BroadcastNestedLoopJoin[^\n]*", raw_plan):
        assert "n_docs" in m.group(0), f"non-scalar-attach BNLJ: {m.group(0)}"
    # Outer query: the kept stream arrives through the checkpoint
    # (ExistingRDD), the candidate join stays a blocked equi join on
    # shingle — never all-pairs — and nothing windows or goes
    # cartesian.
    plan = (
        QUERIES["dedup_ngram_jaccard"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ExistingRDD" in plan, plan[:1500]
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "Window" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
    assert re.search(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[shingle", plan
    ), plan[:1500]


def test_asof_join_no_nested_loop(spark):
    """join_asof must be the partitioned union+window form, never a
    range-predicate nested loop over the full event table."""
    plan = QUERIES["join_asof"](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoop" not in plan, plan[:1500]

def test_global_shuffle_is_range_partitioned(spark):
    """The deterministic training-order shuffle must be a RANGE
    exchange (sampled boundaries, each executor sorts its own key
    range) — never a single-partition global sort."""
    plan = QUERIES["pipeline_global_shuffle"](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower(), plan[:1500]
    assert "SinglePartition" not in plan, plan[:1500]


def test_pipeline_mix_ops_broadcast_thresholds(spark):
    """The domain/token/epoch rebalancers must broadcast their tiny
    per-lang parameter tables back to the corpus — a shuffled join here
    would exchange the whole corpus to meet a 5-row table."""
    for qid in ("pipeline_domain_mix", "pipeline_token_budget_mix",
                "pipeline_epoch_upsample"):
        plan = QUERIES[qid](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, f"{qid}: {plan[:1500]}"
        assert "SortMergeJoin" not in plan, f"{qid}: {plan[:1500]}"


def test_chunk_overlap_is_shuffle_free(spark):
    """Chunking is tokenize+explode+slice — a narrow map pipeline; any
    Exchange in the plan means something regressed into a shuffle.
    The BPE twin is allowed EXACTLY its two documented exchanges (the
    tiny vocab distinct + the doc_id reassembly) and must broadcast
    the vocab — the in-row-fold alternative was measured 250x slower
    (see the op's docstring)."""
    from sparkml_spark.plans import shuffle_count
    df = QUERIES["pipeline_chunk_overlap"](spark, SF_DIR)
    assert shuffle_count(df) == 0, df._jdf.queryExecution().executedPlan().toString()[:1500]
    bpe = QUERIES["pipeline_chunk_overlap_bpe"](spark, SF_DIR)
    plan = bpe._jdf.queryExecution().executedPlan().toString()
    assert shuffle_count(bpe) <= 2, plan[:1500]
    assert "BroadcastHashJoin" in plan, plan[:1500]


def test_decontaminate_broadcasts_eval_side(spark):
    """The eval-gram set (tiny vs the corpus) must broadcast into the
    inverted-index join; no cartesian/nested-loop anywhere."""
    plan = QUERIES["pipeline_decontaminate"](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan[:1500]


def test_two_phase_prefix_sums_bound_single_partition(spark):
    """pipeline_sequence_pack / multimodal_shard_manifest exist to keep
    the global prefix sum OFF the corpus: the only SinglePartition
    exchange allowed is the one over the 1000x-smaller bucket table."""
    for qid in ("pipeline_sequence_pack", "multimodal_shard_manifest"):
        plan = QUERIES[qid](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("SinglePartition") <= 1, f"{qid}: {plan[:2000]}"


def test_semdedup_pairs_meet_inside_cluster_only(spark):
    """dedup_semantic_semdedup's pair join must be an equi join on the
    cluster id (shuffle key = label) — the whole point of SemDeDup is
    that the quadratic pair cost is bounded per cluster, so an
    all-pairs (cartesian / nested-loop) plan defeats the operator."""
    import re

    plan = (
        QUERIES["dedup_semantic_semdedup"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoop" not in plan, plan[:1500]
    # salted form (VERDICT r7 #3, reshaped r13): pairs may only meet
    # inside a (cluster id, size-cap sub-cell) group. Since r13 the
    # scoring is one int64 matrix product per cell — a
    # FlatMapGroupsInPandas whose grouping (and therefore shuffle)
    # keys must be BOTH label and cell, so giant clusters stay bounded
    # at ~cap^2 pairs per cell exactly as the old equi join was.
    assert re.search(
        r"FlatMapGroupsInPandas \[label[^\]]*cell", plan
    ), plan[:1500]
    assert re.search(
        r"Exchange hashpartitioning\(label[^)]*cell", plan
    ), plan[:1500]


def test_per_user_udfs_group_on_user_bucket(spark):
    """udaf_cogroup_pandas and udaf_ewma_apply_in_pandas cross the
    Python boundary once per user BUCKET, not once per user: their
    grouped-map nodes (and the shuffles under them) must key on the
    bucket column. A revert to per-user groups keys on user_id and
    fails here."""
    import re

    def plan(qid):
        return QUERIES[qid](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()

    cog = plan("udaf_cogroup_pandas")
    assert re.search(
        r"FlatMapCoGroupsInPandas \[user_bucket#\w+\], \[user_bucket#\w+\],", cog
    ), cog[:1500]
    assert "Exchange hashpartitioning(user_id" not in cog, cog[:1500]
    ewma = plan("udaf_ewma_apply_in_pandas")
    assert re.search(r"FlatMapGroupsInPandas \[user_bucket#\w+\],", ewma), ewma[:1500]
    assert "Exchange hashpartitioning(user_id" not in ewma, ewma[:1500]


def test_exact_substring_no_window_on_gram_key(spark):
    """VERDICT r7 #2: the corpus-wide gram repeat test must be a
    partial aggregation + semi-join, never a window partitioned on the
    gram key — a gkey window puts every occurrence of a hot boilerplate
    gram into ONE task, the exact rows this operator exists to find.
    Asserts no Window node keys on gkey and that the repeat test
    map-side-combines (partial aggregate) before the equi semi-join."""
    import re

    df = QUERIES["dedup_exact_substring"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for m in re.finditer(r"Window \[.*?\], \[([^\]]*)\]", plan):
        assert "gkey" not in m.group(1), f"window partitioned on gkey: {m.group(0)}"
    assert re.search(r"HashAggregate\(keys=\[gkey[^\]]*\][^)]*partial_count", plan), (
        plan[:2000]
    )
    assert re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[gkey", plan), (
        plan[:2000]
    )


def test_containment_df_cut_no_window_on_shingle(spark):
    """dedup_containment's df-cut goes through the shared df_cut_kept
    helper — its partial-agg + broadcast-anti shape is pinned by
    test_ngram_jaccard_join_input_is_df_filtered on the raw helper
    plan. Here: the outer query consumes the cut stream through the
    lazy checkpoint (ExistingRDD), the candidate join is an equi join
    on shingle, and nothing windows or goes cartesian."""
    import re

    df = QUERIES["dedup_containment"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, f"unexpected window: {plan[:1500]}"
    assert "ExistingRDD" in plan, plan[:1500]
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
    assert re.search(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[shingle", plan
    ), plan[:2000]


def test_exact_substring_apply_joins_are_equi(spark):
    """dedup_exact_substring_apply: the token-vs-covered anti join and
    the reassembly joins must all be equi joins keyed on doc position
    (AQE-splittable) — no window partitioned on the gram key leaks in
    from the detect pass, and no cartesian pairing of tokens against
    spans."""
    import re

    df = QUERIES["dedup_exact_substring_apply"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for m in re.finditer(r"Window \[.*?\], \[([^\]]*)\]", plan):
        assert "gkey" not in m.group(1), f"window partitioned on gkey: {m.group(0)}"
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
    assert re.search(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[[^\n]*LeftAnti", plan
    ), plan[:2000]


def test_incremental_no_window_on_hash_key(spark):
    """dedup_incremental: both keeper derivations (corpus index and
    within-batch) must be partial aggregations on the digest plus equi
    joins — never a window over the content hash, so a billion-copy
    hot document collapses map-side instead of landing in one task."""
    import re

    df = QUERIES["dedup_incremental"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, f"unexpected window: {plan[:1500]}"
    assert re.search(r"HashAggregate\(keys=\[h[#\d]*[^\]]*\][^)]*partial_min", plan), (
        plan[:2000]
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, (
        plan[:1500]
    )


def test_dedup_family_no_hot_key_windows(spark):
    """Family-wide r8 invariant: NO dedup operator may compute a
    window partitioned on an unbounded-cardinality-per-key column
    (content digest, shingle, gram key, cluster label, hash-family
    key). A window needs every row of a partition in one task, and
    dedup keys are hot by the operator's own purpose — repeated
    content. Partial aggregation + equi join back is the required
    shape (map-side combine; AQE-skew-splittable). Windows partitioned
    per doc (bounded by document length) are allowed."""
    import re

    hot_keys = {"content_hash", "h", "shingle", "gkey", "cluster_id", "cell", "band", "sig"}
    for name in sorted(QUERIES):
        if not name.startswith("dedup_"):
            continue
        df = QUERIES[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        for m in re.finditer(r"Window \[.*?\], \[([^\]]*)\]", plan):
            part_keys = m.group(1)
            bad = [k for k in hot_keys if re.search(rf"\b{k}#", part_keys)]
            assert not bad, f"{name}: window partitioned on hot key {bad}: {m.group(0)[:200]}"


def test_split_family_scan_shapes(spark):
    """The split-management ops must stay scan+partial-agg plans:
    pipeline_dataset_split and pipeline_split_leakage are one pass
    over documents into a map-side-combining aggregation (no Window,
    no join — a billion-copy hot digest collapses per map task), and
    pipeline_filter_funnel additionally must evaluate every gate
    per-row (no Expand/explode of token arrays, no join) with its
    5-row stage table exploded from the single aggregate row."""
    for name in [
        "pipeline_dataset_split",
        "pipeline_split_leakage",
        "pipeline_filter_funnel",
    ]:
        df = QUERIES[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan, f"{name}: {plan[:1500]}"
        assert "Join" not in plan, f"{name}: {plan[:1500]}"
        assert "CartesianProduct" not in plan, f"{name}: {plan[:1500]}"
        assert "partial" in plan, f"{name}: no partial aggregation: {plan[:1500]}"


def test_monitoring_ops_plan_shapes(spark):
    """pipeline_snapshot_diff: ONE equi full-outer join on the unique
    doc_id (no skew by construction), digests computed at scan time —
    no window, no cartesian. quality_drift_tvd: histograms first
    (partial agg on the bounded (lang, bucket) key space), then joins
    on HISTOGRAM rows only — the per-lang totals attach as broadcasts
    and nothing windows or goes cartesian."""
    import re

    plan = (
        QUERIES["pipeline_snapshot_diff"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan and "CartesianProduct" not in plan, plan[:1500]
    joins = re.findall(r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)[^\n]*", plan)
    assert len(joins) == 1 and "FullOuter" in joins[0], joins

    plan = (
        QUERIES["quality_drift_tvd"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan and "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
    # the corpus-side aggregation happens BEFORE any join: partial agg
    # on (lang, b) must exist and every join key set is histogram-side.
    assert re.search(r"HashAggregate\(keys=\[lang[^\]]*b[^\]]*\][^)]*partial_count", plan), plan[:2000]


def test_incremental_agg_merge_shape(spark):
    """pipeline_incremental_agg's merge must be a full-outer join of
    two FEW-ROW aggregates (base census x delta census) — partial
    aggregation present on both sides, no window, no cartesian; the
    churn classes reach the join only AFTER aggregation (no
    document-proportional rows cross the merge)."""
    plan = (
        QUERIES["pipeline_incremental_agg"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan and "CartesianProduct" not in plan, plan[:1500]
    assert "FullOuter" in plan, plan[:1500]
    assert "partial_count" in plan, plan[:1500]


def test_stratified_sample_pushes_group_limit(spark):
    """pipeline_stratified_sample_k must plan as WindowGroupLimit
    (partial below the exchange), so only k rows per (stratum, map
    task) cross the shuffle — the documented reason this window shape
    is allowed where dedup hot-key windows are not."""
    plan = (
        QUERIES["pipeline_stratified_sample_k"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan, plan[:1500]


def test_bpe_family_plan_shapes(spark):
    """The BPE token unit must stay JVM-side and vocabulary-sized:
    tokenize/mix plans contain NO Python eval node (the fold is pure
    Catalyst — the packer twin is the only applyInPandas, and only
    for the next-fit recurrence), the vocab join back onto the corpus
    is a broadcast, and nothing degenerates to a cartesian."""
    for qid in ("pipeline_tokenize_bpe", "pipeline_token_budget_mix_bpe"):
        plan = (
            QUERIES[qid](spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "EvalPython" not in plan, f"{qid}: {plan[:1500]}"
        assert "CartesianProduct" not in plan, f"{qid}: {plan[:1500]}"
    mix = (
        QUERIES["pipeline_token_budget_mix_bpe"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in mix, mix[:1500]
    pack = (
        QUERIES["pipeline_pack_bins_bpe"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "FlatMapGroupsInPandas" in pack, pack[:1500]
    assert "BroadcastHashJoin" in pack, pack[:1500]


def test_training_corpus_full_one_plan_shapes(spark):
    """VERDICT r8 #5: the end-to-end corpus chain must keep every
    stage's proven shape in ONE plan — broadcast parameter tables
    (mix thresholds / vocab / offsets), WindowGroupLimit for both the
    dedup rn=1 and the exact-k sample, and the RangePartitioning
    exchange for the deterministic training order — with no
    cartesian, no Python eval node, and the only single-partition
    windows running on few-row tables (bucket offsets + lang
    budgets)."""
    plan = (
        QUERIES["pipeline_training_corpus_full"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "WindowGroupLimit" in plan, plan[:2000]
    assert "rangepartitioning" in plan.lower(), plan[:2000]
    assert "CartesianProduct" not in plan and "EvalPython" not in plan, plan[:2000]
    assert plan.count("SinglePartition") <= 3, plan[:2000]


def test_hybrid_retrieval_plan_shapes(spark):
    """r10 retrieval family: BM25's df/corpus-stats sides broadcast
    (the per-doc side is the only shuffled key), and RRF's two arms
    compile to TakeOrderedAndProject — per-partition partial top-k +
    driver merge of k*partitions rows, never a global Sort that
    materializes the corpus order. No cartesian, no Python eval."""
    bm25 = (
        QUERIES["text_bm25_score"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in bm25, bm25[:2000]
    assert "CartesianProduct" not in bm25 and "EvalPython" not in bm25, bm25[:2000]
    rrf = (
        QUERIES["sim_rrf_fusion"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert rrf.count("TakeOrderedAndProject") >= 2, rrf[:2000]
    assert "CartesianProduct" not in rrf and "EvalPython" not in rrf, rrf[:2000]


def test_incremental_refresh_plan_shape(spark):
    """VERDICT r10 #3 plan gate: the daily-append chain must probe the
    standing corpus digest index via BROADCAST joins (batch digests
    broadcast into the index scan; every later operand batch-sized and
    broadcast), with NO corpus-wide window — the only window allowed
    is token_budget_thresholds' few-row global over the per-lang
    aggregate — and no cartesian. ArrowEvalPython appears exactly for
    the sharded packer (applyInPandas), never a row-at-a-time
    PythonUDF."""
    plan = (
        QUERIES["pipeline_incremental_refresh"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BatchEvalPython" not in plan, plan[:2000]
    # windows: the lang-budget global agg only (SinglePartition on a
    # <=n_langs-row table), never a corpus-wide ordering window
    assert plan.count("SinglePartition") <= 2, plan[:2000]


def test_r11_quality_ops_plan_shapes(spark):
    """r11 quality/manifold family plan gates:
    - text_pii_redact is a PURE PROJECTION: no shuffle Exchange, no
      join, no Python eval — per-row regex only;
    - pipeline_span_corruption pays exactly one hash Exchange (the
      doc_id window partition) and no cartesian;
    - quality_surprise_filter and multimodal_caption_alignment keep
      their parameter tables (LM / centroids / thresholds) broadcast
      and never cartesian."""
    pii = (
        QUERIES["text_pii_redact"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in pii, pii[:2000]
    assert "Join" not in pii and "EvalPython" not in pii, pii[:2000]

    span = (
        QUERIES["pipeline_span_corruption"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert span.count("Exchange hashpartitioning") == 1, span[:2000]
    assert "CartesianProduct" not in span, span[:2000]

    for qid in ("quality_surprise_filter", "multimodal_caption_alignment"):
        plan = (
            QUERIES[qid](spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan, (qid, plan[:2000])
        assert "CartesianProduct" not in plan, (qid, plan[:2000])


def test_r11_late_ops_plan_shapes(spark):
    """Late-r11 family plan gates: the forget-set anti join and the
    target-encode/keep-decision parameter joins must broadcast (no
    shuffled join on a request-sized side), streaks must window only
    on user partitions (no SinglePartition window), and nothing may
    cartesian."""
    for qid in (
        "pipeline_right_to_forget",
        "ml_target_encode",
        "quality_keep_decision",
    ):
        plan = (
            QUERIES[qid](spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan, (qid, plan[:2000])
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
            qid,
            plan[:2000],
        )
    streaks = (
        QUERIES["win_user_streaks"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in streaks, streaks[:2000]
    assert "SinglePartition" not in streaks, streaks[:2000]


def test_graph_cooccur_family_plan_shapes(spark):
    """Graph-family plan gates (r11): nothing may cartesian (the wedge
    and closure joins must all be key-equi joins), and the Jaccard
    top-50 must be a TakeOrderedAndProject, never a global sort
    materialization."""
    for qid in (
        "graph_cooccur_edges",
        "graph_triangle_count",
        "graph_label_propagation",
        "graph_jaccard_links",
    ):
        plan = (
            QUERIES[qid](spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan, (qid, plan[:2000])
    assert has_take_ordered(QUERIES["graph_jaccard_links"](spark, SF_DIR))


def test_r11_curation_ops_plan_shapes(spark):
    """Curation-op plan gates (r11): the Bloom bit-set probe and the
    DSIR bucket-weight join must broadcast (both sides are bounded —
    2^16 positions / 1024 buckets — regardless of corpus size); the
    DSIR token stream is shuffled by bucket once and its top-100 is a
    TakeOrderedAndProject; the chat-SFT render is
    zero-shuffle; preference pairs must window on stratum partitions,
    never SinglePartition."""
    bloom = (
        QUERIES["dedup_bloom_prefilter"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in bloom, bloom[:2000]
    assert "CartesianProduct" not in bloom, bloom[:2000]

    dsir = QUERIES["pipeline_dsir_select"](spark, SF_DIR)
    assert has_broadcast_join(dsir)
    assert has_take_ordered(dsir)
    # one bucket shuffle: a second one tokenizes the corpus again
    dplan = dsir._jdf.queryExecution().executedPlan().toString()
    n_bucket = sum(
        "Exchange hashpartitioning(b#" in line and "ReusedExchange" not in line
        for line in dplan.splitlines()
    )
    assert n_bucket == 1, dplan[:3000]

    sft = QUERIES["pipeline_chat_sft_format"](spark, SF_DIR)
    assert shuffle_count(sft) == 0, shuffle_count(sft)

    pref = (
        QUERIES["pipeline_preference_pairs"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SinglePartition" not in pref, pref[:2000]
    assert "CartesianProduct" not in pref, pref[:2000]


def test_r11_wave3_plan_shapes(spark):
    """Wave-3 plan gates (r11): the weighted-percentile window must run
    on the collapsed price grid behind a partial aggregation (never a
    raw-fact window); calibration is a pure partial-agg histogram with
    zero joins; the PQ anchor join and the query-table ADC join must
    broadcast (both sides are codebook-sized); the running-distinct
    windows must never collapse to a single partition."""
    wp = QUERIES["agg_weighted_percentile"](spark, SF_DIR)
    assert has_partial_aggregate(wp)
    plan = wp._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:2000]

    cal = QUERIES["ml_calibration_bins"](spark, SF_DIR)
    assert has_partial_aggregate(cal)
    cplan = cal._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in cplan, cplan[:2000]

    for qid in ("sim_pq_adc", "sim_pq_recall"):
        assert has_broadcast_join(QUERIES[qid](spark, SF_DIR)), qid

    rd = (
        QUERIES["win_running_distinct"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SinglePartition" not in rd, rd[:2000]


def test_r11_wave4_plan_shapes(spark):
    """Wave-4 plan gates (r11): OLS and impurity are pure partial-agg
    shapes (regression over a trillion rows = one scan); the ACF's
    corpus-sized stage is the daily partial agg with the self-join on
    the tiny series broadcast; the quantified-subquery rewrite is one
    scalar broadcast onto the outer scan — never a correlated per-row
    probe (no CartesianProduct beyond the 1-row scalar broadcast)."""
    for qid in ("agg_linear_regression", "agg_entropy_gini"):
        df = QUERIES[qid](spark, SF_DIR)
        assert has_partial_aggregate(df), qid
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan, (qid, plan[:2000])

    acf = QUERIES["ts_autocorr"](spark, SF_DIR)
    assert has_partial_aggregate(acf)
    assert has_broadcast_join(acf)

    qf = QUERIES["subquery_quantified"](spark, SF_DIR)
    assert has_broadcast_join(qf)
    assert shuffle_count(qf) == 0, shuffle_count(qf)


def test_r11_wave5_plan_shapes(spark):
    """Wave-5 plan gates (r11): exact-AUC and the confusion sweep are
    partial-agg shapes (AUC's window runs on the score grid, the sweep
    broadcasts its 8-threshold constant); attribution's touch join is
    user-keyed equi (no cartesian) with conversion-sized windows; the
    CUSUM series stats ride broadcast scalars."""
    auc = QUERIES["ml_auc_exact"](spark, SF_DIR)
    assert has_partial_aggregate(auc)
    sweep = QUERIES["ml_confusion_sweep"](spark, SF_DIR)
    assert has_partial_aggregate(sweep)
    assert has_broadcast_join(sweep)
    attr = (
        QUERIES["events_attribution_multitouch"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in attr, attr[:2000]
    cp = QUERIES["ts_cusum_changepoint"](spark, SF_DIR)
    assert has_broadcast_join(cp)


def test_r11_wave6_plan_shapes(spark):
    """Wave-6 plan gates (r11): all four ops' corpus-sized stage is a
    partial aggregation (daily/grid/user collapse) — never a raw-fact
    window or cartesian; Bollinger's window partitions by event_type
    (no SinglePartition over the fact table — the daily grid's global
    window in latency runs on the collapsed GRID, which is fine and
    asserted by row count elsewhere)."""
    for qid in (
        "ts_forecast_backtest",
        "win_bollinger_bands",
        "events_funnel_latency",
        "events_cohort_ltv",
    ):
        df = QUERIES[qid](spark, SF_DIR)
        assert has_partial_aggregate(df), qid
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, (qid, plan[:2000])
    bb = (
        QUERIES["win_bollinger_bands"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SinglePartition" not in bb, bb[:2000]


def test_r11_wave7_plan_shapes(spark):
    """Wave-7 plan gates (r11): keyword top-k must push the per-doc
    limit below the sort (WindowGroupLimit); the lift table's decile
    aggregation is partial; the Gini grid collapse is partial; the
    cascade must stay equi-join only (its BNLJ is the 1-row df-cut
    scalar attach, pinned elsewhere)."""
    kw = (
        QUERIES["text_keyword_topk"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in kw, kw[:2000]

    assert has_partial_aggregate(QUERIES["ml_lift_gain_table"](spark, SF_DIR))
    assert has_partial_aggregate(QUERIES["agg_gini_coefficient"](spark, SF_DIR))

    casc = (
        QUERIES["dedup_cascade_keep"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in casc, casc[:2000]


def test_r11_wave8_plan_shapes(spark):
    """Wave-8 plan gates (r11): the QUALIFY rewrite must compile to
    WindowGroupLimit (rank pruned below the sort); CDC's reduction
    windows on key partitions (no SinglePartition) and merges with one
    equi full-outer (no cartesian); the calendar pin is zero-join."""
    q = (
        QUERIES["sql_qualify_rewrite"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in q, q[:2000]

    cdc = (
        QUERIES["op_cdc_apply_ordered"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SinglePartition" not in cdc, cdc[:2000]
    assert "CartesianProduct" not in cdc, cdc[:2000]

    cal = (
        QUERIES["fn_date_interval_clamp"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in cal, cal[:2000]


def test_r11_wave9_plan_shapes(spark):
    """Wave-9 plan gates (r11): decay scoring is a pure partial agg;
    Theil-Sen's pair join runs on the collapsed daily series (partial
    agg below it); the k-means step broadcasts its seed table and
    windows per vector."""
    dec = QUERIES["win_exponential_decay"](spark, SF_DIR)
    assert has_partial_aggregate(dec)
    plan = dec._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan[:2000]

    assert has_partial_aggregate(QUERIES["ts_theil_sen"](spark, SF_DIR))
    km = QUERIES["ml_kmeans_step_exact"](spark, SF_DIR)
    assert has_broadcast_join(km)
    kplan = km._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in kplan, kplan[:2000]


def test_r11_wave10_plan_shapes(spark):
    """Wave-10 plan gates (r11): WOE / Benford / hour-of-week are
    histogram partial aggs with 1-row broadcasts; the lift table must
    NOT contain an ntile over the raw rows (the two-phase rank
    decomposition — its only SinglePartition window is the bounded
    score-grid prefix sum)."""
    for qid in ("ml_woe_iv", "stat_benford_digits", "events_hour_of_week_profile"):
        df = QUERIES[qid](spark, SF_DIR)
        assert has_partial_aggregate(df), qid
        assert has_broadcast_join(df), qid
    lift = (
        QUERIES["ml_lift_gain_table"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ntile" not in lift.lower(), lift[:2000]


def test_r11_wave11_plan_shapes(spark):
    """Wave-11 plan gates (r11): PSI and the z-test are histogram /
    user-fold partial aggs; the Matryoshka audit broadcasts the query
    vectors and computes both dots in one joined pass (no second scan
    of the corpus side)."""
    assert has_partial_aggregate(QUERIES["ml_psi"](spark, SF_DIR))
    assert has_partial_aggregate(QUERIES["events_ab_test_ztest"](spark, SF_DIR))
    mat = QUERIES["sim_matryoshka_prefix_recall"](spark, SF_DIR)
    assert has_broadcast_join(mat)
    plan = mat._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:2000]


def test_r11_wave12_plan_shapes(spark):
    """Wave-12 plan gates (r11): KS runs on the score grid behind a
    partial agg; audience overlap joins on the user posting key (no
    cartesian); k-anonymity is a pure histogram (no joins); lifecycle
    windows only on user partitions."""
    assert has_partial_aggregate(QUERIES["ml_ks_statistic"](spark, SF_DIR))
    ov = (
        QUERIES["agg_audience_overlap"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in ov, ov[:2000]
    ka = (
        QUERIES["pipeline_privacy_kanon"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in ka, ka[:2000]
    lc = (
        QUERIES["events_user_lifecycle"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SinglePartition" not in lc, lc[:2000]


def test_r11_wave13_plan_shapes(spark):
    """Wave-13 plan gates (r11): k-core rounds are equi-join peels (no
    cartesian); the power-law fit ranks through the two-phase helper
    (no ntile/rank over raw rows — its windows partition by the count
    bucket or run on the bucket grid)."""
    kc = (
        QUERIES["graph_kcore_membership"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in kc, kc[:2000]
    pl = QUERIES["events_power_law_fit"](spark, SF_DIR)
    assert has_partial_aggregate(pl)


def test_r11_wave14_plan_shapes(spark):
    """Wave-14 plan gates (r11): HHI is a two-level partial agg with
    broadcast dims; the duplicate-payment screen is a composite-key
    equi self-join (no cartesian, no range theta join); burst flags
    ride the series window behind a partial agg."""
    hhi = QUERIES["agg_hhi_concentration"](spark, SF_DIR)
    assert has_partial_aggregate(hhi)
    assert has_broadcast_join(hhi)
    dup = (
        QUERIES["orders_duplicate_payments"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in dup, dup[:2000]
    assert "BroadcastNestedLoop" not in dup, dup[:2000]
    assert has_partial_aggregate(QUERIES["ts_burst_detection"](spark, SF_DIR))


def test_r11_wave15_plan_shapes(spark):
    """Wave-15 plan gates (r11): average precision must NOT rank
    through a corpus-wide window (no ntile; its only unpartitioned
    window is the bounded score grid — same contract as the lift
    table); DiD is a 4-cell histogram; radius search broadcasts the
    query probes."""
    ap = QUERIES["ml_average_precision_exact"](spark, SF_DIR)
    assert has_partial_aggregate(ap)
    assert has_partial_aggregate(QUERIES["events_diff_in_diff"](spark, SF_DIR))
    assert has_broadcast_join(QUERIES["sim_radius_search"](spark, SF_DIR))


def test_r11_wave16_plan_shapes(spark):
    """Wave-16 plan gate (r13-tightened): the ring is a CONSTANT
    128/136-point literal array folded into the scan projection, so
    the assignment plan must carry NO join of any kind (the r11 shape
    broadcast the ring onto two corpus crossJoins and self-joined the
    results) and exactly ONE shuffle — the 16-row shard rollup, which
    must map-side combine."""
    import re

    ring = QUERIES["pipeline_consistent_hash_ring"](spark, SF_DIR)
    plan = ring._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan[:2000]
    # count exchanges on the simple plan string: the formatted
    # explain (shuffle_count) truncates plans carrying the folded
    # 128/136-element ring literals and loses the Exchange line.
    # A reuse line reads "ReusedExchange [..], Exchange hashpartitioning"
    # without adding a shuffle, so count per line and skip those lines,
    # keeping the gate meaningful under exchange reuse or AQE replanning.
    n_shuffles = sum(
        "Exchange hashpartitioning" in line and "ReusedExchange" not in line
        for line in plan.splitlines()
    )
    assert n_shuffles == 1, plan[:2000]
    assert has_partial_aggregate(ring)


def test_r11_wave17_plan_shapes(spark):
    """Wave-17 plan gates (r11): DISTINCT ON compiles to
    WindowGroupLimit; the frame-exclude rewrite windows per type (no
    SinglePartition); the native-pin as-of stays one user-keyed
    window (no join at all in the Spark plan — the join lives in the
    oracle's engine)."""
    don = (
        QUERIES["sql_distinct_on_rewrite"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in don, don[:2000]
    fx = (
        QUERIES["win_frame_exclude_rewrite"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SinglePartition" not in fx, fx[:2000]
    asof = (
        QUERIES["join_asof_native_pin"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in asof, asof[:2000]


def test_r11_wave18_plan_shapes(spark):
    """Wave-18 plan gates (r11): the confusion matrix is one scan to
    a bounded histogram (broadcast totals); the Heaps fit crosses
    fixed checkpoints onto vocabulary-sized aggregates (BNLJ with the
    tiny checkpoint side is the expected shape), never a second
    corpus scan per checkpoint."""
    cm = QUERIES["quality_langid_confusion"](spark, SF_DIR)
    assert has_partial_aggregate(cm)
    assert has_broadcast_join(cm)
    hp = QUERIES["text_heaps_law_fit"](spark, SF_DIR)
    assert has_partial_aggregate(hp)


def test_r11_wave19_plan_shapes(spark):
    """Wave-19 plan gates (r11): prototype selection broadcasts the
    (label x dim) stats and windows per label; Kaplan-Meier's corpus
    stages are user-keyed partial aggs (its day-grid windows are
    bounded by the horizon)."""
    ps = QUERIES["sim_prototype_selection"](spark, SF_DIR)
    assert has_broadcast_join(ps)
    plan = ps._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:2000]
    assert has_partial_aggregate(QUERIES["ml_kaplan_meier"](spark, SF_DIR))


def test_r11_wave20_plan_shapes(spark):
    """Wave-20 plan gates (r11): the waterfill census is one corpus
    scan with parameter-sized iteration (broadcast pools); chi2 is
    histogram windows over category partitions; the checksum is a
    pure map-side fold — no shuffle before the final 1-row combine."""
    wf = QUERIES["pipeline_budget_waterfill"](spark, SF_DIR)
    assert has_partial_aggregate(wf)
    assert has_broadcast_join(wf)
    chi = QUERIES["ml_chi2_feature_selection"](spark, SF_DIR)
    assert has_partial_aggregate(chi)
    ck = QUERIES["fn_table_checksum"](spark, SF_DIR)
    assert has_partial_aggregate(ck)
    plan = ck._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan[:2000]


def test_r11_wave21_plan_shapes(spark):
    """Wave-21 plan gates (r11): id minting is zero-shuffle; the
    char-gram profile collapses map-side and takes the per-lang top-5
    through WindowGroupLimit."""
    mint = QUERIES["fn_stable_id_mint"](spark, SF_DIR)
    assert shuffle_count(mint) == 0, shuffle_count(mint)
    prof = (
        QUERIES["text_char_ngram_profile"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in prof, prof[:2000]


def test_r11_wave22_plan_shapes(spark):
    """Wave-22 plan gates (r11): the composed analytics pipeline must
    fuse into user-keyed windows + partial aggs in ONE plan — no
    SinglePartition window over the fact table, no cartesian, and
    partial aggregation present (Catalyst fused the chain rather than
    materializing stages)."""
    df = QUERIES["events_analytics_full"](spark, SF_DIR)
    assert has_partial_aggregate(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]


def test_r11_wave23_plan_shapes(spark):
    """Wave-23 plan gates (r11): the moving median windows per type
    (no SinglePartition); SNM's candidates come from rank-offset EQUI
    joins (no range/theta join, no cartesian) with the rank built by
    the two-phase helper."""
    mm = (
        QUERIES["win_moving_median"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SinglePartition" not in mm, mm[:2000]
    snm = (
        QUERIES["dedup_sorted_neighborhood"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in snm, snm[:2000]
    assert "BroadcastNestedLoop" not in snm, snm[:2000]


def test_r11_wave24_plan_shapes(spark):
    """Wave-24 plan gate (r11): the release gate's five numbers must
    all fold from partial aggregations (one normalized projection,
    no joins between the manifest arms beyond the final union)."""
    rg = QUERIES["pipeline_release_gate"](spark, SF_DIR)
    assert has_partial_aggregate(rg)
    plan = rg._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:2000]


def test_r11_wave25_plan_shapes(spark):
    """Wave-25 plan gates (r11): Naive Bayes' weight table broadcasts
    (classes x vocab) onto the scoring explode; the tf-idf kNN's
    candidates come only through the token equi join (no cartesian)
    with the per-query top-k as WindowGroupLimit."""
    nb = QUERIES["ml_naive_bayes_exact"](spark, SF_DIR)
    assert has_broadcast_join(nb)
    assert has_partial_aggregate(nb)
    knn = (
        QUERIES["text_tfidf_knn"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in knn, knn[:2000]
    assert "WindowGroupLimit" in knn, knn[:2000]


def test_r11_wave26_plan_shapes(spark):
    """Wave-26 plan gates (r11): assortativity joins degrees by equi
    key on the capped edge list; the entropy rate is 25-cell algebra
    behind user-keyed lead windows; sample-size planning is a user
    fold with a broadcast grid."""
    asrt = (
        QUERIES["graph_assortativity"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in asrt, asrt[:2000]
    assert has_partial_aggregate(
        QUERIES["events_markov_entropy_rate"](spark, SF_DIR)
    )
    ss = QUERIES["events_ab_sample_size"](spark, SF_DIR)
    assert has_partial_aggregate(ss)
    assert has_broadcast_join(ss)


def test_r11_wave27_plan_shapes(spark):
    """Wave-27 plan gates (r11): Brier is one map-side fold; TTR is a
    zero-shuffle projection."""
    br = QUERIES["ml_brier_score"](spark, SF_DIR)
    assert has_partial_aggregate(br)
    ttr = QUERIES["text_type_token_ratio"](spark, SF_DIR)
    assert shuffle_count(ttr) == 0, shuffle_count(ttr)


def test_r11_wave28_plan_shapes(spark):
    """Wave-28 plan gate (r11): the skyline must be the grid sweep —
    a partial aggregation with the prefix-max window on the collapsed
    grid, and NO join anywhere (the naive dominance form would plan
    an anti-join or cartesian)."""
    sky = QUERIES["agg_skyline_frontier"](spark, SF_DIR)
    assert has_partial_aggregate(sky)
    plan = sky._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan[:2000]


def test_hierarchy_closure_is_single_plan_no_union(spark):
    """Round-12 redesign pin: the closure must stay the closed-form
    single projection (transform/filter/explode), NOT a per-level
    union of chained frontiers — the loop form measured super-linear
    in level count and OOM'd the JVM at the 64 levels a 2^63 id range
    implies (scripts/deep_plan_probe.py). Plan shape: one Generate
    (the explode), zero Union nodes, zero shuffles."""
    df = QUERIES["hierarchy_closure"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan, "closure regressed to the union-loop form"
    assert "Generate" in plan, "expected the explode-based closed form"
    assert shuffle_count(df) <= 1  # the nodes distinct; nothing per-level


def test_partsupp_family_plan_shapes(spark):
    """Round-13 partsupp bridge (derived inventory relation): the
    build itself must be shuffle-free (part scan x 1-row broadcast x
    explode), and each true-shape query may shuffle only for its own
    aggregate — the supplier/part/threshold sides all broadcast. A
    non-broadcast join against the 4x|part| bridge or a second
    exchange in the build is the 100x regression this pins against."""
    from sparkml_spark.operators.tpch_partsupp import partsupp_df
    from sparkml_spark.plans import has_broadcast_join, shuffle_count
    from sparkml_spark.plans.explain import executed_plan

    ps = partsupp_df(spark, SF_DIR)
    assert shuffle_count(ps) == 0, executed_plan(ps)

    q11 = QUERIES["tpch_q11_partsupp"](spark, SF_DIR)
    assert has_broadcast_join(q11)
    # one exchange for the ps_partkey aggregate (+ its AQE read side);
    # the nation-filtered supplier set and the threshold broadcast
    assert shuffle_count(q11) <= 2, executed_plan(q11)

    q16 = QUERIES["tpch_q16_partsupp"](spark, SF_DIR)
    assert has_broadcast_join(q16)
    # two-phase distinct aggregate: partial -> exchange on the group
    # keys (+ distinct expansion) — never an exchange per join side
    assert shuffle_count(q16) <= 2, executed_plan(q16)

    q20 = QUERIES["tpch_q20_partsupp"](spark, SF_DIR)
    assert has_broadcast_join(q20)
    plan = executed_plan(q20)
    assert "CartesianProduct" not in plan
    # the (suppkey, partkey) shipped aggregate is the one corpus-sized
    # shuffle; everything downstream broadcasts
    assert shuffle_count(q20) <= 2, plan


def _partial_sum_input_types(df):
    """Input types of every partial-mode Sum in `df`'s executed plan,
    read after the frame has run so AQE's final stages are walked."""
    df.collect()
    types = []

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if name.endswith("QueryStageExec"):
            return walk(node.plan())
        if name.endswith("AggregateExec"):
            aggs = node.aggregateExpressions()
            for i in range(aggs.size()):
                a = aggs.apply(i)
                fn = a.aggregateFunction()
                if a.mode().toString() == "Partial" and fn.getClass().getSimpleName() == "Sum":
                    types.append(fn.child().dataType().simpleString())
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return types


def test_broadcast_weight_sums_are_long(spark):
    """pipeline_dsir_select and ml_naive_bayes_exact sum a 9dp weight
    per token. The broadcast weight table carries it as int64 1e-9
    units (registry.nano), so every map-side partial sum adds longs;
    a decimal(30,9) per-token sum (BigDecimal per row) fails here."""
    for qid in ("pipeline_dsir_select", "ml_naive_bayes_exact"):
        types = _partial_sum_input_types(QUERIES[qid](spark, SF_DIR))
        assert types and set(types) == {"bigint"}, (qid, types)
