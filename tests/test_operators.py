"""Unit tests on literal DataFrames — nulls, ties, empties (SURVEY §5.2).

The parity suite proves fixture agreement; these pin the semantic
edge cases the fixtures don't reach (fixtures have no NULLs and no
duplicate docs)."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

import sparkml_spark.operators  # noqa: F401  (fills the registry)
from sparkml_spark.registry import QUERIES, dsum
from sparkml_spark.sources.loader import load_table

from .conftest import SF_DIR


def test_outer_join_null_extension(spark):
    left = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k INT, v STRING")
    right = spark.createDataFrame([(2, 20.0), (4, 40.0)], "k INT, w DOUBLE")
    rows = {r["k"]: (r["v"], r["w"]) for r in left.join(right, "k", "full").collect()}
    assert rows[1] == ("a", None)
    assert rows[2] == ("b", 20.0)
    assert rows[4] == (None, 40.0)


def test_dsum_ignores_nulls_and_empty(spark):
    df = spark.createDataFrame(
        [(1, 1.5), (1, None), (2, None)], "g INT, x DOUBLE"
    )
    got = {
        r["g"]: r["s"]
        for r in df.groupBy("g").agg(dsum("x").alias("s")).collect()
    }
    assert got[1] == 1.5
    assert got[2] is None  # SUM over all-NULL group is NULL, not 0
    empty = df.filter("g = 99").agg(dsum("x").alias("s")).collect()
    assert empty[0]["s"] is None


def test_window_dedup_tie_break(spark):
    # two rows with the SAME timestamp: the tie-break key must decide
    df = spark.createDataFrame(
        [(1, 100, 5), (1, 100, 7), (2, 50, 1)], "user INT, ts INT, ev INT"
    )
    w = Window.partitionBy("user").orderBy(F.col("ts").desc(), F.col("ev").desc())
    kept = {
        r["user"]: r["ev"]
        for r in df.withColumn("rn", F.row_number().over(w)).filter("rn = 1").collect()
    }
    assert kept == {1: 7, 2: 1}


def test_exceptall_multiplicity(spark):
    a = spark.createDataFrame([(1,), (1,), (1,), (2,)], "k INT")
    b = spark.createDataFrame([(1,), (3,)], "k INT")
    got = sorted(r["k"] for r in a.exceptAll(b).collect())
    assert got == [1, 1, 2]  # one copy of 1 removed, 2 survives


def test_rollup_null_marker_rows(spark):
    df = spark.createDataFrame([("x", "p", 1), ("x", "q", 2), ("y", "p", 4)], "a STRING, b STRING, n INT")
    rows = {
        (r["a"], r["b"]): r["s"]
        for r in df.rollup("a", "b").agg(F.sum("n").alias("s")).collect()
    }
    assert rows[("x", None)] == 3  # subtotal
    assert rows[(None, None)] == 7  # grand total
    assert ("y", "p") in rows and (None, "p") not in rows  # rollup ≠ cube


def test_filter_conjunction_identity(spark):
    df = spark.createDataFrame([(i, i % 7) for i in range(100)], "i INT, m INT")
    a = df.filter((F.col("i") > 10) & (F.col("m") == 3))
    b = df.filter(F.col("i") > 10).filter(F.col("m") == 3)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_asof_no_prior_match_is_null(spark):
    # purchase before any click must carry NULL, not a later click
    df = spark.createDataFrame(
        [(1, 10, "purchase", 100), (1, 20, "click", 101), (1, 30, "purchase", 102)],
        "user INT, t INT, typ STRING, ev INT",
    )
    w = (
        Window.partitionBy("user")
        .orderBy("t", "ev")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_t = F.when(F.col("typ") == "click", F.col("t"))
    out = {
        r["ev"]: r["asof"]
        for r in df.withColumn("asof", F.last(click_t, ignorenulls=True).over(w))
        .filter("typ = 'purchase'")
        .collect()
    }
    assert out[100] is None
    assert out[102] == 20


def test_approx_percentile_close_to_exact(spark):
    import sparkml_spark.operators  # noqa: F401  (fills the registry)
    from sparkml_spark.registry import QUERIES
    from .conftest import SF_DIR

    exact = {
        r["l_returnflag"]: (r["p25"], r["p50"], r["p75"])
        for r in QUERIES["agg_percentile"](spark, SF_DIR).collect()
    }
    approx = {
        r["l_returnflag"]: (r["p25"], r["p50"], r["p75"])
        for r in QUERIES["agg_approx_percentile"](spark, SF_DIR).collect()
    }
    for flag, ex in exact.items():
        for e, a in zip(ex, approx[flag]):
            assert abs(e - a) / max(abs(e), 1) < 0.02, (flag, e, a)


def test_count_min_overestimates_only(spark):
    # CMS guarantee: est >= exact for every key, and the overestimate
    # is bounded (w=256 buckets over a 5-type corpus: tiny collisions).
    rows = QUERIES["agg_count_min"](spark, SF_DIR).collect()
    assert rows, "no keys"
    for r in rows:
        assert r["est_cnt"] >= r["exact_cnt"], r
        assert r["est_cnt"] <= r["exact_cnt"] * 1.5 + 100, r


def test_hll_union_estimate_close(spark):
    # Union of per-type sketches must estimate the GLOBAL distinct
    # user count (types share users, so it's far below the sum).
    row = QUERIES["agg_hll_sketch"](spark, SF_DIR).collect()[0]
    import duckdb

    exact = duckdb.sql(
        f"SELECT COUNT(DISTINCT user_id) FROM read_parquet('{SF_DIR}/events.parquet')"
    ).fetchone()[0]
    assert abs(row["est_total_users"] - exact) / exact < 0.05, (row, exact)


def test_ewma_recurrence(spark, duck):
    # s_0 = v_0 and s_t = a*v_t + (1-a)*s_{t-1}; recompute EVERY user's
    # series in plain Python and compare the fixed-point micro output.
    # The UDF runs many users per call (one per user bucket), so a
    # recurrence that leaked across a user boundary would break the
    # series of the second user in a shared bucket.
    from sparkml_spark.operators.udfs import key_bucket
    from sparkml_spark.sources.loader import load_table

    events = load_table(spark, SF_DIR, "events")
    per_bucket = (
        events.groupBy(key_bucket(spark, "user_id").alias("b"))
        .agg(F.countDistinct("user_id").alias("n"))
        .agg(F.max("n"))
        .first()[0]
    )
    assert per_bucket >= 2, "no bucket holds two users: the check cannot bite"

    got = {
        r["event_id"]: r
        for r in QUERIES["udaf_ewma_apply_in_pandas"](spark, SF_DIR).collect()
    }
    ordered = duck.sql(
        "SELECT event_id, user_id, value FROM events ORDER BY user_id, ts, event_id"
    ).fetchall()
    assert len(got) == len(ordered)
    prev_user, s = None, None
    for event_id, uid, value in ordered:
        s = value if uid != prev_user else (1 - 0.3) * s + 0.3 * value
        prev_user = uid
        r = got[event_id]
        assert r["user_id"] == uid and r["value"] == value, (r, uid, value)
        # floor, not int(): int() truncates toward zero and diverges
        # from the UDF/oracle on negative EWMA values (code-review r6)
        assert r["ewma_micro"] == math.floor(s * 1e6 + 0.5), (uid, r, s)


def test_cogroup_user_totals_merge():
    # The per-bucket merge of udaf_cogroup_pandas, on literal frames.
    import pandas as pd

    from sparkml_spark.operators.udfs import cogroup_user_totals

    cols = ["user_id", "n_purchases", "n_views", "purchase_value", "view_value"]
    views = pd.DataFrame({"user_id": [7, 7, 9], "value": [1.10, 2.25, 0.5]})
    # a bucket with no purchase rows: that side arrives with no columns
    out = cogroup_user_totals(pd.DataFrame(), views).sort_values("user_id")
    assert list(out.columns) == cols
    assert out.values.tolist() == [[7, 0, 2, 0.0, 3.35], [9, 0, 1, 0.0, 0.5]]
    assert out.dtypes.tolist() == ["int64"] * 3 + ["float64"] * 2

    # user 3 buys but never views, user 9 views but never buys
    buys = pd.DataFrame({"user_id": [3, 3, 7], "value": [0.1, 0.2, 5.0]})
    out = cogroup_user_totals(buys, views).sort_values("user_id")
    assert out.values.tolist() == [
        [3, 2, 0, 0.3, 0.0],
        [7, 1, 2, 5.0, 3.35],
        [9, 0, 1, 0.0, 0.5],
    ]
    assert out.dtypes.tolist() == ["int64"] * 3 + ["float64"] * 2


def test_stream_sketch_rollup_close_to_exact(spark):
    import duckdb

    approx = {
        (r["hour_start"], r["event_type"]): r["approx_users"]
        for r in QUERIES["stream_sketch_rollup"](spark, SF_DIR).collect()
    }
    exact = duckdb.sql(
        f"""SELECT date_trunc('hour', ts) h, event_type, COUNT(DISTINCT user_id) n
            FROM read_parquet('{SF_DIR}/events.parquet') GROUP BY 1, 2"""
    ).fetchall()
    assert len(approx) == len(exact)
    for h, et, n in exact:
        a = approx[(h, et)]
        assert abs(a - n) <= max(2, 0.1 * n), (h, et, a, n)


def test_bitmap_distinct_is_exact(spark):
    import duckdb

    got = {
        r["event_type"]: r["n_distinct_users"]
        for r in QUERIES["agg_bitmap_distinct"](spark, SF_DIR).collect()
    }
    exact = dict(
        duckdb.sql(
            f"""SELECT event_type, COUNT(DISTINCT user_id)
                FROM read_parquet('{SF_DIR}/events.parquet') GROUP BY 1"""
        ).fetchall()
    )
    assert got == exact


def test_pagerank_is_probability_vector(spark):
    """Ranks must sum to 1 (stochastic fixpoint) and be all-positive;
    rerunning must give identical values (quantized-term summation)."""
    rows = QUERIES["graph_pagerank"](spark, SF_DIR).collect()
    total = sum(r.pagerank for r in rows)
    assert abs(total - 1.0) < 1e-4, total
    assert all(r.pagerank > 0 for r in rows)
    again = {r.node: r.pagerank for r in QUERIES["graph_pagerank"](spark, SF_DIR).collect()}
    assert {r.node: r.pagerank for r in rows} == again


def test_hierarchy_closure_depth_is_log2(spark):
    """Every node's max depth must equal floor(log2(node)) — the
    ancestor chain of the binary-tree hierarchy reaches root 1."""
    rows = QUERIES["hierarchy_closure"](spark, SF_DIR).collect()
    import math
    by_node = {}
    for r in rows:
        by_node.setdefault(r.node, []).append(r)
    for node, ancs in by_node.items():
        assert max(a.depth for a in ancs) == int(math.log2(node)), node
        assert {a.ancestor for a in ancs if a.depth == int(math.log2(node))} == {1}


def test_malformed_csv_quarantine_counts(spark):
    """PERMISSIVE read must keep all 110 rows, quarantining exactly
    the 10 corrupt ones and aggregating only the clean 100."""
    row = QUERIES["scan_csv_malformed"](spark, SF_DIR).collect()[0]
    assert (row.n_rows, row.n_clean, row.n_quarantined) == (110, 100, 10), row
    assert row.clean_amount_total == sum(i * 10 for i in range(100))


def test_observe_metrics_match_independent_agg(spark):
    """Observation metrics must equal a separately computed aggregate
    (and the observed plan's output is oracle-checked elsewhere)."""
    df = QUERIES["observe_metrics"](spark, SF_DIR)
    rows = df.collect()  # triggers the observation
    obs = df._sparkml_observation.get
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    from pyspark.sql import functions as F
    kept = o.filter(F.col("o_totalprice") > 100000.0)
    expect_rows = kept.count()
    assert obs["rows_kept"] == expect_rows
    assert sum(r.n_orders for r in rows) == expect_rows


def test_ohlc_bar_invariants(spark):
    """low <= open/close <= high, and bar event counts must total the
    table size."""
    rows = QUERIES["ts_downsample_ohlc"](spark, SF_DIR).collect()
    for r in rows:
        assert r.bar_low <= r.bar_open <= r.bar_high, r
        assert r.bar_low <= r.bar_close <= r.bar_high, r
    total = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert sum(r.n_events for r in rows) == total


def test_hash_sample_stable_under_repartition(spark):
    """The md5-threshold sample must select the SAME rows regardless
    of physical partitioning (the property RNG samples lack)."""
    base = {r.o_orderkey for r in QUERIES["sample_hash_deterministic"](spark, SF_DIR).collect()}
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").repartition(13)
    from pyspark.sql import functions as F
    h2 = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2)
    again = {r.o_orderkey for r in o.filter(h2 < "1a").select("o_orderkey").collect()}
    assert base == again


def test_shard_manifest_partitions_all_bytes(spark):
    """Shards must cover every document exactly once and sum to the
    exact corpus byte count; doc spans must not overlap."""
    rows = sorted(
        QUERIES["multimodal_shard_manifest"](spark, SF_DIR).collect(),
        key=lambda r: r.shard_id,
    )
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    from pyspark.sql import functions as F
    agg = d.agg(F.count(F.lit(1)), F.sum("n_chars")).collect()[0]
    assert sum(r.n_docs for r in rows) == agg[0]
    assert sum(r.shard_bytes for r in rows) == agg[1]
    for a, b in zip(rows, rows[1:]):
        assert a.last_doc < b.first_doc  # contiguous, non-overlapping spans


def test_gaps_islands_consistency(spark):
    """Per user: islands * 1 <= active days; longest run <= active
    days; island count can't exceed active days."""
    for r in QUERIES["win_gaps_islands"](spark, SF_DIR).collect():
        assert 1 <= r.n_islands <= r.n_active_days
        assert 1 <= r.longest_run <= r.n_active_days


def test_quantized_topk_approximates_exact(spark):
    """int8 quantization must preserve most of the exact top-k: for each
    query vector, ≥3 of the exact top-5 neighbors appear in the
    quantized top-5 (64-dim unit vectors lose little at 1/127 grid)."""
    exact = {}
    for r in QUERIES["sim_topk_bruteforce"](spark, SF_DIR).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    quant = {}
    for r in QUERIES["sim_quantized_int8"](spark, SF_DIR).collect():
        quant.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert set(exact) == set(quant)
    for qid, ex in exact.items():
        overlap = len(ex & quant[qid])
        assert overlap >= 3, f"query {qid}: quantized recall too low ({overlap}/5)"


def test_freq_items_contains_exact_heavy_hitters(spark):
    """freqItems may over-report (sketch contract) but must never miss
    an item whose exact support exceeds the threshold."""
    from pyspark.sql import functions as F

    from sparkml_spark.registry import QUERIES
    from sparkml_spark.sources.loader import load_table

    from .conftest import SF_DIR

    got = set(QUERIES["stat_freq_items"](spark, SF_DIR).collect()[0][0].split(","))
    e = load_table(spark, SF_DIR, "events")
    total = e.count()
    exact = {
        r.event_type
        for r in e.groupBy("event_type").count().collect()
        if r["count"] > 0.15 * total
    }
    assert exact <= got, f"missed heavy hitters: {exact - got}"


def test_gram_builders_survive_short_docs(spark):
    """Docs shorter than n tokens must yield EMPTY gram arrays, not an
    INVALID_INDEX_OF_ZERO / out-of-bounds crash (ANSI sequence() steps
    DOWN when start > stop — verified live; the oracle's range() yields
    empty, so empty is also the parity-correct answer)."""
    from sparkml_spark.registry import gram_idx

    df = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "two words"), (4, "a b c"), (5, "a b c d e")],
        "doc_id long, text string",
    )
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    got = {
        r["doc_id"]: (r["n2"], r["n3f"], r["n4"])
        for r in df.select(
            "doc_id",
            F.size(F.transform(gram_idx(toks, 2), lambda i: F.element_at(toks, i))).alias("n2"),
            F.size(gram_idx(toks, 4)).alias("n3f"),
            F.size(F.transform(gram_idx(toks, 4), lambda i: F.element_at(toks, i))).alias("n4"),
        ).collect()
    }
    # bigram count = max(size-1, 0); _shingled3's start positions
    # gram_idx(toks, 4) pin 1..size-3 (the jaccard oracle's shape);
    # 4-gram count = max(size-3, 0).
    assert got == {
        1: (0, 0, 0),   # "" splits to [""] -> size 1
        2: (0, 0, 0),
        3: (1, 0, 0),
        4: (2, 0, 0),
        5: (4, 2, 2),
    }, got


def test_corpus_assembly_deterministic_under_partitioning(spark):
    """The r5 corpus-assembly ops' core claim: hash-threshold decisions
    (mix keep-sets, fractional-epoch extra passes) and chunk manifests
    are a pure function of content — identical across reruns and
    under different shuffle partitioning, which RNG sampling is not."""
    ids = (
        "pipeline_token_budget_mix",
        "pipeline_epoch_upsample",
        "pipeline_chunk_overlap",
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = {}
        for n_part in ("7", prev):
            spark.conf.set("spark.sql.shuffle.partitions", n_part)
            for qid in ids:
                rows = sorted(map(tuple, QUERIES[qid](spark, SF_DIR).collect()))
                assert rows, qid
                results.setdefault(qid, []).append(rows)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    for qid, (a, b) in results.items():
        assert a == b, f"{qid} changed under repartitioning"


def test_jaccard_df_cut_bounds_hot_shingle_explosion(spark):
    """Inject the skew VERDICT r4 warned about: one trigram present in
    EVERY doc. Without the df-cut the inverted-index self-join meets
    n*(n-1)/2 pairs on that single shuffle key; with it, docs sharing
    ONLY the hot shingle produce no candidate pair at all, and genuine
    near-dups are still found via their informative shingles."""
    from sparkml_spark.operators.llm_dedup import jaccard_pairs

    n = 120
    hot = "the end of"  # one trigram shared by every doc
    rows = [(i, f"{hot} unique{i} token{i} filler{i} body{i}") for i in range(n)]
    # one genuine near-dup pair: same informative content, one token off
    rows.append((1000, "alpha beta gamma delta epsilon zeta eta theta"))
    rows.append((1001, "alpha beta gamma delta epsilon zeta eta iota"))
    corpus = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = jaccard_pairs(corpus, threshold=0.5).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1000, 1001) in found, pairs
    # No pair among the 120 hot-shingle-only docs: the O(n^2) explosion
    # the cut exists to prevent.
    assert all(a >= 1000 for a, _ in found), sorted(found)[:10]


def test_compaction_preserves_rows_and_bounds_file_count(spark):
    """compact_small_files must conserve every row and collapse
    the 64-shard layout to the 4 range files requested."""
    rows = {r["phase"]: r for r in QUERIES["compact_small_files"](spark, SF_DIR).collect()}
    assert rows["before"]["total_rows"] == rows["after"]["total_rows"]
    assert rows["before"]["n_files"] > rows["after"]["n_files"]
    assert rows["after"]["n_files"] <= 4


def test_artifacts_are_keyed_by_scale(spark):
    """Building compact_small_files at a second scale must not rewrite
    the files a frame built at the first scale reads."""
    sf01 = os.path.join(os.path.dirname(os.path.normpath(SF_DIR)), "sf0.01")
    if not os.path.isdir(sf01) or os.path.normpath(SF_DIR) == sf01:
        pytest.skip("needs a second fixture scale")
    small = QUERIES["compact_small_files"](spark, SF_DIR)
    QUERIES["compact_small_files"](spark, sf01).collect()
    n_docs = load_table(spark, SF_DIR, "documents").count()
    assert sorted(r["total_rows"] for r in small.collect()) == [n_docs, n_docs]


def test_bpe_fertility_bound_zero_violations_across_scales(spark):
    """VERDICT r9 #4: the committed merge table's coverage contract —
    fertility and char-fallback ceilings hold at the SMALL scale the
    table was trained on AND at sf0.1 (x100 the training corpus),
    where OOV drift would surface first. A nonzero violation here
    means the vocabulary no longer fits the data and BPE_MERGES needs
    retraining (scripts/train_bpe.py); every BPE-budgeted pipeline op
    would silently under-count training cost past this point."""
    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.1"):
        rows = QUERIES["quality_bpe_fertility_bound"](spark, sf_dir).collect()
        assert len(rows) == 5, (sf_dir, rows)  # one per lang
        bad = [
            (sf_dir, r["lang"], r["fertility_ppm"], r["char_fallback_ppm"])
            for r in rows
            if r["fert_violation"] or r["fallback_violation"]
        ]
        assert not bad, f"BPE coverage drifted past ceiling: {bad}"


def test_bpe_roundtrip_lossless(spark):
    """r10: concat(BPE tokens) must reproduce every vocab word exactly
    and token counts must sit in [1, len(word)] — the invariant that
    breaks first if the Catalyst fold ever emits a phantom/dropped
    token (ADVICE r9 #1's empty-split hazard class)."""
    row = QUERIES["quality_bpe_roundtrip"](spark, SF_DIR).collect()[0]
    assert row["n_violations"] == 0, row
    assert row["n_words"] > 0 and row["n_subword_units"] > 0, row


def test_interleave_manifest_invariants(spark):
    """r10 VLM packing contract: every context's slot tokens fit the
    512 budget, slots never overlap (offset = running sum within the
    bin), image slots appear exactly on the doc_id%3==0 docs that
    have a paired media row, and a doc's (image, text) pair is ATOMIC
    — same bin, image immediately before its text."""
    rows = QUERIES["multimodal_interleave_manifest"](spark, SF_DIR).collect()
    by_bin: dict = {}
    by_doc: dict = {}
    for r in rows:
        by_bin.setdefault((r["shard"], r["bin_id"]), []).append(r)
        by_doc.setdefault(r["doc_id"], []).append(r)
    for key, slots in by_bin.items():
        assert sum(s["n_tokens"] for s in slots) <= 512, (key, slots)
        slots = sorted(slots, key=lambda s: s["slot_offset"])
        pos = slots[0]["slot_offset"]
        for s in slots:
            assert s["slot_offset"] == pos, (key, s)
            pos += s["n_tokens"]
    for doc_id, slots in by_doc.items():
        mods = {s["modality"] for s in slots}
        if doc_id % 3 != 0:
            assert mods == {"text"}, (doc_id, slots)
        if mods == {"image", "text"}:
            img = next(s for s in slots if s["modality"] == "image")
            txt = next(s for s in slots if s["modality"] == "text")
            assert img["bin_id"] == txt["bin_id"], (doc_id, slots)
            assert txt["slot_offset"] == img["slot_offset"] + img["n_tokens"]


def test_curriculum_order_is_permutation(spark):
    """r10: global_pos must be exactly 0..N-1 with stages contiguous
    and ascending — the property that makes the two-phase cell
    decomposition equal to the oracle's corpus-wide rank window."""
    rows = QUERIES["pipeline_curriculum_order"](spark, SF_DIR).collect()
    pos = sorted(r["global_pos"] for r in rows)
    assert pos == list(range(len(rows)))
    by_pos = sorted(rows, key=lambda r: r["global_pos"])
    stages = [r["stage"] for r in by_pos]
    assert stages == sorted(stages), "stages must be contiguous ascending"


def test_mmr_bound_zero_violations(spark):
    """r10: the relational replay of MMR's greedy invariant must hold
    (this bound caught a zero-floored-negative-sims greedy bug before
    it shipped — keep it in local CI, not just the driver gate)."""
    row = QUERIES["sim_mmr_bound"](spark, SF_DIR).collect()[0]
    assert row["n_violations"] == 0, row


def test_ffd_packing_bound_and_dominance(spark):
    """r10: the FFD bound's four invariants must hold, and FFD must
    actually SAVE bins vs next-fit on the fixture (not merely tie —
    the measured gap is 57 -> 54 at sf0.01; a tie would mean the
    decreasing sort or first-fit scan silently degenerated)."""
    from sparkml_spark.operators.llm_pipeline import (
        _sized_ws,
        pack_first_fit_decreasing,
        pack_next_fit,
    )

    row = QUERIES["pipeline_pack_ffd_bound"](spark, SF_DIR).collect()[0]
    assert row["n_violations"] == 0, row
    s = _sized_ws(spark, SF_DIR)
    n_ffd = pack_first_fit_decreasing(s).select("shard", "bin_id").distinct().count()
    n_nf = pack_next_fit(s).select("shard", "bin_id").distinct().count()
    assert n_ffd < n_nf, (n_ffd, n_nf)


def test_train_bpe_reproduces_committed_merge_table(spark):
    """pipeline_train_bpe trained on the sf0.001 fixture must reproduce
    the committed BPE_MERGES table row-for-row — the committed artifact
    is thereby DERIVABLE in-engine, so every downstream BPE operator
    (fertility/round-trip bounds included) runs against a table the
    engine itself can produce, not an unreproducible fixture."""
    from sparkml_spark.functions.subword import BPE_MERGES, train_bpe_merges

    sc = spark.sparkContext
    pinned_before = {int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()}
    trained = train_bpe_merges(spark, SF_DIR)
    assert [(a, b) for (_, a, b, _) in trained] == BPE_MERGES
    # ranks are 1..N and pair counts strictly positive
    assert [r for (r, *_ ) in trained] == list(range(1, len(BPE_MERGES) + 1))
    assert all(c > 0 for (*_, c) in trained)
    # Storage hygiene (r12): training must leave NO checkpoint blocks
    # pinned — before the superseded-RDD free the trainer leaked one
    # vocabulary-sized RDD per merge (DataFrame.unpersist is a no-op
    # for localCheckpoint storage), an OOM at production merge counts.
    pinned_after = {int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()}
    leaked = pinned_after - pinned_before
    assert not leaked, f"trainer left {len(leaked)} RDDs pinned: {leaked}"


def test_incremental_refresh_rerun_determinism(spark):
    """Replaying the SAME arriving batch must yield byte-identical
    keeps and bin assignments (safe-retry idempotence for the daily
    job): the chain is hash-keyed end to end — digest dedup, salted
    mix keep, doc_id-ordered packing — with no RNG and no
    partition-order dependence."""
    run = lambda: sorted(
        (r["doc_id"], r["lang"], r["shard"], r["n_tokens"], r["bin_id"])
        for r in QUERIES["pipeline_incremental_refresh"](spark, SF_DIR).collect()
    )
    first, second = run(), run()
    assert first and first == second


def test_pii_redact_idempotent(spark):
    """Redaction must be a FIXPOINT: applying the pattern set to
    already-redacted text changes nothing (placeholders are digit-free
    and @-free by design, so no pattern can re-match). A second pass
    that changes anything means redactions cascade."""
    from pyspark.sql import functions as F

    from sparkml_spark.operators.llm_text import _PII_PATTERNS

    once = QUERIES["text_pii_redact"](spark, SF_DIR).select("doc_id", "clean_text")
    twice_col = F.col("clean_text")
    for _, pat, repl in _PII_PATTERNS:
        twice_col = F.regexp_replace(twice_col, pat, repl)
    diff = once.filter(twice_col != F.col("clean_text")).count()
    assert diff == 0


def test_span_corruption_structure(spark):
    """Spans are block-aligned (start % 3 == 0), fixed-length,
    non-overlapping per doc, sentinel ids are dense 0..k-1 per doc in
    start order, and the corpus-wide masked fraction sits near the 15%
    target (10-20% window)."""
    rows = QUERIES["pipeline_span_corruption"](spark, SF_DIR).collect()
    by_doc: dict = {}
    for r in rows:
        assert r["span_len"] == 3 and r["span_start"] % 3 == 0
        by_doc.setdefault(r["doc_id"], []).append(r)
    total_ws = {r["doc_id"]: r["n_ws"] for r in rows}
    for doc, spans in by_doc.items():
        spans.sort(key=lambda r: r["span_start"])
        assert [r["sentinel_id"] for r in spans] == list(range(len(spans)))
        for a, b in zip(spans, spans[1:]):
            assert a["span_start"] + 3 <= b["span_start"]
    masked = 3 * len(rows)
    frac = masked / sum(total_ws.values())
    assert 0.10 <= frac <= 0.20, frac


def test_surprise_filter_bounds(spark):
    """Scores live on the bit-bucket grid's possible range (1..24
    bits/word in milli units), the fixture corpus has zero OOV mass
    (every word appears in the src0 reference slice), and the score
    actually discriminates (min < threshold < max)."""
    from sparkml_spark.operators.llm_text import _SURPRISE_KEEP

    rows = QUERIES["quality_surprise_filter"](spark, SF_DIR).collect()
    scores = [r["surprise_milli"] for r in rows]
    assert all(1000 <= s <= 24000 for s in scores)
    assert sum(r["n_oov"] for r in rows) == 0
    assert min(scores) <= _SURPRISE_KEEP <= max(scores)
    assert {r["keep"] for r in rows} == {0, 1}


def test_lineage_fingerprint_deterministic(spark):
    """Two executions must produce byte-identical stage digests — the
    whole point of a lineage certificate."""
    run = lambda: sorted(
        (r["stage"], r["n_rows"], r["fingerprint"])
        for r in QUERIES["pipeline_lineage_fingerprint"](spark, SF_DIR).collect()
    )
    assert run() == run()


def test_user_streaks_vs_python_bruteforce(spark):
    """Independent third oracle (beyond DuckDB): recompute every
    user's longest consecutive-day streak in plain Python from the
    raw (user, day) pairs and compare."""
    import datetime

    from pyspark.sql import functions as F

    from sparkml_spark.sources.loader import load_table

    e = load_table(spark, SF_DIR, "events")
    pairs = {
        (r["user_id"], r["d"])
        for r in e.select(
            "user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("d")
        )
        .distinct()
        .collect()
    }
    days_by_user: dict = {}
    for u, d in pairs:
        days_by_user.setdefault(u, set()).add(d)
    expect = {}
    for u, days in days_by_user.items():
        best, cur = 1, 1
        ordered = sorted(days)
        for a, b in zip(ordered, ordered[1:]):
            cur = cur + 1 if (b - a) == datetime.timedelta(days=1) else 1
            best = max(best, cur)
        expect[u] = best
    got = {
        r["user_id"]: r["longest_streak_days"]
        for r in QUERIES["win_user_streaks"](spark, SF_DIR).collect()
    }
    assert got == expect


def test_target_encode_shrinkage(spark):
    """The encoding must land BETWEEN the category mean and the global
    mean (that is what shrinkage means), within 1 ppm of integer
    rounding slop, and equal weights: bigger categories move less."""
    rows = QUERIES["ml_target_encode"](spark, SF_DIR).collect()
    for r in rows:
        cat_mean = r["sum_label"] * 1_000_000 // r["n"]
        lo, hi = sorted((cat_mean, r["global_mean_ppm"]))
        assert lo - 1 <= r["enc_ppm"] <= hi + 1, r


def test_keep_decision_matches_components(spark):
    """The composed verdict must equal the AND of the component gates
    recomputed independently, row for row."""
    g = {
        r["doc_id"]: r["keep"]
        for r in QUERIES["quality_gopher_filter"](spark, SF_DIR).collect()
    }
    s = {
        r["doc_id"]: r["keep"]
        for r in QUERIES["quality_surprise_filter"](spark, SF_DIR).collect()
    }
    p = {
        r["doc_id"]: r["n_email"] + r["n_phone"] + r["n_ip"]
        for r in QUERIES["text_pii_redact"](spark, SF_DIR).collect()
    }
    for r in QUERIES["quality_keep_decision"](spark, SF_DIR).collect():
        i = r["doc_id"]
        assert r["gopher_keep"] == g[i] and r["surprise_keep"] == s[i]
        assert r["n_pii"] == p[i]
        expect = 1 if (g[i] == 1 and s[i] == 1 and p[i] == 0) else 0
        assert r["final_keep"] == expect, (i, r)
