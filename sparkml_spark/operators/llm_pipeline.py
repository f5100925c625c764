"""Training-corpus assembly operators beyond scoring/dedup: the last
mile between a filtered document set and what a trainer actually
consumes — a deterministic global shuffle, fixed-budget sequence
packing, and domain-mix rebalancing.

Scale design notes are on each operator; the common thread is that
every step is a declarative plan with engine-independent determinism
(content hashes, exact integer prefix sums) so a 100 TB re-run — or a
partial retry — reproduces byte-identical corpus ordering.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from sparkml_spark.registry import ZERO_VIOLATIONS, md5_chunk16, query
from sparkml_spark.session import cache, checkpoint
from sparkml_spark.sources.loader import load_table

_SEQ_TOKENS = 512  # sequence-pack token budget
_BUCKET = 1000  # coarse doc_id bucket width for two-phase prefix sums


@query(
    "pipeline_global_shuffle",
    section="2.I",
    oracle="""
SELECT doc_id,
       md5(CAST(doc_id AS VARCHAR)) AS shuffle_key,
       lang
FROM documents
""",
)
def pipeline_global_shuffle(spark, sf_dir):
    """Deterministic global shuffle for training order: the sort key is
    a content hash (md5 of the doc id), so the permutation is
    reproducible across runs, engines, and retries — unlike an RNG
    shuffle, which is seed+partitioning dependent.

    Scale: `repartitionByRange(shuffle_key)` + `sortWithinPartitions`
    is the distributed total order — a range exchange (sampled
    boundaries) instead of the single-partition global sort, so 1000
    executors each sort their key range independently and shard N of
    the output is globally ordered after shard N-1. The driver's
    value-hash is order-insensitive; the ordering contract is pinned by
    the RangePartitioning assertion in tests/test_plans.py."""
    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("shuffle_key"),
        "lang",
    )
    return keyed.repartitionByRange("shuffle_key").sortWithinPartitions("shuffle_key")


@query(
    "pipeline_sequence_pack",
    section="2.I",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens
  FROM documents
), ordered AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
  FROM toks
), assigned AS (
  SELECT doc_id, n_tokens,
         CAST((cum_tokens - 1) // {_SEQ_TOKENS} AS BIGINT) AS seq_id
  FROM ordered
)
SELECT seq_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM assigned GROUP BY seq_id
""",
)
def pipeline_sequence_pack(spark, sf_dir):
    """Fixed-budget sequence packing (concat-and-chunk): documents in
    doc_id order are packed into {_SEQ_TOKENS}-token training
    sequences by cumulative token count — the manifest a dataloader
    needs to slice a tokenized corpus into equal-length samples.

    Scale: the global token prefix sum is the same TWO-PHASE form as
    multimodal_shard_manifest — per-bucket totals (small aggregate),
    bucket offsets via a window over the 1000x-smaller bucket table
    (the only single-partition step), within-bucket running sums
    partitioned by bucket. Exact integer arithmetic end to end, so the
    two-phase assignment is bit-identical to the oracle's one-shot
    cumsum. A doc whose tokens straddle a boundary belongs to the
    sequence holding its last token (cum-1 DIV budget) — deterministic
    and declared, matching the oracle."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    bucketed = d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.expr(f"doc_id DIV {_BUCKET}").alias("bucket"),
    )
    w_off = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = (
        bucketed.groupBy("bucket")
        .agg(F.sum("n_tokens").alias("b_tokens"))
        .select(
            "bucket",
            (F.sum("b_tokens").over(w_off) - F.col("b_tokens")).alias("offset"),
        )
    )
    w_in = Window.partitionBy("bucket").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    assigned = (
        bucketed.withColumn("run_in", F.sum("n_tokens").over(w_in))
        .join(F.broadcast(offsets), "bucket")
        .select(
            "doc_id",
            "n_tokens",
            F.expr(f"(offset + run_in - 1) DIV {_SEQ_TOKENS}").alias("seq_id"),
        )
    )
    return assigned.groupBy("seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("seq_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@query(
    "pipeline_domain_mix",
    section="2.I",
    oracle="""
WITH counts AS (
  SELECT lang, COUNT(*) AS cnt,
         SUM(COUNT(*)) OVER () AS total
  FROM documents GROUP BY lang
), thresholds AS (
  -- CASTs force IEEE-double arithmetic to match Spark exactly: DuckDB
  -- would otherwise evaluate 0.2 * total / cnt in DECIMAL/HUGEINT and
  -- the two floors can differ by 1 at integer boundaries (ADVICE r4).
  SELECT lang,
         CAST(floor(least(CAST(1.0 AS DOUBLE),
                          CAST(0.2 AS DOUBLE) * CAST(total AS DOUBLE) / cnt)
                    * 65536) AS INTEGER)
           AS thr
  FROM counts
)
SELECT doc_id, d.lang, source
FROM documents d JOIN thresholds t ON d.lang = t.lang
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER < t.thr
""",
)
def pipeline_domain_mix(spark, sf_dir):
    """Domain-mix rebalancing: downsample each language toward a
    uniform 20% target share with a deterministic content-hash filter
    (keep a doc when its 16-bit md5 prefix falls under the per-lang
    threshold floor(min(1, share*total/cnt)*2^16)) — the standard way
    training mixes are rebalanced without an RNG, so the same docs
    are kept on every re-run and on incremental additions.

    Scale: per-lang counts are one small aggregate (5 rows) whose
    window-total never touches the corpus; thresholds broadcast back;
    the keep-filter is a per-row hash comparison — embarrassingly
    parallel, no data shuffle of the corpus itself."""
    d = load_table(spark, sf_dir, "documents")
    w_tot = Window.partitionBy()
    thresholds = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "lang",
            F.floor(
                F.least(F.lit(1.0), 0.2 * F.sum("cnt").over(w_tot) / F.col("cnt"))
                * 65536
            )
            .cast("int")
            .alias("thr"),
        )
    )
    h16 = md5_chunk16(F.col("doc_id").cast("string"))
    return (
        d.join(F.broadcast(thresholds), "lang")
        .filter(h16 < F.col("thr"))
        .select("doc_id", "lang", "source")
    )


@query(
    "pipeline_decontaminate",
    section="2.I",
    oracle="""
WITH grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, len(string_split_regex(lower(trim(text)), '\\s+')) - 1),
           i -> concat_ws(' ',
                string_split_regex(lower(trim(text)), '\\s+')[i],
                string_split_regex(lower(trim(text)), '\\s+')[i+1],
                string_split_regex(lower(trim(text)), '\\s+')[i+2])))) AS gram
  FROM documents
),
eval_grams AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0
)
SELECT g.doc_id, COUNT(*) AS n_shared_ngrams
FROM grams g JOIN eval_grams e ON g.gram = e.gram
WHERE g.doc_id % 97 <> 0
GROUP BY g.doc_id
""",
)
def pipeline_decontaminate(spark, sf_dir):
    """Eval-set decontamination: flag training documents sharing any
    n-gram (n=3 on the small-vocabulary fixture; production scrubs use
    8-13) with a held-out eval set (every 97th doc) — the standard
    benchmark-leakage scrub run before training.

    Scale: an inverted-index join on the n-gram, never doc x doc. The
    eval side collapses to a distinct-gram set (tiny vs the corpus) and
    broadcasts; the train side explodes to distinct (doc, gram) pairs
    whose shuffle key is the gram — cardinality bounded by corpus token
    count, skew bounded by gram frequency. Counts are exact, so the op
    is ORACLE-tier end to end."""
    d = load_table(spark, sf_dir, "documents")
    # r13 (guide §4/§5): tokens materialized as a real column before
    # the gram lambda touches them — an inlined split() re-evaluates
    # per ELEMENT inside lambda scope (see llm_dedup._shingled3; 13×
    # measured on the identical shape).
    tk = F.col("__toks")
    # Guard docs shorter than n: Spark's sequence(1, size-2) DESCENDS
    # when size < 3 (default step -1), and element_at(toks, 0) then
    # throws INVALID_INDEX_OF_ZERO — whereas the oracle's range(1, n-1)
    # yields empty. Emit an explicitly-empty index array instead
    # (ADVICE r4, medium).
    idx = F.when(
        F.size(tk) >= 3, F.sequence(F.lit(1), F.size(tk) - 2)
    ).otherwise(F.array().cast("array<int>"))
    ngrams = F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ",
                F.element_at(tk, i),
                F.element_at(tk, i + 1),
                F.element_at(tk, i + 2),
            ),
        )
    )
    # explode_OUTER + isnotnull on the generator output, not a plain
    # explode: the inferred size()>0 filter would be pushed to the
    # scan with the whole gram expression re-inlined per element
    # (llm_dedup._shingled3_exploded has the measurement). Exact:
    # grams are concat_ws (never null); gram-less docs contributed no
    # rows before.
    grams = (
        d.select(
            "doc_id", F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("__toks")
        )
        .select("doc_id", F.explode_outer(ngrams).alias("gram"))
        .filter(F.col("gram").isNotNull())
    )
    eval_grams = (
        grams.filter(F.col("doc_id") % 97 == 0).select("gram").distinct()
    )
    return (
        grams.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )


_CHUNK = 64  # tokens per training/RAG chunk
_STRIDE = 48  # chunk stride (16-token overlap)


def token_budget_thresholds(docs, share: float = 0.2):
    """(lang, thr) 16-bit keep thresholds steering every language
    toward `share` of TOTAL tokens, from any (lang, n_tok) frame —
    the ONE definition behind pipeline_token_budget_mix, its BPE twin,
    and the end-to-end corpus chain (round-9 code review #5: the
    formula was triplicated; a drift here must now hit all three).
    Tiny per-lang aggregate -> meant to be broadcast back."""
    w_tot = Window.partitionBy()
    return (
        docs.groupBy("lang")
        .agg(F.sum("n_tok").alias("lang_tok"))
        .select(
            "lang",
            F.floor(
                F.least(
                    F.lit(1.0),
                    share * F.sum("lang_tok").over(w_tot) / F.col("lang_tok"),
                )
                * 65536
            )
            .cast("int")
            .alias("thr"),
        )
    )


@query(
    "pipeline_token_budget_mix",
    section="2.I",
    oracle="""
WITH docs AS (
  SELECT doc_id, lang, source,
         len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tok
  FROM documents
), budgets AS (
  -- CASTs force IEEE-double arithmetic to match Spark (same rationale
  -- as pipeline_domain_mix).
  SELECT lang,
         CAST(floor(least(CAST(1.0 AS DOUBLE),
                          CAST(0.2 AS DOUBLE)
                            * CAST(SUM(SUM(n_tok)) OVER () AS DOUBLE)
                            / SUM(n_tok))
                    * 65536) AS INTEGER) AS thr
  FROM docs GROUP BY lang
)
SELECT d.doc_id, d.lang, d.source, CAST(d.n_tok AS BIGINT) AS n_tok
FROM docs d JOIN budgets b ON d.lang = b.lang
WHERE ('0x' || substr(md5('mix' || CAST(d.doc_id AS VARCHAR)), 1, 4))::INTEGER
      < b.thr
""",
)
def pipeline_token_budget_mix(spark, sf_dir):
    """Domain-mix rebalancing by TOKEN budget: downsample each language
    toward a 20% share of total TOKENS (not documents) with a
    deterministic per-doc content-hash filter — the form production LLM
    mixes actually use, since a domain's cost is its token count and
    doc-count mixing over/under-weights domains with atypical document
    lengths.

    Scale: identical shape to pipeline_domain_mix — one tiny per-lang
    aggregate (token sums; map-side combined), thresholds broadcast
    back, then an embarrassingly-parallel per-row hash compare. The
    doc-level token count is one codegen'd size(split(...)) — no
    shuffle of text, ever. The hash is salted ('mix') so keep-sets of
    different pipeline stages are statistically independent."""
    d = load_table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id",
        "lang",
        "source",
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("n_tok"),
    )
    budgets = token_budget_thresholds(docs)
    h16 = md5_chunk16(F.concat(F.lit("mix"), F.col("doc_id").cast("string")))
    return (
        docs.join(F.broadcast(budgets), "lang")
        .filter(h16 < F.col("thr"))
        .select("doc_id", "lang", "source", F.col("n_tok").cast("bigint").alias("n_tok"))
    )


@query(
    "pipeline_epoch_upsample",
    section="2.I",
    oracle="""
WITH counts AS (
  SELECT lang, COUNT(*) AS cnt, SUM(COUNT(*)) OVER () AS total
  FROM documents GROUP BY lang
), epochs AS (
  -- target epochs per lang in [1, 3]: rarer languages repeat more.
  SELECT lang,
         CAST(floor(greatest(CAST(1.0 AS DOUBLE),
                    least(CAST(3.0 AS DOUBLE),
                          CAST(0.2 AS DOUBLE) * CAST(total AS DOUBLE) / cnt)))
              AS INTEGER) AS floor_e,
         CAST(floor((greatest(CAST(1.0 AS DOUBLE),
                    least(CAST(3.0 AS DOUBLE),
                          CAST(0.2 AS DOUBLE) * CAST(total AS DOUBLE) / cnt))
                    - floor(greatest(CAST(1.0 AS DOUBLE),
                            least(CAST(3.0 AS DOUBLE),
                                  CAST(0.2 AS DOUBLE) * CAST(total AS DOUBLE) / cnt))))
                    * 65536) AS INTEGER) AS frac_thr
  FROM counts
), expanded AS (
  SELECT d.doc_id, d.lang,
         e.floor_e
           + CASE WHEN ('0x' || substr(md5('up' || CAST(d.doc_id AS VARCHAR)), 1, 4))::INTEGER
                       < e.frac_thr
                  THEN 1 ELSE 0 END AS n_copies
  FROM documents d JOIN epochs e ON d.lang = e.lang
)
SELECT doc_id, lang, CAST(unnest(range(1, n_copies + 1)) AS INTEGER) AS epoch_i
FROM expanded
""",
)
def pipeline_epoch_upsample(spark, sf_dir):
    """Deterministic fractional-epoch up-sampling: each language gets a
    target epoch count in [1, 3] (rarer languages repeat more, the
    Llama-style data recipe), where the fractional part selects a
    stable hash-chosen subset for the extra pass — so a rerun, a
    retried partition, or an incremental corpus add repeats EXACTLY the
    same documents, unlike RNG sampling.

    Scale: per-lang doc counts are a 5-row aggregate; epoch params
    broadcast back; the copy expansion is a per-row explode of at most
    ceil(max_epochs) ints — output size is the token budget the trainer
    asked for, and nothing shuffles (the explode is a narrow map).
    Hash salted ('up') to stay independent of the mix filters."""
    d = load_table(spark, sf_dir, "documents")
    w_tot = Window.partitionBy()
    e_raw = F.greatest(
        F.lit(1.0),
        F.least(F.lit(3.0), 0.2 * F.sum("cnt").over(w_tot) / F.col("cnt")),
    )
    epochs = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "lang",
            F.floor(e_raw).cast("int").alias("floor_e"),
            F.floor((e_raw - F.floor(e_raw)) * 65536).cast("int").alias("frac_thr"),
        )
    )
    h16 = md5_chunk16(F.concat(F.lit("up"), F.col("doc_id").cast("string")))
    n_copies = F.col("floor_e") + F.when(h16 < F.col("frac_thr"), 1).otherwise(0)
    return (
        d.join(F.broadcast(epochs), "lang")
        .select(
            "doc_id",
            "lang",
            F.explode(F.sequence(F.lit(1), n_copies)).alias("epoch_i"),
        )
    )


@query(
    "pipeline_chunk_overlap",
    section="2.I",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
  FROM documents
)
SELECT doc_id,
       CAST(s AS INTEGER) AS chunk_start,
       CAST(len(list_slice(t, s, s + {_CHUNK} - 1)) AS INTEGER) AS n_chunk_tokens,
       md5(array_to_string(list_slice(t, s, s + {_CHUNK} - 1), ' ')) AS chunk_md5
FROM toks, unnest(range(1, len(t) + 1, {_STRIDE})) AS u(s)
""",
)
def pipeline_chunk_overlap(spark, sf_dir):
    """Overlapping-window chunking: split each document into 64-token
    chunks on a 48-token stride (16-token
    overlap) — the standard unit-of-work builder for RAG indexing and
    long-document training, with the final short chunk kept. Chunks
    are emitted as (start, length, content-md5) so rows stay narrow;
    the chunk text itself is reproducible from (doc_id, start, len).

    Scale: pure narrow ops — tokenize, an explode bounded by
    len/stride, a slice and a hash per chunk, all codegen'd; no
    shuffle at all (the driver's hash does the only exchange).
    sequence(1, size, stride) is always ascending (size >= 1), so the
    short-doc guard the gram builders need does not apply here."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    with_toks = d.select("doc_id", toks.alias("t"))
    starts = F.explode(F.sequence(F.lit(1), F.size("t"), F.lit(_STRIDE))).alias("s")
    chunk = F.slice(F.col("t"), F.col("s"), F.lit(_CHUNK))
    return (
        with_toks.select("doc_id", "t", starts)
        .select(
            "doc_id",
            F.col("s").cast("int").alias("chunk_start"),
            F.size(chunk).cast("int").alias("n_chunk_tokens"),
            F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
        )
    )


# ---------------------------------------------------------------------------
# Dataset split management: deterministic stratum-reported splits, and
# duplicate-aware split repair (near-dups must not straddle train/test).
# ---------------------------------------------------------------------------

#: Split fractions over the 0..99 hash-bucket space: [0,90) train,
#: [90,95) val, [95,100) test.
_SPLIT_TRAIN, _SPLIT_VAL = 90, 95

_BUCKET_SQL = (
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100"
)


@query(
    "pipeline_dataset_split",
    section="2.I",
    oracle=f"""
WITH assigned AS (
  SELECT lang, n_chars,
         CASE WHEN {_BUCKET_SQL} < {_SPLIT_TRAIN} THEN 'train'
              WHEN {_BUCKET_SQL} < {_SPLIT_VAL} THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM assigned GROUP BY split, lang
""",
)
def pipeline_dataset_split(spark, sf_dir):
    """Deterministic train/val/test assignment with per-stratum
    accounting. The split key is a CONTENT hash of the doc id
    (md5_chunk16 % 100 — the repo's cross-engine hash-parse
    convention), never the engine's builtin hash() or an RNG: the
    assignment must reproduce byte-identically across engines, Spark
    versions, partitionings, and partial re-runs, because a training
    job that re-materializes its corpus must not silently move
    documents between train and test. Mod-100 over a 16-bit chunk
    carries a <=0.06% bucket bias (65536 % 100 != 0) — irrelevant for
    split proportions and stated here so nobody mistakes it for a
    uniformity bug. Output is the per-(split, lang) census a curation
    run reports: doc count and character mass.

    Scale: one scan, a per-row hash, and a partial aggregation to
    |splits|x|langs| rows — no joins, no windows, no data shuffle
    beyond the few-row final agg exchange."""
    d = load_table(spark, sf_dir, "documents")
    bucket = md5_chunk16(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < _SPLIT_TRAIN, "train")
        .when(bucket < _SPLIT_VAL, "val")
        .otherwise("test")
    )
    return (
        d.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


@query(
    "pipeline_split_leakage",
    section="2.I",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text
  FROM documents WHERE doc_id % 10 = 0
),
assigned AS (
  SELECT doc_id,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS content_hash,
         CASE WHEN {_BUCKET_SQL} < {_SPLIT_TRAIN} THEN 'train'
              WHEN {_BUCKET_SQL} < {_SPLIT_VAL} THEN 'val'
              ELSE 'test' END AS split
  FROM corpus
)
SELECT content_hash,
       COUNT(*) AS n_members,
       COUNT(DISTINCT split) AS n_splits_before,
       arg_min(split, doc_id) AS repaired_split
FROM assigned
GROUP BY content_hash
HAVING COUNT(DISTINCT split) > 1
""",
)
def pipeline_split_leakage(spark, sf_dir):
    """Duplicate-aware split repair: after pipeline_dataset_split's
    hash assignment, byte-identical documents that hash to DIFFERENT
    splits are train→test leakage — the model is evaluated on content
    it trained on. This op finds every exact-duplicate group (the
    dedup_exact_hash digest) whose members straddle more than one
    split and repairs it by reassigning the whole group to the
    canonical keeper's split (min doc_id — the same representative
    rule dedup_exact_hash uses, so dedup and split repair agree on the
    keeper). Splitting by CONTENT hash instead would avoid leakage by
    construction but ties split identity to mutable text; production
    pipelines split on the stable id and repair, which is the shape
    here.

    Scale: one scan of the duplicated corpus, then a single partial
    aggregation on the digest — count, count-distinct-over-3-values
    (collected as a bounded set), and min_by all map-side-combine, so
    a billion-copy hot document collapses per map task; no window, no
    join, no second shuffle. The straddle filter is a HAVING on the
    aggregate, so output is bounded by the number of LEAKING groups,
    not documents."""
    from sparkml_spark.operators.llm_dedup import _corpus_with_dups, _norm

    corpus = _corpus_with_dups(spark, sf_dir)
    bucket = md5_chunk16(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < _SPLIT_TRAIN, "train")
        .when(bucket < _SPLIT_VAL, "val")
        .otherwise("test")
    )
    assigned = corpus.select(
        "doc_id", _norm().alias("content_hash"), split.alias("split")
    )
    return (
        assigned.groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.size(F.collect_set("split")).cast("long").alias("n_splits_before"),
            F.min_by("split", "doc_id").alias("repaired_split"),
        )
        .filter(F.col("n_splits_before") > 1)
    )


#: Filter-funnel gates, all INTEGER comparisons so the funnel counts
#: are exact cross-engine (no float ratio ever materializes):
#:   min_length       n_tokens >= 16
#:   alpha_ratio      100 * alpha_chars >= 81 * n_chars    (>= 0.81)
#:   stopword_floor   100 * stop_tokens >= 3 * n_tokens    (>= 0.03)
#:   repetition_cap   25 * max_token_count <= 4 * n_tokens (<= 0.16)
_FUNNEL_MIN_TOKENS = 16
_STOPWORDS = ("a", "the", "of", "to", "and")


@query(
    "pipeline_filter_funnel",
    section="2.I",
    oracle=f"""
WITH t AS (
  SELECT string_split_regex(lower(trim(text)), '\\s+') AS toks,
         length(text) AS nc,
         length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS alpha
  FROM documents
), flags AS (
  SELECT len(toks) >= {_FUNNEL_MIN_TOKENS} AS p1,
         100 * alpha >= 81 * nc AS p2,
         100 * len(list_filter(toks, s -> s IN {str(_STOPWORDS)}))
           >= 3 * len(toks) AS p3,
         25 * list_max(list_transform(list_distinct(toks),
                u -> len(list_filter(toks, x -> x = u))))
           <= 4 * len(toks) AS p4
  FROM t
), agg AS (
  SELECT COUNT(*) AS n0,
         COUNT(*) FILTER (WHERE p1) AS n1,
         COUNT(*) FILTER (WHERE p1 AND p2) AS n2,
         COUNT(*) FILTER (WHERE p1 AND p2 AND p3) AS n3,
         COUNT(*) FILTER (WHERE p1 AND p2 AND p3 AND p4) AS n4
  FROM flags
)
SELECT 0 AS stage_idx, 'input' AS stage, n0 AS survivors,
       CAST(0 AS BIGINT) AS rejected_here FROM agg
UNION ALL SELECT 1, 'min_length', n1, n0 - n1 FROM agg
UNION ALL SELECT 2, 'alpha_ratio', n2, n1 - n2 FROM agg
UNION ALL SELECT 3, 'stopword_floor', n3, n2 - n3 FROM agg
UNION ALL SELECT 4, 'repetition_cap', n4, n3 - n4 FROM agg
""",
)
def pipeline_filter_funnel(spark, sf_dir):
    """Quality-filter funnel with per-stage attrition accounting: the
    four standard cheap gates (length floor, alphabetic ratio,
    stopword floor, top-token repetition cap — the C4/Gopher-style
    rule family) applied in sequence, reporting survivors and
    rejections AT EACH STAGE. The funnel view is what a curation run
    actually needs from its filters — "stage 3 suddenly rejects 40%"
    is the signal that a threshold or an upstream corpus change broke,
    and a single end-to-end keep rate cannot localize it. Gates are
    deliberately integer cross-multiplications (no float ratio is
    ever computed), so the counts are exact in both engines.

    Scale: one scan; every gate — including the top-token count, a
    nested higher-order expression over the (document-bounded) token
    array — is per-row codegen with no explode, and the funnel
    aggregation is five conditional counts that map-side-combine to a
    single row; the 5-row stage table is built driver-free by
    exploding a literal array over that one aggregate row. No joins,
    no windows, no shuffle of document rows."""
    d = load_table(spark, sf_dir, "documents")
    # r13 (guide §4, the _shingled3 lesson): materialize the token
    # array as a real column BEFORE the repetition-cap lambda
    # references it — a split() inlined into a higher-order function's
    # body is re-evaluated per element (here: once per DISTINCT
    # token), making the gate O(L²·split) per document.
    tk = F.col("__toks")
    base = d.select(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("__toks"),
        F.length("text").alias("__nc"),
        F.length(F.regexp_replace(F.lower("text"), "[^a-z]", "")).alias(
            "__alpha"
        ),
    )
    stops = F.size(F.filter(tk, lambda s: s.isin(*_STOPWORDS)))
    maxtok = F.array_max(
        F.transform(
            F.array_distinct(tk),
            lambda u: F.size(F.filter(tk, lambda x: x == u)),
        )
    )
    flags = base.select(
        (F.size(tk) >= _FUNNEL_MIN_TOKENS).alias("p1"),
        (100 * F.col("__alpha") >= 81 * F.col("__nc")).alias("p2"),
        (100 * stops >= 3 * F.size(tk)).alias("p3"),
        (25 * maxtok <= 4 * F.size(tk)).alias("p4"),
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n0"),
        F.count(F.when(F.col("p1"), 1)).alias("n1"),
        F.count(F.when(F.col("p1") & F.col("p2"), 1)).alias("n2"),
        F.count(F.when(F.col("p1") & F.col("p2") & F.col("p3"), 1)).alias("n3"),
        F.count(
            F.when(F.col("p1") & F.col("p2") & F.col("p3") & F.col("p4"), 1)
        ).alias("n4"),
    )

    def row(idx, name, surv, prev):
        return F.struct(
            F.lit(idx).alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.col(surv).alias("survivors"),
            (F.col(prev) - F.col(surv) if prev else F.lit(0).cast("long")).alias(
                "rejected_here"
            ),
        )

    stages = F.array(
        row(0, "input", "n0", None),
        row(1, "min_length", "n1", "n0"),
        row(2, "alpha_ratio", "n2", "n1"),
        row(3, "stopword_floor", "n3", "n2"),
        row(4, "repetition_cap", "n4", "n3"),
    )
    return agg.select(F.explode(stages).alias("s")).select("s.*")


# ---------------------------------------------------------------------------
# Corpus-version monitoring: snapshot diff and distribution drift.
# ---------------------------------------------------------------------------

#: Synthetic "next corpus version" for the snapshot diff, derived
#: deterministically from documents: every 17th doc removed, every
#: 13th surviving doc edited, every 19th doc also republished under a
#: new id. Churn rates chosen so all three change classes are non-empty
#: at every fixture scale.
_SNAP_REMOVED, _SNAP_CHANGED, _SNAP_ADDED = 17, 13, 19
_SNAP_ADD_OFFSET = 2_000_000


@query(
    "pipeline_snapshot_diff",
    section="2.I",
    oracle=f"""
WITH old AS (
  SELECT doc_id, md5(text) AS digest FROM documents
), new AS (
  SELECT doc_id,
         CASE WHEN doc_id % {_SNAP_CHANGED} = 0 THEN md5(text || ' v2')
              ELSE md5(text) END AS digest
  FROM documents WHERE doc_id % {_SNAP_REMOVED} <> 0
  UNION ALL
  SELECT doc_id + {_SNAP_ADD_OFFSET} AS doc_id, md5(text || ' repub') AS digest
  FROM documents WHERE doc_id % {_SNAP_ADDED} = 0
)
SELECT COALESCE(old.doc_id, new.doc_id) AS doc_id,
       CASE WHEN old.doc_id IS NULL THEN 'added'
            WHEN new.doc_id IS NULL THEN 'removed'
            ELSE 'changed' END AS change_type
FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
WHERE old.doc_id IS NULL OR new.doc_id IS NULL OR old.digest <> new.digest
""",
)
def pipeline_snapshot_diff(spark, sf_dir):
    """Corpus-version diff: which documents were added, removed, or
    changed between two snapshots, by content digest. This is the
    front door of every incremental pipeline at 100 TB — recomputing
    dedup/quality/packing over an unchanged 99.9% of the corpus is
    the single largest avoidable cost, and the diff is what scopes the
    incremental work (dedup_incremental consumes exactly the 'added'
    class). Unchanged documents are dropped by the digest comparison,
    so output is bounded by churn, not corpus size.

    Scale: one full outer join on doc_id — unique keys on both sides,
    so no skew by construction; in production both snapshot tables are
    bucketed by doc_id and the join is co-located, shuffle-free. The
    digest is computed per-row at scan time (narrow), so the join
    carries (id, 16-byte digest), never text."""
    d = load_table(spark, sf_dir, "documents")
    old = d.select("doc_id", F.md5("text").alias("digest"))
    new = (
        d.filter(F.col("doc_id") % _SNAP_REMOVED != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % _SNAP_CHANGED == 0,
                F.md5(F.concat("text", F.lit(" v2"))),
            )
            .otherwise(F.md5("text"))
            .alias("digest"),
        )
        .unionByName(
            d.filter(F.col("doc_id") % _SNAP_ADDED == 0).select(
                (F.col("doc_id") + _SNAP_ADD_OFFSET).alias("doc_id"),
                F.md5(F.concat("text", F.lit(" repub"))).alias("digest"),
            )
        )
    )
    j = old.alias("o").join(
        new.alias("n"), F.col("o.doc_id") == F.col("n.doc_id"), "full_outer"
    )
    return j.filter(
        F.col("o.doc_id").isNull()
        | F.col("n.doc_id").isNull()
        | (F.col("o.digest") != F.col("n.digest"))
    ).select(
        F.coalesce(F.col("o.doc_id"), F.col("n.doc_id")).alias("doc_id"),
        F.when(F.col("o.doc_id").isNull(), "added")
        .when(F.col("n.doc_id").isNull(), "removed")
        .otherwise("changed")
        .alias("change_type"),
    )


@query(
    "quality_drift_tvd",
    section="2.I",
    oracle="""
WITH ref AS (
  SELECT lang, n_chars // 50 AS b FROM documents WHERE source = 'src0'
), cand AS (
  SELECT lang, n_chars // 50 AS b FROM documents WHERE source <> 'src0'
), rc AS (SELECT lang, b, COUNT(*) AS n FROM ref GROUP BY lang, b),
   cc AS (SELECT lang, b, COUNT(*) AS n FROM cand GROUP BY lang, b),
   rt AS (SELECT lang AS rlang, CAST(SUM(n) AS BIGINT) AS n_ref FROM rc GROUP BY lang),
   ct AS (SELECT lang AS clang, CAST(SUM(n) AS BIGINT) AS n_cand FROM cc GROUP BY lang),
   j AS (
     SELECT COALESCE(rc.lang, cc.lang) AS lang, COALESCE(rc.b, cc.b) AS b,
            COALESCE(rc.n, 0) AS rn, COALESCE(cc.n, 0) AS cn
     FROM rc FULL OUTER JOIN cc ON rc.lang = cc.lang AND rc.b = cc.b
   )
SELECT lang, n_ref, n_cand,
       CAST(SUM(ABS(rn * 1000000 // n_ref - cn * 1000000 // n_cand)) AS BIGINT)
         AS tvd_ppm_x2
FROM j JOIN rt ON lang = rlang JOIN ct ON lang = clang
GROUP BY lang, n_ref, n_cand
""",
)
def quality_drift_tvd(spark, sf_dir):
    """Distribution-drift monitor between two corpus slices (here:
    source 'src0' as the reference batch vs the rest as the candidate),
    per language stratum: total-variation distance over fixed
    50-char-wide document-length buckets, reported as an EXACT integer
    — each bucket share is floored to parts-per-million (n_i * 1e6 DIV
    n, integer division), and the statistic is the sum of absolute
    ppm differences (2e6 * TVD, up to flooring). TVD instead of the
    usual PSI/KL because those need ln(), whose last-ulp behavior is
    engine- and libm-specific — a drift MONITOR whose own output
    drifts across engines defeats its purpose. Flooring bias is < #
    buckets ppm, far below any alerting threshold. Overflow-safe to
    ~9e12 docs per bucket (n_i * 1e6 < 2^63).

    Scale: two scans (or one with conditional aggs) into a (lang,
    bucket) partial aggregation — bounded key space (#langs x
    #buckets), so the histograms are tiny regardless of corpus size;
    the outer-join + per-lang rollup runs on histogram rows, not
    documents. This is the shape of every production drift check:
    reduce to a fixed-size sketch first, compare second."""
    d = load_table(spark, sf_dir, "documents")
    b = F.expr("n_chars DIV 50").alias("b")
    rc = (
        d.filter(F.col("source") == "src0")
        .select("lang", b)
        .groupBy("lang", "b")
        .agg(F.count(F.lit(1)).alias("rn"))
    )
    cc = (
        d.filter(F.col("source") != "src0")
        .select("lang", b)
        .groupBy("lang", "b")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    rt = rc.groupBy("lang").agg(F.sum("rn").alias("n_ref"))
    ct = cc.groupBy("lang").agg(F.sum("cn").alias("n_cand"))
    j = (
        rc.withColumnRenamed("lang", "rlang")
        .withColumnRenamed("b", "rb")
        .join(
            cc,
            (F.col("rlang") == F.col("lang")) & (F.col("rb") == F.col("b")),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("rlang"), F.col("lang")).alias("lang"),
            F.coalesce("rn", F.lit(0)).alias("rn"),
            F.coalesce("cn", F.lit(0)).alias("cn"),
        )
    )
    ppm = F.expr("abs(rn * 1000000 DIV n_ref - cn * 1000000 DIV n_cand)")
    return (
        j.join(F.broadcast(rt), "lang")
        .join(F.broadcast(ct), "lang")
        .groupBy("lang", "n_ref", "n_cand")
        .agg(F.sum(ppm).alias("tvd_ppm_x2"))
    )


@query(
    "pipeline_incremental_agg",
    section="2.I",
    oracle=f"""
WITH new AS (
  SELECT lang,
         CASE WHEN doc_id % {_SNAP_CHANGED} = 0 THEN length(text || ' v2')
              ELSE length(text) END AS m
  FROM documents WHERE doc_id % {_SNAP_REMOVED} <> 0
  UNION ALL
  SELECT lang, length(text || ' repub') AS m
  FROM documents WHERE doc_id % {_SNAP_ADDED} = 0
)
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(m) AS BIGINT) AS sum_chars
FROM new GROUP BY lang
""",
)
def pipeline_incremental_agg(spark, sf_dir):
    """Incremental aggregate maintenance: the per-lang corpus census
    (doc count, character mass) for the NEW snapshot is produced by
    MERGING the old snapshot's aggregate with deltas computed ONLY
    from the churn classes (added / removed / changed, the
    pipeline_snapshot_diff derivation) — while the ORACLE recomputes
    the same census from the new snapshot outright. Hash equality is
    therefore a proof of the delta algebra itself: for abelian-group
    aggregates (count, sum — anything with a subtraction), a
    materialized aggregate over 100 TB is maintained by scanning the
    0.1% churn, never the unchanged corpus. (Non-subtractable
    aggregates — min/max/distinct — need the full group re-scanned on
    eviction; this op deliberately pins the subtractable family.)

    Scale: the base aggregate stands in for the stored materialized
    view (one pass here, zero passes in production); each delta class
    is a modular filter pushed to the scan, aggregated to |langs|
    rows map-side; the merge is a full outer join of two few-row
    aggregates with a vanished-group filter (n_docs > 0) — no stage
    anywhere is proportional to the unchanged corpus."""
    d = load_table(spark, sf_dir, "documents")
    m = F.length("text")
    base = (
        d.select("lang", m.alias("m"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("m").alias("s"))
    )
    removed = d.filter(F.col("doc_id") % _SNAP_REMOVED == 0).select(
        "lang", F.lit(-1).alias("dn"), (-m).alias("dm")
    )
    changed = d.filter(
        (F.col("doc_id") % _SNAP_REMOVED != 0)
        & (F.col("doc_id") % _SNAP_CHANGED == 0)
    ).select(
        "lang",
        F.lit(0).alias("dn"),
        (F.length(F.concat("text", F.lit(" v2"))) - m).alias("dm"),
    )
    added = d.filter(F.col("doc_id") % _SNAP_ADDED == 0).select(
        "lang",
        F.lit(1).alias("dn"),
        F.length(F.concat("text", F.lit(" repub"))).alias("dm"),
    )
    deltas = (
        removed.unionByName(changed)
        .unionByName(added)
        .groupBy("lang")
        .agg(F.sum("dn").alias("dn"), F.sum("dm").alias("dm"))
    )
    merged = (
        base.join(deltas, "lang", "full_outer")
        .select(
            "lang",
            (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias(
                "n_docs"
            ),
            (F.coalesce("s", F.lit(0)) + F.coalesce("dm", F.lit(0))).alias(
                "sum_chars"
            ),
        )
        .filter(F.col("n_docs") > 0)
    )
    return merged


_STRAT_K = 20


@query(
    "pipeline_stratified_sample_k",
    section="2.I",
    oracle=f"""
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rk
  FROM documents
)
SELECT doc_id, lang, rk FROM ranked WHERE rk <= {_STRAT_K}
""",
)
def pipeline_stratified_sample_k(spark, sf_dir):
    """Exact-k-per-stratum deterministic sample: the {_STRAT_K} docs
    per language whose id-md5 sorts first — "give me exactly k eval
    docs per lang" with no RNG, so the sample is stable across
    engines, re-runs, and corpus REORDERING, and adding new documents
    only evicts existing members if a new hash sorts earlier (bounded
    churn, unlike fraction sampling where every membership is
    re-drawn). Tie-break on doc_id is unreachable for distinct ids
    (md5 collision) but stated so the order is total by construction.

    Scale: rank-over-stratum with an immediate rk <= k filter is the
    one window shape that does NOT hold a full partition per task —
    Spark's WindowGroupLimit pushes the limit below the shuffle, so
    each map task keeps a k-row heap per stratum and only k rows per
    (stratum, task) ever cross the exchange. The plan assertion pins
    WindowGroupLimit present, same as win_topk_per_group."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= _STRAT_K)
    )


@query(
    "pipeline_pack_bins_nextfit",
    section="2.I",
    oracle=f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, doc_id // {_BUCKET} AS shard,
         CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS t
  FROM documents
), ordered AS (
  SELECT doc_id, shard, t,
         row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
  FROM toks
), rec AS (
  SELECT doc_id, shard, t, rn, CAST(0 AS BIGINT) AS bin_id, t AS fill
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.doc_id, o.shard, o.t, o.rn,
         CASE WHEN r.fill + o.t <= {_SEQ_TOKENS} THEN r.bin_id
              ELSE r.bin_id + 1 END,
         CASE WHEN r.fill + o.t <= {_SEQ_TOKENS} THEN r.fill + o.t
              ELSE o.t END
  FROM ordered o JOIN rec r ON o.shard = r.shard AND o.rn = r.rn + 1
)
SELECT doc_id, shard, t AS n_tokens, bin_id FROM rec
""",
)
def pipeline_pack_bins_nextfit(spark, sf_dir):
    """Document-boundary-respecting bin packing: docs in id order are
    packed NEXT-FIT into {_SEQ_TOKENS}-token bins — a doc goes into
    the current bin if it fits, else opens a new one; no document is
    ever split (the "no cross-document attention" packing recipe, the
    complement of pipeline_sequence_pack's concat-and-chunk). An
    oversize doc (> budget) gets a bin of its own. Next-fit is a
    stateful recurrence ((bin, fill) carried row to row), NOT a prefix
    sum — no window frame expresses the reset — so this is the
    §2.L-style escape hatch applied to corpus assembly: the sequential
    unit is the SHARD ({_BUCKET} consecutive doc ids), shards pack
    independently in parallel via applyInPandas, and the oracle
    replays the identical recurrence as a recursive CTE. All-integer
    state ⇒ exact cross-engine hash.

    Scale: sequential work is bounded by shard size (a constant),
    never corpus size; one hash exchange on shard, O(1) state per
    group inside Arrow batches — the same sharded-recurrence shape as
    udaf_ewma_apply_in_pandas, and the deliberate trade vs global
    next-fit is stated: bins never span shards, costing at most one
    underfilled bin per shard (bounded waste, embarrassingly
    parallel)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    sized = d.select(
        "doc_id",
        F.expr(f"doc_id DIV {_BUCKET}").alias("shard"),
        F.size(toks).cast("long").alias("t"),
    )
    return pack_next_fit(sized)


def pack_next_fit(sized, manifest: bool = False):
    """Shared next-fit packer over any (doc_id, shard, t) frame —
    the sharded applyInPandas recurrence of pipeline_pack_bins_nextfit,
    factored out so the BPE-token twin (functions/subword.py) packs by
    subword counts through the identical code path.

    With ``manifest=True`` each row also carries its token OFFSET
    inside its bin and the bin's member count — computed INSIDE the
    recurrence (the loop already tracks the running fill), so the
    dataloader manifest costs zero exchanges beyond the packer's own
    shard exchange."""
    import pandas as pd

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        bins, offs = [], []
        bin_id, fill, first = 0, 0, True
        for t in pdf["t"]:
            if first:
                fill, first = t, False
                offs.append(0)
            elif fill + t <= _SEQ_TOKENS:
                offs.append(fill)
                fill += t
            else:
                bin_id += 1
                offs.append(0)
                fill = t
            bins.append(bin_id)
        out = pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "shard": pdf["shard"],
                "n_tokens": pdf["t"],
                "bin_id": bins,
            }
        )
        if manifest:
            out["offset_in_bin"] = offs
            counts = out["bin_id"].value_counts()
            out["bin_docs"] = out["bin_id"].map(counts)
        return out

    schema = "doc_id long, shard long, n_tokens long, bin_id long"
    if manifest:
        schema += ", offset_in_bin long, bin_docs long"
    return sized.groupBy("shard").applyInPandas(pack, schema)


@query(
    "pipeline_pack_manifest",
    section="2.I",
    oracle=f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, doc_id // {_BUCKET} AS shard,
         CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS t
  FROM documents
), ordered AS (
  SELECT doc_id, shard, t,
         row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
  FROM toks
), rec AS (
  SELECT doc_id, shard, t, rn, CAST(0 AS BIGINT) AS bin_id, t AS fill
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.doc_id, o.shard, o.t, o.rn,
         CASE WHEN r.fill + o.t <= {_SEQ_TOKENS} THEN r.bin_id
              ELSE r.bin_id + 1 END,
         CASE WHEN r.fill + o.t <= {_SEQ_TOKENS} THEN r.fill + o.t
              ELSE o.t END
  FROM ordered o JOIN rec r ON o.shard = r.shard AND o.rn = r.rn + 1
)
SELECT doc_id, shard, bin_id, t AS n_tokens,
       CAST(COALESCE(SUM(t) OVER (
         PARTITION BY shard, bin_id ORDER BY doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         AS offset_in_bin,
       CAST(COUNT(*) OVER (PARTITION BY shard, bin_id) AS BIGINT)
         AS bin_docs
FROM rec
""",
)
def pipeline_pack_manifest(spark, sf_dir):
    """The dataloader contract for no-cross-attention packing: for
    every document of pipeline_pack_bins_nextfit's packing, its TOKEN
    OFFSET inside its bin (exclusive prefix sum over the bin's docs in
    id order) and the bin's member count — exactly what a trainer
    needs to build position ids and attention-mask segment boundaries
    for each packed sequence without re-tokenizing anything.

    Scale: computed inside the packer's sharded recurrence (the loop
    already tracks the running fill), so the manifest costs ZERO
    exchanges beyond the packer's single shard hash exchange — a
    window keyed on (shard, bin_id) would have re-shuffled the
    corpus-sized manifest a second time."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    sized = d.select(
        "doc_id",
        F.expr(f"doc_id DIV {_BUCKET}").alias("shard"),
        F.size(toks).cast("long").alias("t"),
    )
    return pack_next_fit(sized, manifest=True).select(
        "doc_id", "shard", "bin_id", "n_tokens", "offset_in_bin", "bin_docs"
    )


@query(
    "pipeline_curriculum_order",
    section="2.I",
    oracle="""
WITH q AS (
  SELECT doc_id,
         md5(CAST(doc_id AS VARCHAR)) AS h,
         3 - ((CASE WHEN n_chars BETWEEN 100 AND 500 THEN 1 ELSE 0 END)
            + (CASE WHEN len(string_split_regex(lower(trim(text)), '\\s+')) >= 20
                    THEN 1 ELSE 0 END)
            + (CASE WHEN len(regexp_extract_all(text, '[^a-z0-9 ]')) = 0
                    THEN 1 ELSE 0 END)) AS stage
  FROM documents
)
SELECT doc_id,
       CAST(stage AS INTEGER) AS stage,
       CAST(row_number() OVER (ORDER BY stage, h, doc_id) - 1 AS BIGINT)
         AS global_pos
FROM q
""",
)
def pipeline_curriculum_order(spark, sf_dir):
    """Curriculum-learning manifest: every document's GLOBAL training
    position under a quality curriculum — stage 0 (docs passing all
    three text_quality_score rubric checks) streams first, stage 3
    (passing none) last, deterministic content-hash order within a
    stage so re-runs and retries reproduce the identical curriculum.

    Scale shape — the oracle's `row_number() OVER (ORDER BY ...)` is
    exactly the corpus-wide single-partition window this repo BANS, so
    the Spark side computes the same total order as a TWO-PHASE
    prefix sum (the pipeline_sequence_pack pattern, keyed by
    curriculum position instead of token count): docs group into
    (stage, first-2-hex-of-md5) cells — 4 x 256 cells, contiguous
    under the (stage, h) total order because the cell key is a PREFIX
    of the sort key — a cell-count aggregate + tiny cumulative window
    assigns each cell its global offset, and a cell-partitioned
    row_number (hash-balanced, max cell ~ N/1024) adds the position
    within the cell. One corpus exchange on the cell key, one ~1k-row
    broadcast back."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    # translate-based punct count, NOT regexp_extract_all: both count
    # the chars outside [a-z0-9 ] (0 mismatches verified across
    # fixtures), but the regex runs row-at-a-time java.util.regex at
    # ~24 s per 500k docs while the char-map translate measures
    # 0.57 s — a 41x single-expression win that took this op's x100
    # stress ratio from 71.9 (near-linear!) into the scan-bound band.
    n_punct = F.length(
        F.translate(F.col("text"), "abcdefghijklmnopqrstuvwxyz0123456789 ", "")
    )
    score = (
        F.when(F.col("n_chars").between(100, 500), 1).otherwise(0)
        + F.when(F.size(toks) >= 20, 1).otherwise(0)
        + F.when(n_punct == 0, 1).otherwise(0)
    )
    staged = d.select(
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
        (F.lit(3) - score).cast("int").alias("stage"),
    ).withColumn("cell", F.substring("h", 1, 2))
    w_off = Window.orderBy("stage", "cell").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = (
        staged.groupBy("stage", "cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "stage",
            "cell",
            (F.sum("n").over(w_off) - F.col("n")).alias("cell_off"),
        )
    )
    w_in = Window.partitionBy("stage", "cell").orderBy("h", "doc_id")
    return (
        staged.withColumn("rn", F.row_number().over(w_in))
        .join(F.broadcast(offsets), ["stage", "cell"])
        .select(
            "doc_id",
            "stage",
            (F.col("cell_off") + F.col("rn") - 1).cast("long").alias("global_pos"),
        )
    )


def pack_first_fit_decreasing(sized):
    """First-fit-decreasing packer over a (doc_id, shard, t) frame —
    the classic 11/9·OPT+1 bin-packing heuristic, run per shard like
    pack_next_fit: docs sort by (t DESC, doc_id) and each goes into
    the FIRST open bin with room, else opens a new bin. Sequential
    by nature (bin state mutates per item), so it lives in the same
    sharded applyInPandas seam as the next-fit recurrence; the open-
    bin scan is over the shard's own bins only."""
    import pandas as pd

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["t", "doc_id"], ascending=[False, True]
        ).reset_index(drop=True)
        fills: list[int] = []
        bins = []
        for t in pdf["t"]:
            for b, fill in enumerate(fills):
                if fill + t <= _SEQ_TOKENS:
                    fills[b] = fill + t
                    bins.append(b)
                    break
            else:
                fills.append(t)
                bins.append(len(fills) - 1)
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "shard": pdf["shard"],
                "n_tokens": pdf["t"],
                "bin_id": bins,
            }
        )

    return sized.groupBy("shard").applyInPandas(
        pack, "doc_id long, shard long, n_tokens long, bin_id long"
    )


def _sized_ws(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    return d.select(
        "doc_id",
        F.expr(f"doc_id DIV {_BUCKET}").alias("shard"),
        F.size(toks).cast("long").alias("t"),
    )


@query("pipeline_pack_bins_ffd", section="2.I")
def pipeline_pack_bins_ffd(spark, sf_dir):
    """First-fit-decreasing packing of the corpus into {_SEQ_TOKENS}-
    token training bins — the efficiency upgrade over next-fit when
    bins may close early: FFD places large docs first and back-fills
    gaps, guaranteeing <= 11/9·OPT + 1 bins [Johnson 1973] where
    next-fit only guarantees 2·OPT. Fewer bins = fewer padded tokens
    = directly less compute per epoch — measured on the fixtures:
    533 vs next-fit's 566 bins at sf0.1 (5.8% fewer sequences) with
    the ceil(tokens/512) lower bound at 529, i.e. FFD lands within
    0.76% of unattainable-optimal. (FFD beating next-fit is typical
    but NOT guaranteed — FFD anomalies exist; see the ffd_bound
    docstring.) ROWS tier (first-fit's open-bin state machine is not
    SQL-expressible); every structural property — including the
    sound 11/9 Johnson bound against the hash-green next-fit packer
    — is pinned by pipeline_pack_ffd_bound.

    Scale: same single shard exchange as pack_next_fit; the
    sequential fit scan is bounded by the shard's own bin count."""
    return pack_first_fit_decreasing(_sized_ws(spark, sf_dir))


@query("pipeline_pack_ffd_bound", section="2.I", oracle=ZERO_VIOLATIONS)
def pipeline_pack_ffd_bound(spark, sf_dir):
    """ORACLE pin for pipeline_pack_bins_ffd, all in exact integers:
      (a) every sized doc appears EXACTLY once with its own size;
      (b) no bin's token total exceeds {_SEQ_TOKENS};
      (c) per shard, n_ffd <= (11*n_nf + 9) DIV 9 — the SOUND form
          of Johnson's guarantee: FFD <= 11/9*OPT + 6/9 [Johnson
          1973/Dosa 2007] and OPT <= n_nf because next-fit is itself
          a feasible packing, so FFD <= 11/9*n_nf + 1. The naive
          'FFD <= NF' dominance is NOT a theorem — FFD anomalies
          exist (budget 512, arrival order 256,256,205,153,153,205,
          153,153: next-fit closes 3 bins, FFD opens 4) — so the
          naive check could flag legitimately ordered data; the
          anomaly instance is pinned in tests/test_properties.py;
      (d) per shard, FFD's bin count >= ceil(total_tokens / budget)
          (the information-theoretic lower bound — beating it means
          an overflowing or dropped bin, not brilliance)."""
    sized = _sized_ws(spark, sf_dir)
    ffd = pack_first_fit_decreasing(sized)

    v_once = (
        ffd.join(sized, ["doc_id", "shard"], "full_outer")
        .agg(
            F.sum(
                F.when(
                    F.col("n_tokens").isNull()
                    | F.col("t").isNull()
                    | (F.col("n_tokens") != F.col("t")),
                    1,
                ).otherwise(0)
            ).alias("v_once")
        )
    )
    v_fit = (
        ffd.groupBy("shard", "bin_id")
        .agg(F.sum("n_tokens").alias("fill"))
        .agg(
            F.sum(F.when(F.col("fill") > _SEQ_TOKENS, 1).otherwise(0)).alias(
                "v_fit"
            )
        )
    )
    ffd_bins = ffd.groupBy("shard").agg(
        F.count_distinct("bin_id").alias("n_ffd"),
        F.sum("n_tokens").alias("tok"),
    )
    nf_bins = (
        pack_next_fit(sized)
        .groupBy("shard")
        .agg(F.count_distinct("bin_id").alias("n_nf"))
    )
    v_dom = (
        ffd_bins.join(nf_bins, "shard")
        .agg(
            F.sum(
                F.when(
                    F.col("n_ffd")
                    > F.expr("(11 * n_nf + 9) DIV 9"),
                    1,
                )
                .when(
                    F.col("n_ffd")
                    < F.ceil(F.col("tok") / F.lit(_SEQ_TOKENS)),
                    1,
                )
                .otherwise(0)
            ).alias("v_dom")
        )
    )
    return (
        v_once.crossJoin(v_fit)
        .crossJoin(v_dom)
        .select(
            (F.col("v_once") + F.col("v_fit") + F.col("v_dom"))
            .cast("bigint")
            .alias("n_violations")
        )
    )


@query(
    "quality_drift_chi2",
    section="2.I",
    oracle="""
WITH ref AS (
  SELECT lang, n_chars // 50 AS b FROM documents WHERE source = 'src0'
), cand AS (
  SELECT lang, n_chars // 50 AS b FROM documents WHERE source <> 'src0'
), rc AS (SELECT lang, b, COUNT(*) AS n FROM ref GROUP BY lang, b),
   cc AS (SELECT lang, b, COUNT(*) AS n FROM cand GROUP BY lang, b),
   rt AS (SELECT lang AS rlang, CAST(SUM(n) AS BIGINT) AS n_ref FROM rc GROUP BY lang),
   ct AS (SELECT lang AS clang, CAST(SUM(n) AS BIGINT) AS n_cand FROM cc GROUP BY lang),
   j AS (
     SELECT COALESCE(rc.lang, cc.lang) AS lang, COALESCE(rc.b, cc.b) AS b,
            COALESCE(rc.n, 0) AS rn, COALESCE(cc.n, 0) AS cn
     FROM rc FULL OUTER JOIN cc ON rc.lang = cc.lang AND rc.b = cc.b
   ),
   pp AS (
     SELECT lang, n_ref, n_cand, rn, cn,
            rn * 1000000 // n_ref AS q_ppm,
            cn * 1000000 // n_cand AS p_ppm
     FROM j JOIN rt ON lang = rlang JOIN ct ON lang = clang
   )
SELECT lang, n_ref, n_cand,
       CAST(SUM(CASE WHEN q_ppm > 0
                     THEN (p_ppm - q_ppm) * (p_ppm - q_ppm) // q_ppm
                     ELSE 0 END) AS BIGINT) AS chi2_ppm,
       CAST(SUM(CASE WHEN rn = 0 AND cn > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel_buckets,
       CAST(SUM(CASE WHEN rn > 0 AND q_ppm = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_subppm_buckets
FROM pp GROUP BY lang, n_ref, n_cand
""",
)
def quality_drift_chi2(spark, sf_dir):
    """Pearson-style chi-square drift statistic per language — the
    second standard drift monitor next to quality_drift_tvd (TVD is
    L1 and treats all buckets equally; chi-square up-weights
    divergence in RARE reference buckets, which is where quality
    regressions hide). Same doc-length histogram (50-char buckets,
    reference = src0 vs candidate = the rest).

    Exactness discipline: the textbook sum((o-e)^2/e) squares raw
    counts (overflows int64 at corpus scale and floats are
    engine-ambiguous), so the statistic is computed on integer PPM
    PROPORTIONS: chi2_ppm = sum over ref-supported buckets of
    (p_ppm - q_ppm)^2 DIV q_ppm — diff^2 <= 1e12 fits int64 at ANY
    corpus size, every op is integer, both engines bit-identical.
    Buckets unseen in the reference (q=0, chi-square undefined) are
    excluded from the sum and REPORTED as n_novel_buckets — a
    nonzero there is its own drift alarm (new length regime).
    Buckets PRESENT in the reference but whose proportion rounds to
    0 ppm (rn > 0 yet rn*1e6 DIV n_ref = 0 — any bucket rarer than
    one-in-a-million, routine when n_ref > 1e6 per language at
    corpus scale) would divide by zero: Spark DIV yields NULL
    (silently dropped from SUM) while DuckDB // errors, so the term
    is gated on q_ppm > 0 in BOTH engines and those buckets are
    counted as n_subppm_buckets — visible, never silently skipped.

    Scale: two map-side-combinable histograms + a bucket-keyed full
    outer join of ~|langs x buckets| rows; the corpus is never
    shuffled."""
    d = load_table(spark, sf_dir, "documents")
    b = F.expr("n_chars DIV 50").alias("b")
    rc = (
        d.filter(F.col("source") == "src0")
        .select("lang", b)
        .groupBy("lang", "b")
        .agg(F.count(F.lit(1)).alias("rn"))
    )
    cc = (
        d.filter(F.col("source") != "src0")
        .select("lang", b)
        .groupBy("lang", "b")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    rt = rc.groupBy(F.col("lang").alias("rlang")).agg(
        F.sum("rn").cast("long").alias("n_ref")
    )
    ct = cc.groupBy(F.col("lang").alias("clang")).agg(
        F.sum("cn").cast("long").alias("n_cand")
    )
    j = (
        rc.join(cc, ["lang", "b"], "full_outer")
        .select(
            "lang",
            "b",
            F.coalesce("rn", F.lit(0)).alias("rn"),
            F.coalesce("cn", F.lit(0)).alias("cn"),
        )
        .join(F.broadcast(rt), F.col("lang") == F.col("rlang"))
        .join(F.broadcast(ct), F.col("lang") == F.col("clang"))
    )
    q_ppm = F.expr("rn * 1000000 DIV n_ref")
    p_ppm = F.expr("cn * 1000000 DIV n_cand")
    pp = j.select(
        "lang", "n_ref", "n_cand", "rn", "cn",
        q_ppm.alias("q_ppm"), p_ppm.alias("p_ppm"),
    )
    return pp.groupBy("lang", "n_ref", "n_cand").agg(
        F.sum(
            F.when(
                F.col("q_ppm") > 0,
                F.expr("(p_ppm - q_ppm) * (p_ppm - q_ppm) DIV q_ppm"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("chi2_ppm"),
        F.sum(F.when((F.col("rn") == 0) & (F.col("cn") > 0), 1).otherwise(0))
        .cast("long")
        .alias("n_novel_buckets"),
        F.sum(F.when((F.col("rn") > 0) & (F.col("q_ppm") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n_subppm_buckets"),
    )


# ---------------------------------------------------------------------------
# pipeline_span_corruption (round 11) — T5-style masking manifest
# ---------------------------------------------------------------------------

_SPAN_LEN = 3
_SPAN_RATE16 = 9830  # ~15% of 65536 — the T5 default corruption rate


@query(
    "pipeline_span_corruption",
    section="2.I",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS n_ws
  FROM documents
), blocks AS (
  SELECT doc_id, n_ws, unnest(range(0, n_ws // {_SPAN_LEN})) AS b FROM toks
), sel AS (
  SELECT doc_id, n_ws, b
  FROM blocks
  WHERE ('0x' || substr(md5('span' || CAST(doc_id AS VARCHAR) || ':'
          || CAST(b AS VARCHAR)), 1, 4))::INTEGER < {_SPAN_RATE16}
)
SELECT doc_id, n_ws,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY b) - 1 AS BIGINT)
         AS sentinel_id,
       CAST(b * {_SPAN_LEN} AS BIGINT) AS span_start,
       CAST({_SPAN_LEN} AS BIGINT) AS span_len
FROM sel
""",
)
def pipeline_span_corruption(spark, sf_dir):
    """Span-corruption manifest for T5/UL2-style denoising pretraining:
    for every document, select ~15% of its tokens as fixed-length mask
    spans and emit one row per span — (sentinel ordinal, start, len) —
    the exact structure a dataloader needs to build the corrupted
    input / target pair (sentinel tokens replace each span in the
    input; targets are sentinel + original span).

    Determinism discipline: spans are BLOCK-ALIGNED — positions
    partition into {_SPAN_LEN}-token blocks and a block masks iff
    md5_chunk16('span'||doc_id||':'||block) < {_SPAN_RATE16}/65536
    (measured 15.02% of tokens at sf0.001). Block alignment makes
    non-overlap TRUE BY CONSTRUCTION (no sequential greedy state, so
    the whole manifest is relational and engine-exact), reproducible
    across retries, and O(1) decidable per block — the practical
    trade production pipelines make against i.i.d. span starts.
    Sentinel ids are per-doc ordinals (row_number over the doc's own
    selected blocks — a PARTITIONED window, never corpus-wide).

    Scale: explode is n_tok/{_SPAN_LEN} rows per doc (strictly less
    than the tokenize explode every BPE op already pays), the hash
    filter is map-side, and the one shuffle is the doc_id window
    partition."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    blocks = (
        d.select(
            "doc_id",
            F.size(toks).cast("long").alias("n_ws"),
        )
        # guard BEFORE the explode: Spark's sequence(0, -1) DESCENDS
        # ([0, -1]) instead of returning empty like DuckDB's range —
        # a sub-{_SPAN_LEN}-token doc must yield no blocks, not two
        # phantom ones (the fixture has no such docs; real data will)
        .filter(F.col("n_ws") >= _SPAN_LEN)
        .select(
            "doc_id",
            "n_ws",
            F.explode(
                F.sequence(F.lit(0), F.expr(f"n_ws DIV {_SPAN_LEN} - 1"))
            ).alias("b"),
        )
    )
    h16 = md5_chunk16(
        F.concat(F.lit("span"), F.col("doc_id").cast("string"), F.lit(":"), F.col("b").cast("string"))
    )
    w = Window.partitionBy("doc_id").orderBy("b")
    return (
        blocks.filter(h16 < _SPAN_RATE16)
        .select(
            "doc_id",
            "n_ws",
            (F.row_number().over(w) - 1).cast("long").alias("sentinel_id"),
            (F.col("b") * _SPAN_LEN).cast("long").alias("span_start"),
            F.lit(_SPAN_LEN).cast("long").alias("span_len"),
        )
    )


# ---------------------------------------------------------------------------
# pipeline_right_to_forget (round 11) — deletion propagation accounting
# ---------------------------------------------------------------------------

@query(
    "pipeline_right_to_forget",
    section="2.I",
    oracle="""
WITH forget AS (
  SELECT doc_id FROM documents WHERE doc_id % 97 = 0
), before_t AS (
  SELECT lang, source, COUNT(*) AS docs_before,
         CAST(SUM(len(string_split_regex(lower(trim(text)), '\\s+'))) AS BIGINT)
           AS toks_before
  FROM documents GROUP BY lang, source
), after_t AS (
  SELECT lang, source, COUNT(*) AS docs_after,
         CAST(SUM(len(string_split_regex(lower(trim(text)), '\\s+'))) AS BIGINT)
           AS toks_after
  FROM documents d
  WHERE NOT EXISTS (SELECT 1 FROM forget f WHERE f.doc_id = d.doc_id)
  GROUP BY lang, source
)
SELECT b.lang, b.source,
       CAST(b.docs_before AS BIGINT) AS docs_before,
       CAST(COALESCE(a.docs_after, 0) AS BIGINT) AS docs_after,
       CAST(b.docs_before - COALESCE(a.docs_after, 0) AS BIGINT) AS docs_removed,
       CAST(b.toks_before - COALESCE(a.toks_after, 0) AS BIGINT) AS tokens_removed
FROM before_t b LEFT JOIN after_t a
  ON a.lang = b.lang AND a.source = b.source
""",
)
def pipeline_right_to_forget(spark, sf_dir):
    """Deletion-request propagation with the audit trail a compliance
    team actually signs off on (GDPR/CCPA right-to-erasure over a
    training corpus): given a forget-set of document ids (fixture:
    every 97th doc), anti-join it out of the corpus and report, per
    (lang, source) cell, documents and tokens before/after/removed —
    the evidence that the deletion REACHED every slice, not just the
    primary store.

    Scale: the forget-set is request-sized → broadcast anti join (the
    only touch on the corpus); both censuses are map-side-combinable
    aggs over the same scan. At 100 TB the after-census normally
    rides the rewrite job that physically drops the rows — same
    plan, different sink."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).cast("long")
    forget = d.filter(F.col("doc_id") % 97 == 0).select("doc_id")
    before = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("docs_before"),
        F.sum(toks).alias("toks_before"),
    )
    after = (
        d.join(F.broadcast(forget), "doc_id", "left_anti")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("docs_after"),
            F.sum(toks).alias("toks_after"),
        )
    )
    return before.join(after, ["lang", "source"], "left").select(
        "lang",
        "source",
        F.col("docs_before").cast("long").alias("docs_before"),
        F.coalesce(F.col("docs_after"), F.lit(0)).cast("long").alias("docs_after"),
        (F.col("docs_before") - F.coalesce(F.col("docs_after"), F.lit(0)))
        .cast("long")
        .alias("docs_removed"),
        (F.col("toks_before") - F.coalesce(F.col("toks_after"), F.lit(0)))
        .cast("long")
        .alias("tokens_removed"),
    )


# ---------------------------------------------------------------------------
# pipeline_lineage_fingerprint (round 11) — reproducibility certificate
# ---------------------------------------------------------------------------

@query(
    "pipeline_lineage_fingerprint",
    section="2.I",
    oracle=f"""
WITH hashed AS (
  SELECT doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h
  FROM documents
), keeps AS (
  SELECT MIN(doc_id) AS doc_id FROM hashed GROUP BY h
), mixed AS (
  SELECT doc_id FROM keeps
  WHERE ('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER
        < 49152
), stage AS (
  SELECT 'dedup_keeps' AS stage, COUNT(*) AS n_rows,
         md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
           AS fingerprint
  FROM keeps
  UNION ALL
  SELECT 'mix_keeps' AS stage, COUNT(*) AS n_rows,
         md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
           AS fingerprint
  FROM mixed
)
SELECT stage, CAST(n_rows AS BIGINT) AS n_rows, fingerprint
FROM stage
""",
)
def pipeline_lineage_fingerprint(spark, sf_dir):
    """A reproducibility CERTIFICATE for the corpus pipeline: each
    stage's keep-set is reduced to one (stage, row-count, md5 of the
    ordered id list) row — the fingerprint two independent runs (or
    two engines) must agree on for the lineage to be trusted. The
    fixture chain: exact-dedup keeps → deterministic 75% mix keeps.
    Any reordering, dropped id, or nondeterministic keep flips the
    digest — this is the hash a production run writes next to its
    output manifest so a retrained model can name exactly which
    corpus it saw.

    Exactness: the per-stage digest is md5 over the doc_id list in
    ASCENDING ORDER (explicit ORDER BY inside the string agg on both
    engines); ids are integers, so formatting is engine-identical.

    Scale: each fingerprint is one sort of an id PROJECTION (longs,
    not rows) + a streaming md5 — at 100 TB you shard the digest
    (md5 per id-range, then md5 of the digests) to avoid the single
    reducer; the fixture-scale single digest keeps the oracle
    simple and the semantics identical."""
    from sparkml_spark.operators.llm_dedup import _norm

    d = load_table(spark, sf_dir, "documents")
    keeps = (
        d.select(_norm().alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    h16 = md5_chunk16(F.concat(F.lit("mix"), F.col("doc_id").cast("string")))
    mixed = keeps.filter(h16 < 49152)

    def fingerprint(df, name):
        return df.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.md5(
                F.concat_ws(
                    ",",
                    # sort the LONGS, then stringify — a string sort
                    # would put "10" before "9" and flip the digest
                    F.transform(
                        F.array_sort(F.collect_list("doc_id")),
                        lambda x: x.cast("string"),
                    ),
                )
            ).alias("fingerprint"),
        )

    return fingerprint(keeps, "dedup_keeps").unionByName(
        fingerprint(mixed, "mix_keeps")
    )


# ---------------------------------------------------------------------------
# pipeline_mix_temperature (round 11) — temperature-based language sampling
# ---------------------------------------------------------------------------

@query(
    "pipeline_mix_temperature",
    section="2.I",
    oracle="""
WITH lt AS (
  SELECT lang, doc_id,
         CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS t
  FROM documents
), agg AS (
  SELECT lang, SUM(t) AS n_l, COUNT(*) AS n_docs FROM lt GROUP BY lang
), mn AS (SELECT MIN(n_l) AS n_min FROM agg),
thr AS (
  SELECT lang, n_l, n_docs,
         CAST(floor(65536 * (sqrt(CAST(n_min AS DOUBLE))
                             / sqrt(CAST(n_l AS DOUBLE)))) AS INTEGER) AS thr16
  FROM agg CROSS JOIN mn
), kept AS (
  SELECT l.lang, l.t
  FROM lt l JOIN thr ON thr.lang = l.lang
  WHERE ('0x' || substr(md5('temp' || CAST(l.doc_id AS VARCHAR)), 1, 4))::INTEGER
        < thr.thr16
)
SELECT t.lang,
       CAST(t.n_docs AS BIGINT) AS n_docs,
       CAST(t.n_l AS BIGINT) AS n_tokens,
       t.thr16,
       CAST(COUNT(k.t) AS BIGINT) AS kept_docs,
       CAST(COALESCE(SUM(k.t), 0) AS BIGINT) AS kept_tokens
FROM thr t LEFT JOIN kept k ON k.lang = t.lang
GROUP BY t.lang, t.n_docs, t.n_l, t.thr16
""",
)
def pipeline_mix_temperature(spark, sf_dir):
    """Temperature-based multilingual sampling [mBERT/XLM-R/mT5
    lineage]: sample each language at rate ∝ n_l^(α−1) so the KEPT
    token mass follows n_l^α — up-weighting low-resource languages
    without exploding them. α is fixed at 0.5 (square-root
    smoothing), deliberately: n^(α−1) for general α needs pow(), a
    transcendental whose last-ulp differs across libm builds, while
    IEEE-754 REQUIRES sqrt (and division) to be exactly rounded — so
    rate_l = sqrt(n_min)/sqrt(n_l) is bit-identical on both engines,
    and the 16-bit keep threshold floor(65536·rate) inherits that
    exactness. Keeps use the standard salted-hash filter ('temp'
    salt), so the sample is deterministic and independent of the
    other mixes. Output: per-lang census, threshold, and kept
    docs/tokens — kept_tokens ≈ sqrt(n_min·n_l), the α=0.5 profile.

    Scale: a 5-row language census broadcast back onto the corpus —
    the token_budget_mix shape; one scan, no corpus shuffle."""
    d = load_table(spark, sf_dir, "documents")
    t = F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).cast("long")
    lt = d.select("lang", "doc_id", t.alias("t"))
    agg = lt.groupBy("lang").agg(
        F.sum("t").alias("n_l"), F.count(F.lit(1)).alias("n_docs")
    )
    mn = agg.agg(F.min("n_l").alias("n_min"))
    thr = agg.crossJoin(F.broadcast(mn)).select(
        "lang",
        "n_l",
        "n_docs",
        F.floor(
            65536
            * (
                F.sqrt(F.col("n_min").cast("double"))
                / F.sqrt(F.col("n_l").cast("double"))
            )
        )
        .cast("int")
        .alias("thr16"),
    )
    h16 = md5_chunk16(F.concat(F.lit("temp"), F.col("doc_id").cast("string")))
    kept = (
        lt.join(F.broadcast(thr.select("lang", "thr16")), "lang")
        .filter(h16 < F.col("thr16"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("kept_docs"),
            F.sum("t").alias("kept_tokens"),
        )
    )
    return thr.join(kept, "lang", "left").select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_l").alias("n_tokens"),
        "thr16",
        F.coalesce(F.col("kept_docs"), F.lit(0)).cast("long").alias("kept_docs"),
        F.coalesce(F.col("kept_tokens"), F.lit(0)).cast("long").alias("kept_tokens"),
    )


# ---------------------------------------------------------------------------
# pipeline_dsir_select (round 11) — importance-resampling data selection
# ---------------------------------------------------------------------------

_DSIR_B = 1024  # hashed-feature buckets (DSIR's "hashed n-gram" space)


@query(
    "pipeline_dsir_select",
    section="2.I",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents
), bt AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(tok), 1, 4))::BIGINT % {_DSIR_B} AS b
  FROM toks
), tgt AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM bt WHERE lang = 'en' GROUP BY b
), raw AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM bt GROUP BY b
), tot AS (
  SELECT (SELECT SUM(ct) FROM tgt) AS nt, (SELECT SUM(cr) FROM raw) AS nr
), w AS (
  SELECT raw.b,
         round(ln((CAST(COALESCE(tgt.ct, 0) + 1 AS DOUBLE)
                   * CAST(tot.nr + {_DSIR_B} AS DOUBLE))
                  / (CAST(tot.nt + {_DSIR_B} AS DOUBLE)
                     * CAST(raw.cr + 1 AS DOUBLE))), 9) AS lw
  FROM raw CROSS JOIN tot LEFT JOIN tgt ON tgt.b = raw.b
), scored AS (
  SELECT bt.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         round(CAST(SUM(CAST(w.lw AS DECIMAL(30,9))) AS DOUBLE), 6) AS dsir_score
  FROM bt JOIN w ON w.b = bt.b
  GROUP BY bt.doc_id
)
SELECT doc_id, n_tokens, dsir_score FROM scored
ORDER BY dsir_score DESC, doc_id ASC
LIMIT 100
""",
)
def pipeline_dsir_select(spark, sf_dir):
    """Data Selection via Importance Resampling [DSIR, Xie et al.
    2023, arXiv:2302.03169]: score every raw document by its
    log-likelihood ratio under hashed-unigram models of a TARGET
    domain (here lang='en') vs the RAW corpus, then keep the top-k.
    Features are md5-hashed token buckets (B=1024) with add-one
    smoothing, exactly the paper's hashed n-gram estimator at n=1.

    Float parity: the ln argument is assembled as one
    (exact-int-product as double) division — each product stays under
    2^53 at fixture scales, so both engines hand ln the identical
    double; each per-token weight is then quantized at 9dp and
    decimal-summed (order-independent), the family pattern from
    text_tfidf_sql. At 100 TB the counts would be pre-scaled before
    the product (documented, same contract as lsum's overflow note).

    Scale: the corpus is tokenized ONCE (the genuinely heavy map); the
    bucket-weight table is B=1024 rows — broadcast onto the token
    stream, partial-agg per doc, and the top-100 is a
    TakeOrderedAndProject. Three shuffles: the token stream's
    partial bucket counts by `b`, the B-row bucket table to one
    partition for the corpus-total window, and the per-doc partial
    scores by doc_id."""
    d = load_table(spark, sf_dir, "documents")
    bt = d.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    ).select(
        "doc_id",
        "lang",
        (md5_chunk16(F.col("tok")) % _DSIR_B).alias("b"),
    )
    # r13 (guide §1.2/§2.4): the exploded+hashed token stream was
    # re-derived FIVE times (tgt, raw, both sums inside tot, scored) —
    # five full tokenization passes over the corpus. Checkpoint it
    # once, and fold tgt/raw into ONE grouped pass (ct as a
    # conditional count: a bucket with no 'en' tokens gets ct=0,
    # exactly the old coalesce(ct, 0) on the left join).
    bt = checkpoint(bt)
    g = bt.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("cr"),
        F.count(F.when(F.col("lang") == "en", 1)).cast("long").alias("ct"),
    )
    # Corpus totals as a window over the B-row table, not a second
    # aggregate of g joined back: that plan holds two
    # `Exchange hashpartitioning(b)` differing by an inferred
    # isnotnull(b), so AQE reuses neither and both tokenize the corpus.
    w_tot = Window.partitionBy()
    nt = F.sum("ct").over(w_tot)
    nr = F.sum("cr").over(w_tot)
    w = g.select(
        "b",
        F.round(
            F.log(
                ((F.col("ct") + 1).cast("double") * (nr + _DSIR_B).cast("double"))
                / ((nt + _DSIR_B).cast("double") * (F.col("cr") + 1).cast("double"))
            ),
            9,
        ).alias("lw"),
    )
    scored = (
        bt.join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(
                F.sum(F.col("lw").cast("decimal(30,9)")).cast("double"), 6
            ).alias("dsir_score"),
        )
    )
    return scored.orderBy(
        F.col("dsir_score").desc(), F.col("doc_id").asc()
    ).limit(100)


# ---------------------------------------------------------------------------
# pipeline_chat_sft_format (round 11) — instruction-tuning example
# construction: chat-template rendering with token accounting.
# ---------------------------------------------------------------------------

@query(
    "pipeline_chat_sft_format",
    section="2.I",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
), ok AS (
  SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 12
), r AS (
  SELECT doc_id, n,
         '<|user|>' || chr(10) || array_to_string(toks[1:8], ' ')
         || '<|end|>' || chr(10) || '<|assistant|>' || chr(10)
         || array_to_string(toks[9:n], ' ') || '<|end|>' AS rendered
  FROM ok
)
SELECT doc_id,
       CAST(8 AS BIGINT) AS n_prompt_tokens,
       CAST(n - 8 AS BIGINT) AS n_response_tokens,
       CAST(n + 4 AS BIGINT) AS n_tokens_with_template,
       CAST(length(rendered) AS BIGINT) AS n_rendered_chars,
       substr(md5(rendered), 1, 16) AS fingerprint
FROM r
""",
)
def pipeline_chat_sft_format(spark, sf_dir):
    """Instruction-tuning (SFT) example construction: split each
    document into a prompt (first 8 tokens) and response (the rest),
    render the ChatML-style template
    ``<|user|>\\n{prompt}<|end|>\\n<|assistant|>\\n{response}<|end|>``,
    and account for the 4 special tokens the template adds — the
    numbers a packing stage needs (template overhead is part of the
    sequence budget, a classic silent off-by-N in SFT pipelines).
    Docs with fewer than 12 tokens are dropped (min-response rule).
    The rendered string itself is pinned by an md5 fingerprint, so the
    oracle proves byte-identical rendering, not just matching counts.

    Scale: zero-shuffle — one narrow projection per document; the
    template literal is a constant, the split/slice/join chain is
    whole-stage-codegen string work."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    t = d.select("doc_id", toks.alias("toks"), F.size(toks).alias("n")).filter(
        F.col("n") >= 12
    )
    rendered = F.concat(
        F.lit("<|user|>\n"),
        F.array_join(F.slice("toks", 1, 8), " "),
        F.lit("<|end|>\n<|assistant|>\n"),
        F.array_join(F.expr("slice(toks, 9, n - 8)"), " "),
        F.lit("<|end|>"),
    )
    return t.select(
        "doc_id",
        F.lit(8).cast("long").alias("n_prompt_tokens"),
        (F.col("n") - 8).cast("long").alias("n_response_tokens"),
        (F.col("n") + 4).cast("long").alias("n_tokens_with_template"),
        F.length(rendered).cast("long").alias("n_rendered_chars"),
        F.substring(F.md5(rendered), 1, 16).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# pipeline_preference_pairs (round 11) — RLHF preference-pair assembly
# ---------------------------------------------------------------------------

@query(
    "pipeline_preference_pairs",
    section="2.I",
    oracle="""
WITH scored AS (
  SELECT lang, source, doc_id,
         CAST(len(list_distinct(string_split_regex(lower(trim(text)), '\\s+')))
              AS BIGINT) AS score
  FROM documents
), ranked AS (
  SELECT lang, source, doc_id, score,
         ROW_NUMBER() OVER (PARTITION BY lang, source
                            ORDER BY score DESC, doc_id ASC) AS rbest,
         ROW_NUMBER() OVER (PARTITION BY lang, source
                            ORDER BY score ASC, doc_id ASC) AS rworst
  FROM scored
), best AS (SELECT lang, source, doc_id AS chosen_id, score AS chosen_score
            FROM ranked WHERE rbest = 1),
worst AS (SELECT lang, source, doc_id AS rejected_id, score AS rejected_score
          FROM ranked WHERE rworst = 1)
SELECT b.lang, b.source, b.chosen_id, w.rejected_id,
       b.chosen_score, w.rejected_score,
       b.chosen_score - w.rejected_score AS margin,
       substr(md5(CAST(b.chosen_id AS VARCHAR) || ':'
                  || CAST(w.rejected_id AS VARCHAR)), 1, 16) AS pair_fingerprint
FROM best b JOIN worst w ON w.lang = b.lang AND w.source = b.source
WHERE b.chosen_id != w.rejected_id AND b.chosen_score > w.rejected_score
""",
)
def pipeline_preference_pairs(spark, sf_dir):
    """RLHF preference-pair assembly: within each (lang, source)
    stratum pair the highest-scoring document (chosen) with the
    lowest (rejected), where the score is the distinct-token count —
    an integer, so ranking is exact; ties break to the smaller doc_id
    on BOTH ranks (fully deterministic argmax/argmin). Degenerate
    pairs are dropped: same doc on both sides, or zero margin (a DPO
    pair with no preference signal is noise). Each pair carries an
    md5 fingerprint of (chosen:rejected) — the dedup key downstream
    preference-data mixers join on.

    Scale: one narrow scan computes scores (no shuffle), then TWO
    rank windows over strata — partitioned by (lang, source), i.e.
    bounded groups, never a corpus-wide window; output is one row per
    stratum."""
    d = load_table(spark, sf_dir, "documents")
    score = F.size(
        F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    ).cast("long")
    scored = d.select("lang", "source", "doc_id", score.alias("score"))
    wbest = Window.partitionBy("lang", "source").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    wworst = Window.partitionBy("lang", "source").orderBy(
        F.col("score").asc(), F.col("doc_id").asc()
    )
    ranked = scored.select(
        "lang",
        "source",
        "doc_id",
        "score",
        F.row_number().over(wbest).alias("rbest"),
        F.row_number().over(wworst).alias("rworst"),
    )
    best = ranked.filter(F.col("rbest") == 1).select(
        "lang",
        "source",
        F.col("doc_id").alias("chosen_id"),
        F.col("score").alias("chosen_score"),
    )
    worst = ranked.filter(F.col("rworst") == 1).select(
        "lang",
        "source",
        F.col("doc_id").alias("rejected_id"),
        F.col("score").alias("rejected_score"),
    )
    return (
        best.join(worst, ["lang", "source"])
        .filter(
            (F.col("chosen_id") != F.col("rejected_id"))
            & (F.col("chosen_score") > F.col("rejected_score"))
        )
        .select(
            "lang",
            "source",
            "chosen_id",
            "rejected_id",
            "chosen_score",
            "rejected_score",
            (F.col("chosen_score") - F.col("rejected_score")).alias("margin"),
            F.substring(
                F.md5(
                    F.concat(
                        F.col("chosen_id").cast("string"),
                        F.lit(":"),
                        F.col("rejected_id").cast("string"),
                    )
                ),
                1,
                16,
            ).alias("pair_fingerprint"),
        )
    )


# ---------------------------------------------------------------------------
# pipeline_privacy_kanon (round 11) — k-anonymity audit
# ---------------------------------------------------------------------------

@query(
    "pipeline_privacy_kanon",
    section="2.I",
    oracle="""
WITH qi AS (
  SELECT lang, source, n_chars // 100 AS len_band, doc_id FROM documents
), cls AS (
  SELECT lang, source, len_band, CAST(COUNT(*) AS BIGINT) AS class_size
  FROM qi GROUP BY lang, source, len_band
)
SELECT lang, source, CAST(len_band AS BIGINT) AS len_band, class_size,
       class_size < 5 AS violates_k5,
       CASE WHEN class_size < 5 THEN class_size ELSE 0 END AS n_at_risk
FROM cls
""",
)
def pipeline_privacy_kanon(spark, sf_dir):
    """k-anonymity audit over the quasi-identifier tuple (lang,
    source, length band) [Sweeney 2002]: every equivalence class with
    fewer than k=5 members is a re-identification risk — the report a
    privacy review demands BEFORE a corpus ships, and the counts a
    suppression/generalization pass consumes (pairs with
    pipeline_right_to_forget, which erases; this op finds what WOULD
    need erasing). Exact integer class sizes; the length band is the
    generalization (integer floor-division, no float boundary).

    Scale: one scan, one partial aggregation onto the quasi-identifier
    grid — k-anonymity of a trillion docs is a map-side histogram."""
    d = load_table(spark, sf_dir, "documents")
    cls = (
        d.select(
            "lang",
            "source",
            F.expr("n_chars DIV 100").alias("len_band"),
        )
        .groupBy("lang", "source", "len_band")
        .agg(F.count(F.lit(1)).cast("long").alias("class_size"))
    )
    return cls.select(
        "lang",
        "source",
        F.col("len_band").cast("long").alias("len_band"),
        "class_size",
        (F.col("class_size") < 5).alias("violates_k5"),
        F.when(F.col("class_size") < 5, F.col("class_size"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_at_risk"),
    )


# ---------------------------------------------------------------------------
# pipeline_consistent_hash_ring (round 11) — shard assignment + the
# rebalancing argument, exactly.
# ---------------------------------------------------------------------------

def _ring_sql(n_shards: int, vnodes: int = 8) -> str:
    """Ring points for n_shards × vnodes as a DuckDB CTE body:
    pos = md5 16-bit of 'ring:shard:v'; the combined key
    (pos·32 + shard)·16 + v is collision-free (shard < 32, v < 16)
    so min() over it is a deterministic clockwise-next choice even
    when two vnodes land on the same 16-bit position."""
    return f"""
  SELECT s.s AS shard, v.v AS v,
         ('0x' || substr(md5('ring:' || CAST(s.s AS VARCHAR) || ':'
                          || CAST(v.v AS VARCHAR)), 1, 4))::BIGINT AS pos
  FROM (SELECT unnest(range({n_shards})) AS s) s
  CROSS JOIN (SELECT unnest(range({vnodes})) AS v) v
"""


@query(
    "pipeline_consistent_hash_ring",
    section="2.I",
    oracle=f"""
WITH ring16 AS ({_ring_sql(16)}),
ring17 AS ({_ring_sql(17)}),
docs AS (
  SELECT doc_id,
         ('0x' || substr(md5('doc:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
           AS p
  FROM documents
), own16 AS (
  SELECT d.doc_id,
         CAST((COALESCE(MIN(CASE WHEN r.pos >= d.p
                                 THEN (r.pos * 32 + r.shard) * 16 + r.v END),
                        MIN((r.pos * 32 + r.shard) * 16 + r.v))
               // 16) % 32 AS BIGINT) AS shard
  FROM docs d CROSS JOIN ring16 r GROUP BY d.doc_id, d.p
), own17 AS (
  SELECT d.doc_id,
         CAST((COALESCE(MIN(CASE WHEN r.pos >= d.p
                                 THEN (r.pos * 32 + r.shard) * 16 + r.v END),
                        MIN((r.pos * 32 + r.shard) * 16 + r.v))
               // 16) % 32 AS BIGINT) AS shard
  FROM docs d CROSS JOIN ring17 r GROUP BY d.doc_id, d.p
)
SELECT a.shard,
       CAST(COUNT(*) AS BIGINT) AS n_at_16,
       CAST(SUM(CASE WHEN b.shard = a.shard THEN 1 ELSE 0 END) AS BIGINT)
         AS n_stayed_at_17,
       CAST(SUM(CASE WHEN b.shard != a.shard THEN 1 ELSE 0 END) AS BIGINT)
         AS n_moved_at_17
FROM own16 a JOIN own17 b ON b.doc_id = a.doc_id
GROUP BY a.shard
""",
)
def pipeline_consistent_hash_ring(spark, sf_dir):
    """Consistent-hash ring shard assignment [Karger et al. 1997]
    with the REBALANCING argument measured exactly: documents hash
    onto a 2^16 ring, each of 16 shards owns 8 virtual nodes, a doc
    belongs to the clockwise-next vnode (deterministic wraparound and
    a collision-free (pos, shard, v) combined key for ties). The op
    assigns under 16 AND 17 shards and reports, per shard, how many
    docs stay vs move — consistent hashing's whole point is that ONLY
    ~1/(S+1) of docs move on scale-out where mod-hashing moves ~all;
    the hash-pinned stay/move census IS that claim, measured. This is
    the shard-management primitive under every distributed index in
    the engine (the IVF inverted file, the MinHash band index, the
    pack-shard manifests).

    Scale: the ring is 128/136 rows broadcast; assignment is one
    conditional-min aggregation per doc over the broadcast ring —
    one scan, no shuffle of the corpus."""
    # r13 (guide §2.4 "remove shuffles outright"): the ring is 128/136
    # CONSTANT points — md5 of literal 'ring:s:v' strings — so both
    # assignments fold into ONE per-row array expression over a
    # constant-folded literal array. The previous shape paid two
    # corpus×ring crossJoin explosions (128×/136× row inflation), two
    # corpus-wide doc_id groupBys and a doc_id self-join; now the only
    # shuffle left is the final 16-row shard rollup. The clockwise-min
    # algebra is unchanged: combined = (pos·32+shard)·16+v sorts
    # primarily by pos (shard·16+v ≤ 511 < 512), so
    # min(combined | pos ≥ p) ≡ min(filter(ring, c ≥ p·512)) exactly.
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        md5_chunk16(F.concat(F.lit("doc:"), F.col("doc_id").cast("string"))).alias(
            "p"
        ),
    )

    def owner(n_shards):
        # Built as ONE F.expr string: composing the 128/136 constant
        # elements from per-element Column objects costs ~8 py4j
        # round-trips each (measured 8.7 s of pure Python plan
        # construction); one SQL parse is milliseconds. The element
        # formula mirrors md5_chunk16's convention exactly
        # (CONV(SUBSTRING(MD5(x),1,4),16,10) cast BIGINT).
        arr = (
            "array("
            + ",".join(
                f"(CAST(CONV(SUBSTRING(MD5('ring:{s}:{v}'),1,4),16,10)"
                f" AS BIGINT) * 32 + {s}) * 16 + {v}"
                for s in range(n_shards)
                for v in range(8)
            )
            + ")"
        )
        return F.expr(
            f"CAST((COALESCE(ARRAY_MIN(FILTER({arr}, x -> x >= p * 512)),"
            f" ARRAY_MIN({arr})) DIV 16) % 32 AS BIGINT)"
        )

    both = d.select(
        owner(16).alias("shard16"), owner(17).alias("shard17")
    )
    return (
        both.groupBy(F.col("shard16").alias("shard"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_at_16"),
            F.sum(F.when(F.col("shard17") == F.col("shard16"), 1).otherwise(0))
            .cast("long")
            .alias("n_stayed_at_17"),
            F.sum(F.when(F.col("shard17") != F.col("shard16"), 1).otherwise(0))
            .cast("long")
            .alias("n_moved_at_17"),
        )
    )


# ---------------------------------------------------------------------------
# pipeline_budget_waterfill (round 11) — capped fair-share allocation
# ---------------------------------------------------------------------------

_WF_BUDGET = 100_000


def _wf_round_sql(r: int) -> str:
    """One unrolled water-filling round: among still-uncapped
    languages split the remaining budget equally (integer DIV, the
    remainder stays in the pool); any language whose availability is
    below its share becomes CAPPED at its availability and leaves the
    pool. alloc/capped carry forward."""
    p = r - 1
    return f""",
wf{r} AS (
  SELECT lang, cap,
         CASE WHEN capped{p} = 1 THEN alloc{p}
              WHEN cap <= pool{p} // nu{p} THEN cap
              ELSE pool{p} // nu{p} END AS alloc{r},
         CASE WHEN capped{p} = 1 THEN 1
              WHEN cap <= pool{p} // nu{p} THEN 1 ELSE 0 END AS capped{r}
  FROM wf{p}
), agg{r} AS (
  SELECT CAST({_WF_BUDGET} - SUM(CASE WHEN capped{r} = 1 THEN alloc{r} ELSE 0 END)
              AS BIGINT) AS pool,
         CAST(SUM(1 - capped{r}) AS BIGINT) AS nu
  FROM wf{r}
), wfx{r} AS (
  SELECT w.lang, w.cap, w.alloc{r}, w.capped{r},
         a.pool AS pool{r}, GREATEST(a.nu, 1) AS nu{r}
  FROM wf{r} w CROSS JOIN agg{r} a
)"""


@query(
    "pipeline_budget_waterfill",
    section="2.I",
    oracle=(
        f"""
WITH caps AS (
  SELECT lang,
         CAST(SUM(len(string_split_regex(lower(trim(text)), '\\s+'))) AS BIGINT)
           AS cap
  FROM documents GROUP BY lang
), wfx0 AS (
  SELECT lang, cap, CAST(0 AS BIGINT) AS alloc0, CAST(0 AS BIGINT) AS capped0,
         CAST({_WF_BUDGET} AS BIGINT) AS pool0,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM caps) AS nu0
  FROM caps
)"""
        + "".join(
            _wf_round_sql(r).replace(f"FROM wf{r-1}\n", f"FROM wfx{r-1}\n")
            for r in range(1, 6)
        )
        + """
SELECT lang, cap,
       CASE WHEN capped5 = 1 THEN alloc5 ELSE pool5 // nu5 END AS allocated,
       capped5 = 1 AND alloc5 = cap AS at_capacity
FROM wfx5
"""
    ),
)
def pipeline_budget_waterfill(spark, sf_dir):
    """Water-filling token-budget allocation with availability caps —
    the allocator pipeline_token_budget_mix's proportional split
    cannot express: give every language an EQUAL share of the budget,
    except languages with less data than their share get everything
    they have and their unused share flows back to the pool
    (max-min fairness, the classic progressive-filling algorithm).
    Five unrolled rounds (≥ the language count, so the fixpoint is
    reached by construction); all arithmetic is integer (DIV shares,
    remainders stay pooled), so the allocation is exact cross-engine.
    Output: per language, the allocation and whether it hit capacity.

    Scale: the census is one corpus scan (token_budget_mix shape);
    the rounds run on the 5-row language table — driver-free,
    pure-relational iteration on a parameter-sized state."""
    d = load_table(spark, sf_dir, "documents")
    caps = (
        d.select(
            "lang",
            F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("t"),
        )
        .groupBy("lang")
        .agg(F.sum("t").cast("long").alias("cap"))
    )
    n0 = caps.agg(F.count(F.lit(1)).cast("long").alias("nu"))
    state = caps.crossJoin(F.broadcast(n0)).select(
        "lang",
        "cap",
        F.lit(0).cast("long").alias("alloc"),
        F.lit(0).cast("long").alias("capped"),
        F.lit(_WF_BUDGET).cast("long").alias("pool"),
        F.col("nu"),
    )
    for _ in range(5):
        share = F.expr("pool DIV nu")
        stepped = state.select(
            "lang",
            "cap",
            F.when(F.col("capped") == 1, F.col("alloc"))
            .when(F.col("cap") <= share, F.col("cap"))
            .otherwise(share)
            .alias("alloc"),
            F.when(F.col("capped") == 1, 1)
            .when(F.col("cap") <= share, 1)
            .otherwise(0)
            .alias("capped"),
        )
        agg = stepped.agg(
            (
                F.lit(_WF_BUDGET)
                - F.sum(F.when(F.col("capped") == 1, F.col("alloc")).otherwise(0))
            )
            .cast("long")
            .alias("pool"),
            F.greatest(F.sum(1 - F.col("capped")), F.lit(1))
            .cast("long")
            .alias("nu"),
        )
        state = stepped.crossJoin(F.broadcast(agg))
    return state.select(
        "lang",
        "cap",
        F.when(F.col("capped") == 1, F.col("alloc"))
        .otherwise(F.expr("pool DIV nu"))
        .cast("long")
        .alias("allocated"),
        ((F.col("capped") == 1) & (F.col("alloc") == F.col("cap"))).alias(
            "at_capacity"
        ),
    )


# ---------------------------------------------------------------------------
# pipeline_release_gate (round 11) — the pre-ship governance manifest
# ---------------------------------------------------------------------------

@query(
    "pipeline_release_gate",
    section="2.I",
    oracle="""
WITH norm AS (
  SELECT doc_id, lang, source, n_chars,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h,
         CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS toks
  FROM documents
), kanon AS (
  SELECT CAST(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END) AS BIGINT)
           AS at_risk
  FROM (SELECT lang, source, n_chars // 100 AS band,
               CAST(COUNT(*) AS BIGINT) AS class_size
        FROM norm GROUP BY lang, source, n_chars // 100)
)
SELECT 'corpus' AS artifact, 'n_docs' AS metric,
       CAST(COUNT(*) AS BIGINT) AS value FROM norm
UNION ALL
SELECT 'dedup', 'n_unique_normalized',
       CAST(COUNT(DISTINCT h) AS BIGINT) FROM norm
UNION ALL
SELECT 'budget', 'total_ws_tokens', CAST(SUM(toks) AS BIGINT) FROM norm
UNION ALL
SELECT 'privacy', 'n_kanon5_at_risk', at_risk FROM kanon
UNION ALL
SELECT 'integrity', 'checksum_sum',
       CAST(SUM(CAST(('0x' || substr(h, 1, 15))::BIGINT AS HUGEINT))
            % 9007199254740881 AS BIGINT) FROM norm
""",
)
def pipeline_release_gate(spark, sf_dir):
    """The corpus RELEASE GATE — one manifest a data-governance
    review signs off before a training corpus ships, composing the
    engine's own audit primitives into five hash-pinned numbers:
    corpus size, distinct normalized content (the dedup_exact_hash
    lens), total whitespace-token budget, k=5-anonymity at-risk count
    (the pipeline_privacy_kanon lens over the same quasi-identifiers),
    and the modular content checksum (the fn_table_checksum fold over
    the dedup-normalized digests — the number the RECEIVING system
    recomputes to prove the transfer). Long format (artifact, metric,
    value) so downstream gates diff releases row-wise.

    Scale: ONE scan computes the normalized digest and token count
    per doc; every manifest number is a partial-aggregating fold or
    a quasi-identifier histogram over that single projection."""
    d = load_table(spark, sf_dir, "documents")
    norm = cache(
        d.select(
            "lang",
            "source",
            "n_chars",
            F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))).alias("h"),
            F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
            .cast("long")
            .alias("toks"),
        )
    )
    n_docs = norm.agg(F.count(F.lit(1)).cast("long").alias("value")).select(
        F.lit("corpus").alias("artifact"), F.lit("n_docs").alias("metric"), "value"
    )
    n_uniq = norm.agg(F.countDistinct("h").cast("long").alias("value")).select(
        F.lit("dedup").alias("artifact"),
        F.lit("n_unique_normalized").alias("metric"),
        "value",
    )
    budget = norm.agg(F.sum("toks").cast("long").alias("value")).select(
        F.lit("budget").alias("artifact"),
        F.lit("total_ws_tokens").alias("metric"),
        "value",
    )
    kanon = (
        norm.groupBy("lang", "source", F.expr("n_chars DIV 100").alias("band"))
        .agg(F.count(F.lit(1)).alias("class_size"))
        .agg(
            F.sum(
                F.when(F.col("class_size") < 5, F.col("class_size")).otherwise(0)
            )
            .cast("long")
            .alias("value")
        )
        .select(
            F.lit("privacy").alias("artifact"),
            F.lit("n_kanon5_at_risk").alias("metric"),
            "value",
        )
    )
    hv = F.conv(F.substring("h", 1, 15), 16, 10).cast("long")
    checksum = norm.select(hv.alias("hv")).agg(
        (F.sum(F.col("hv").cast("decimal(38,0)")) % F.lit(9007199254740881))
        .cast("long")
        .alias("value")
    ).select(
        F.lit("integrity").alias("artifact"),
        F.lit("checksum_sum").alias("metric"),
        "value",
    )
    return n_docs.unionByName(n_uniq).unionByName(budget).unionByName(
        kanon
    ).unionByName(checksum)
