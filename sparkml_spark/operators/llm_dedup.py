"""§2.I Deduplication operators (SURVEY.md) — exact, MinHash-LSH,
SimHash, n-gram Jaccard, embedding-cosine.

The fixture corpus has NO duplicates (FIXTURES.md), so every dedup
query first manufactures a deterministic duplicate population inside
the query (union of a keyed subset, optionally perturbed) — the oracle
does the same — and then the operator finds exactly that population.

Scale design notes:
- exact dedup: hash-groupBy on a 16-byte digest — one narrow shuffle.
- candidate generation for near-dup is ALWAYS blocked (LSH bands /
  SimHash bands / shared-shingle inverted index), never all-pairs; the
  brute-force forms here exist as oracle-checkable semantics pins and
  carry the documented cutoff.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from sparkml_spark.operators.llm_text import _gram_idx
from sparkml_spark.registry import ZERO_VIOLATIONS, md5_chunk16, query
from sparkml_spark.session import cache, checkpoint
from sparkml_spark.sources.loader import load_table

#: Offset that turns a copied doc_id into a synthetic duplicate's id.
_DUP_OFFSET = 1_000_000

def _norm():
    return F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
_NORM_SQL = "md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))"

# Corpus-with-duplicates (every 10th doc copied under a new id).
_CORPUS_SQL = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_DUP_OFFSET} AS doc_id, text
  FROM documents WHERE doc_id % 10 = 0
"""


def _corpus_with_dups(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = (
        d.filter(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + _DUP_OFFSET).alias("doc_id"), "text")
    )
    return d.unionByName(dups)


@query(
    "dedup_exact_hash",
    section="2.I",
    oracle=f"""
WITH corpus AS ({_CORPUS_SQL}),
hashed AS (
  SELECT doc_id, {_NORM_SQL} AS content_hash,
         row_number() OVER (PARTITION BY {_NORM_SQL} ORDER BY doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY {_NORM_SQL}) AS n_copies
  FROM corpus
)
SELECT doc_id, content_hash, n_copies FROM hashed WHERE rn = 1
""",
)
def dedup_exact_hash(spark, sf_dir):
    """Exact dedup by normalized content hash, keeping the smallest
    doc_id of each duplicate group (canonical-representative rule) and
    reporting the group size.

    Scale: a pure partial aggregation on the digest — min(doc_id) and
    count both map-side-combine, so even a billion byte-identical
    copies of one document collapse to one (digest, min, count) row
    per map task before the single narrow shuffle. The previous form
    (row_number + count windows over the digest) forced every copy of
    a hot document into ONE task — the same hot-key window shape
    VERDICT r7 flagged on dedup_exact_substring, removed family-wide
    in r8. Output is bit-identical (the oracle is unchanged)."""
    corpus = _corpus_with_dups(spark, sf_dir).withColumn("content_hash", _norm())
    return (
        corpus.groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("doc_id", "content_hash", "n_copies")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup, via a shared-shingle inverted index (the
# SQL-exact semantics pin for MinHash). Near-dups are manufactured by
# dropping the last 3 tokens of every 10th doc — high but <1 overlap.
# ---------------------------------------------------------------------------
_TOKS = "string_split_regex(lower(trim(text)), '\\s+')"
_VARIANT_SQL = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_DUP_OFFSET} AS doc_id,
         array_to_string({_TOKS}[1:len({_TOKS}) - 3], ' ') AS text
  FROM documents WHERE doc_id % 10 = 0
"""


def _gram4_idx(toks):
    """Shingle start positions for the jaccard pipeline (named for the
    n=4 bound it pins): the oracle's `range(1, len - 2)` —
    end-EXCLUSIVE, so 1..size-3 (one fewer than the textbook trigram
    1..size-2; both engines agree, hash-green since r2, so the bound
    is a semantics pin, not a bug). That bound equals `_gram_idx`'s
    n=4 upper, so delegate there: ONE short-doc guard for every gram
    site (ADVICE r5 — two copies can drift)."""
    return _gram_idx(toks, 4)


def _shingled3(corpus):
    """corpus(doc_id, text) → (doc_id, shingles): the family's distinct
    3-token shingle array, with the token array MATERIALIZED as a real
    column before the shingle lambda references it (r13, guide §4/§5).
    A split() inlined into a higher-order function's body is
    re-evaluated per ELEMENT (lambda scope defeats subexpression
    elimination), making shingling O(L²) per document — measured 13×
    on text_ngram_sql's identical shape. One definition for the five
    shingle sites (jaccard, near_minhash, minhash_sql, containment,
    _minhash_parts) so the fix cannot drift per-site."""
    tk = F.col("__toks")
    sh = F.array_distinct(
        F.transform(
            _gram4_idx(tk),
            lambda i: F.concat_ws(
                " ",
                F.element_at(tk, i),
                F.element_at(tk, i + 1),
                F.element_at(tk, i + 2),
            ),
        )
    )
    return corpus.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("__toks")
    ).select("doc_id", sh.alias("shingles"))


def _shingled3_exploded(corpus):
    """(doc_id, shingle) stream over _shingled3, via explode_OUTER +
    isnotnull instead of plain explode. A plain explode makes
    InferFiltersFromGenerate add `size(shingles) > 0` which predicate
    pushdown then rewrites through the projection — re-inlining the
    split() into the shingle lambda and resurrecting the O(L²)
    per-element tokenization at the SCAN (measured 26.8 s of the
    jaccard corpus's 58 s first run at sf0.1). An outer generate
    infers no filter; the null-row cut on the generator OUTPUT column
    is exact (shingle values are concat_ws results, never null, and
    docs with an empty shingle array contributed no rows before)."""
    return (
        _shingled3(corpus)
        .select("doc_id", F.explode_outer("shingles").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
    )


def _corpus_with_near_dups(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    variant = (
        d.filter(F.col("doc_id") % 10 == 0)
        .select(
            (F.col("doc_id") + _DUP_OFFSET).alias("doc_id"),
            F.array_join(F.slice(toks, 1, F.size(toks) - 3), " ").alias("text"),
        )
    )
    return d.unionByName(variant)


@query(
    "dedup_ngram_jaccard",
    section="2.I",
    oracle=f"""
WITH corpus AS ({_VARIANT_SQL}),
shingled AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len({_TOKS}) - 2),
             i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1] || ' ' || {_TOKS}[i+2])) AS shingles
  FROM corpus
), exploded AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM shingled
), kept AS (
  -- df-cut: drop shingles present in more than half the corpus (exact
  -- integer compare, no float boundary). Jaccard is then over the
  -- informative-shingle universe on BOTH engines.
  SELECT doc_id, shingle FROM (
    SELECT doc_id, shingle,
           COUNT(*) OVER (PARTITION BY shingle) AS df,
           (SELECT COUNT(*) FROM corpus) AS n_docs
    FROM exploded
  ) WHERE 2 * df <= n_docs
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY doc_id
), pair_inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM kept a JOIN kept b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       round(CAST(n_inter AS DOUBLE)
             / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM pair_inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) > 0.6
""",
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Near-dup pairs by 3-token-shingle Jaccard > 0.6 over the
    informative-shingle universe (document-frequency cut applied).

    Candidate pairs come from a shared-shingle inverted index join —
    a pair is only scored if it shares ≥1 kept shingle. The df-cut
    (drop shingles with df > 50% of the corpus, mirroring
    dedup_near_minhash's maxDF=0.5) closes the hot-shingle skew hole
    VERDICT r4 flagged: without it one ubiquitous shingle ("the end of
    the" class) is a single shuffle key with an O(df²) pair explosion.
    On this fixture the cut is a no-op (shingle df is uniformly low),
    so results are unchanged; at 100 TB it bounds the per-key join
    fan-out. Jaccard denominators count kept shingles only, so the
    score stays a true Jaccard of the filtered sets on both engines."""
    return jaccard_pairs(_corpus_with_near_dups(spark, sf_dir))


def df_cut_kept(exploded, corpus):
    """Document-frequency cut over a (doc_id, shingle) stream: drop
    shingles present in more than half the corpus, via partial
    aggregation + broadcast LEFT ANTI against the hot set.

    Shape rationale (r8, measured at sf0.1 noop / ×100):
    - NOT a window over the shingle (26 s base): a window computes df
      on the same key the self-join shuffles on — zero extra shuffle,
      the fastest fixture plan — but requires every occurrence of a
      hot shingle in ONE task before the cut can drop it; at 100 TB a
      boilerplate shingle on billions of docs is a straggler/OOM, and
      AQE skew-splitting applies to joins, not windows.
    - NOT a semi join against the surviving (cold) keys (78 s base,
      354 s at ×100): shuffles the whole exploded stream a second
      time and loses exchange reuse across the four kept consumers.
    - The HOT set is provably tiny — each hot shingle occurs in more
      than n_docs/2 docs, so #hot <= per-doc-distinct occurrences /
      (n_docs/2) = 2 × avg shingles per doc (~100 rows at ANY corpus
      size) — so the anti join is a broadcast map-side filter: the df
      aggregation map-side-combines (skew-proof) and the stream is
      never re-shuffled for the cut. Downstream, the self-join's keys
      are df-bounded BY the cut itself, so no stage anywhere sees an
      unbounded hot key.
    Callers wrap the result in `session.checkpoint` (lazy DISK_ONLY
    local checkpoint) so the shingling + cut compute ONCE for the four
    consumers (sizes, both join sides, df agg) instead of once per
    plan branch — measured 26 s vs 73 s warm at sf0.1. The checkpoint
    materializes lazily at first action (plan construction stays
    action-free), truncates lineage (same hygiene as
    dedup_cc_clusters), and its executor blocks live until the
    sweep-boundary reaper or the GC frees them. Repeat
    executions of the SAME DataFrame reuse the blocks, so
    steady-state re-timings exclude the shingling stage (cold-run
    timings are the honest distributed cost — the bench/stress
    protocols construct a fresh plan per run).

    The corpus size rides along as a lazy broadcast 1-row aggregate
    crossJoined onto the tiny per-shingle df aggregate — no eager
    count() action and no baked-in literal to go stale (ADVICE r5);
    that 1-row attach plans as a BroadcastNestedLoopJoin whose build
    side is ONE row (test_plans pins any BNLJ to be exactly this)."""
    n_docs = F.broadcast(corpus.agg(F.count(F.lit(1)).alias("n_docs")))
    dfs = exploded.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    hot = (
        dfs.crossJoin(n_docs)
        .filter(2 * F.col("df") > F.col("n_docs"))
        .select("shingle")
    )
    return exploded.join(F.broadcast(hot), "shingle", "left_anti")


def jaccard_pairs(corpus, threshold: float = 0.6):
    """Core of dedup_ngram_jaccard over any (doc_id, text) DataFrame —
    exposed so the hot-shingle stress test can drive it with injected
    skew (tests/test_operators.py) and so callers can dedup arbitrary
    corpora, not just the fixture.

    r14 NEGATIVE RESULT, kept for the record (VERDICT r13 #4): prefix
    filtering [Bayardo/Chaudhuri lineage] was implemented here —
    sorted per-doc arrays, each side's join input cut to the first
    n - max(1, floor(t·n)) + 1 shingles, exact rerank per candidate
    via array_intersect — and PROVED output-preserving (hash-green vs
    the DuckDB oracle at sf0.01 AND sf0.1). It measured 2-3× SLOWER
    steady on this corpus and was reverted: the fixture is
    candidate-DENSE (5,500 docs → 1.31M distinct co-occurring pairs;
    the lexicographic prefix cut candidates only 2.4×, to 539k), so
    the exact-rerank join shuffles ~2 KB of array per candidate where
    this counting join shuffles ~20-byte rows and aggregates them
    map-side. Prefix filtering pays off when candidates are sparse
    relative to the corpus (the 100 TB diverse-corpus case); on a
    near-dup-dense corpus the partial-aggregated counting join is the
    right shape. Measurements in OPTIMIZATION_r14.md."""
    exploded = _shingled3_exploded(corpus)
    kept = checkpoint(df_cut_kept(exploded, corpus))
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = kept.select(F.col("doc_id").alias("id_a"), "shingle")
    b = kept.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        a.join(b, ["shingle"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_sh_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_sh_b"))
    jac = F.col("n_inter").cast("double") / (
        F.col("n_sh_a") + F.col("n_sh_b") - F.col("n_inter")
    )
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(jac > threshold)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup (MLlib) — the scale path for Jaccard dedup.
# ---------------------------------------------------------------------------
@query("dedup_near_minhash", section="2.I")
def dedup_near_minhash(spark, sf_dir):
    """MinHash-LSH near-dup pairs (ROWS tier — sketch is seed-specific,
    deterministic under seed=42): shingle set → binary CountVectorizer
    → MinHashLSH.approxSimilarityJoin at Jaccard distance ≤ 0.4.

    At 100 TB this is the dedup workhorse: candidates = same minhash
    band bucket only; the all-pairs space is never materialized."""
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    corpus = _corpus_with_near_dups(spark, sf_dir)
    shingled = _shingled3(corpus)
    # df-cut (SCALE.md): shingles present in >50% of docs carry no
    # near-dup signal but would create giant LSH buckets on hot-token
    # corpora — standard hygiene, recall unaffected (the same 81 pairs
    # found with and without it on this fixture). NOTE measured: on
    # THIS corpus the cut is a no-op (shingle df is uniformly low; the
    # LSH candidate density comes from corpus homogeneity instead —
    # every doc shares common shingles, so pairwise Jaccard is high
    # corpus-wide and candidates are inherently dense).
    from sparkml_spark.operators.ml import _shared_fit

    model = _shared_fit(
        Pipeline(
            stages=[
                CountVectorizer(
                    inputCol="shingles", outputCol="features", binary=True,
                    minDF=1.0, maxDF=0.5,
                ),
                MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42),
            ]
        ),
        shingled,
    )
    # r13 (guide §2.4): approxSimilarityJoin(vecs, vecs, ...) plants
    # `vecs` in BOTH plan branches, so the shingling + vocabulary
    # lookup ran twice per execution. Lazy DISK_ONLY checkpoint (the
    # family's checkpoint pattern) computes it once; the LSH join reads
    # blocks.
    vecs = checkpoint(model.stages[0].transform(shingled))
    pairs = model.stages[1].approxSimilarityJoin(vecs, vecs, 0.4, distCol="jaccard_dist")
    return (
        pairs.select(
            F.col("datasetA.doc_id").alias("id_a"),
            F.col("datasetB.doc_id").alias("id_b"),
            F.round(1.0 - F.col("jaccard_dist"), 6).alias("jaccard_sim"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )


# ---------------------------------------------------------------------------
# SimHash near-dup: 64-bit signatures + banded Hamming blocking.
# ---------------------------------------------------------------------------
# SimHash oracle SQL, generated to mirror the Spark expressions 1:1.
# The 64-bit signature lives as FOUR 16-bit chunks (one per LSH band):
# small non-negative integers on both engines, so there is no signed
# shiftleft-into-bit-63 edge anywhere — that is what makes the op
# ORACLE-expressible where the previous xxhash64 form was ROWS-only.
_SH_BITSUMS_SQL = ",\n    ".join(
    f"SUM(CASE WHEN (c{j} >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}_{i}"
    for j in range(4)
    for i in range(16)
)
_SH_KEYS_SQL = ",\n    ".join(
    "("
    + " + ".join(f"CASE WHEN b{j}_{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(16))
    + f") AS k{j}"
    for j in range(4)
)
_SH_HAMMING_SQL = " + ".join(f"bit_count(xor(a{j}, b{j}))" for j in range(4))


@query(
    "dedup_simhash",
    section="2.I",
    oracle=f"""
WITH corpus AS ({_VARIANT_SQL}),
tok AS (
  SELECT doc_id, unnest(list_distinct({_TOKS})) AS token FROM corpus
), h AS (
  SELECT doc_id,
    ('0x' || substr(md5(token), 1, 4))::BIGINT AS c0,
    ('0x' || substr(md5(token), 5, 4))::BIGINT AS c1,
    ('0x' || substr(md5(token), 9, 4))::BIGINT AS c2,
    ('0x' || substr(md5(token), 13, 4))::BIGINT AS c3
  FROM tok
), sums AS (
  SELECT doc_id,
    {_SH_BITSUMS_SQL}
  FROM h GROUP BY doc_id
), sig AS (
  SELECT doc_id,
    {_SH_KEYS_SQL}
  FROM sums
), bands AS (
  SELECT doc_id, k0, k1, k2, k3, j AS band,
         CASE j WHEN 0 THEN k0 WHEN 1 THEN k1 WHEN 2 THEN k2 ELSE k3 END AS key
  FROM sig, unnest([0, 1, 2, 3]) AS t(j)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.k0 AS a0, a.k1 AS a1, a.k2 AS a2, a.k3 AS a3,
         b.k0 AS b0, b.k1 AS b1, b.k2 AS b2, b.k3 AS b3
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, ({_SH_HAMMING_SQL}) AS hamming
FROM cand
WHERE ({_SH_HAMMING_SQL}) <= 8
""",
)
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup — ORACLE since r7 (was ROWS on xxhash64).

    Signature: for each of 64 bits, sign of Σ(±1) over token hashes.
    Token hash = four 16-bit chunks of md5 (both engines compute md5
    and parse hex identically — `conv(hex,16,10)` vs `('0x'||hex)::
    BIGINT`, verified equal), and the signature is kept as the four
    chunks rather than one packed int64, so every intermediate is a
    small non-negative integer: exact on both engines, no signed-bit
    edge, and each chunk IS its LSH band key. Blocking: candidate
    pairs share ≥1 of the 4 bands, then verify Σ bit_count(xor) ≤ 8.
    Recall contract, stated honestly: pigeonhole GUARANTEES a shared
    band only for Hamming ≤ 3; a pair at Hamming 4-8 whose flips land
    in all four bands escapes the blocking (standard SimHash banding
    trade-off — more bands = more recall = more candidates). The
    ORACLE mirrors the same blocking, so the pin is exact over the
    declared candidate set; it is not an all-pairs Hamming-8 finder.
    All codegen expressions — no UDF.

    Scale: identical to dedup_minhash_sql — candidates only meet
    inside a (band, key) bucket (equi join), never all-pairs; the
    64 conditional sums are one map-side partial agg over the token
    explode. md5 is ~2× slower per token than xxhash64, which is the
    price of the cross-engine pin; swap the chunk source back to
    xxhash64 bits for production corpora where the oracle isn't run.
    Output density note: the fixture vocabulary is ~40 tokens, so most
    docs genuinely ARE near-identical in distinct-token space and the
    pair output is dense (~3% of all pairs at sf0.01, hash-verified
    tri-scale at up to 1.55M pairs / 11 s at sf0.1) — on real corpora
    signature entropy, not banding, is what keeps output sparse."""
    corpus = _corpus_with_near_dups(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    tok = corpus.select("doc_id", F.explode(F.array_distinct(toks)).alias("token"))
    tok = tok.select(
        "doc_id",
        *[md5_chunk16(F.col("token"), j).alias(f"c{j}") for j in range(4)],
    )
    bit_sums = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col(f"c{j}"), i).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"b{j}_{i}")
            for j in range(4)
            for i in range(16)
        ]
    )
    keys = []
    for j in range(4):
        k = None
        for i in range(16):
            term = F.when(F.col(f"b{j}_{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
            k = term if k is None else k + term
        keys.append(k.cast("long").alias(f"k{j}"))
    sig = bit_sums.select("doc_id", *keys)
    bands = sig.select(
        "doc_id",
        "k0",
        "k1",
        "k2",
        "k3",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("band"), F.col(f"k{j}").alias("key"))
                    for j in range(4)
                ]
            )
        ).alias("bk"),
    ).select(
        "doc_id", "k0", "k1", "k2", "k3",
        F.col("bk.band").alias("band"), F.col("bk.key").alias("key"),
    )
    a = bands.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"k{j}").alias(f"a{j}") for j in range(4)],
        "band",
        "key",
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"k{j}").alias(f"b{j}") for j in range(4)],
        "band",
        "key",
    )
    cand = (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", *[f"a{j}" for j in range(4)], *[f"b{j}" for j in range(4)])
        .distinct()
    )
    hamming = sum(
        F.bit_count(F.col(f"a{j}").bitwiseXOR(F.col(f"b{j}"))) for j in range(4)
    )
    return cand.select("id_a", "id_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= 8
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (exact; vectors are unit-norm ⇒ cosine≡dot).
# ---------------------------------------------------------------------------
_EMB_CORPUS_SQL = f"""
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {_DUP_OFFSET} AS vec_id, embedding
  FROM embeddings WHERE vec_id % 25 = 0
"""


#: Block-grid width for the exact all-pairs cosine: the corpus splits
#: into _EMB_BLOCKS cells by vec_id, and each of the B(B+1)/2 cell
#: pairs computes its dot matrix in one vectorized Arrow call. 8 cells
#: → 36 tasks (good local[32] occupancy); at larger corpora grow B so
#: one (n/B)² double matrix stays inside a task's memory budget.
_EMB_BLOCKS = 8


@query(
    "dedup_embedding_cosine",
    section="2.I",
    oracle=f"""
WITH corpus AS ({_EMB_CORPUS_SQL})
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), 6) AS cosine
FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) > 0.9
""",
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding near-dup: all pairs with cosine > 0.9 (finds exactly
    the injected copies plus any natural near-dups — none in fixtures,
    vectors are distinct random unit vectors).

    DOCUMENTED CUTOFF: exact all-pairs is O(n²·d); fine to ~10⁴
    vectors. Above that use sim_lsh_ann / sim_ivf_ann (same semantics,
    blocked candidates)."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dups = (
        e.filter(F.col("vec_id") % 25 == 0)
        .select((F.col("vec_id") + _DUP_OFFSET).alias("vec_id"), "embedding")
    )
    # r13 (guide §3.5/§4.2): the old shape was a BroadcastNestedLoop
    # theta-join whose CONDITION embedded the zip_with+aggregate dot —
    # two interpreted lambdas + a 64-element array allocation per
    # ORDERED pair (the pushed filter landed before id_a < id_b, so
    # all n² pairs paid it), then the surviving Project re-evaluated
    # the whole fold again: ~21 µs/pair, 46.5 s steady at sf0.1 for a
    # 2 080-vector corpus. A first attempt that unrolled the dot to a
    # flat 64-term codegen chain measured WORSE (91.5 s): a 127-node
    # arithmetic tree in a BNLJ condition falls out of codegen into
    # per-node interpreted eval. All-pairs dot products are dense
    # linear algebra — the guide's answer is the Arrow boundary, not
    # Catalyst: block the corpus by vec_id, join the tiny block-pair
    # grid (B(B+1)/2 rows), and compute each block-pair's full dot
    # MATRIX vectorized in one pandas UDF call.
    #
    # Exactness: the accumulation loops over dimensions d=0..63 doing
    # D += A[:,d]·B[:,d] — the same left-associative, index-ordered
    # double additions as the old fold (which started at 0.0, and
    # 0.0 + p ≡ p in IEEE), so every cosine is BITWISE-identical and
    # the > 0.9 cut decides identically. Oracle re-proved hash-green
    # at sf0.001/0.01/0.1.
    #
    # Scale: per-task memory is one (n/B)² dot matrix — B grows as
    # n/√(task budget); the operator keeps its documented ~10⁴-vector
    # exact-mode cutoff (sim_lsh_ann / sim_ivf_ann beyond that).
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    corpus = e.unionByName(dups)
    packed = (
        corpus.withColumn("bid", (F.col("vec_id") % _EMB_BLOCKS).cast("int"))
        .groupBy("bid")
        .agg(
            F.collect_list("vec_id").alias("ids"),
            F.collect_list("embedding").alias("embs"),
        )
    )
    x = packed.select(
        F.col("bid").alias("bid_x"),
        F.col("ids").alias("ids_x"),
        F.col("embs").alias("embs_x"),
    )
    y = packed.select(
        F.col("bid").alias("bid_y"),
        F.col("ids").alias("ids_y"),
        F.col("embs").alias("embs_y"),
    )

    out_t = ArrayType(
        StructType(
            [
                StructField("id_a", LongType()),
                StructField("id_b", LongType()),
                StructField("cosine_raw", DoubleType()),
            ]
        )
    )

    @F.pandas_udf(out_t)
    def _block_dots(bx, ids_x, embs_x, by, ids_y, embs_y):
        import numpy as np
        import pandas as pd

        out = []
        for bxi, ix, ex, byi, iy, ey in zip(bx, ids_x, embs_x, by, ids_y, embs_y):
            A = np.stack([np.asarray(v, dtype=np.float64) for v in ex])
            B = np.stack([np.asarray(v, dtype=np.float64) for v in ey])
            ia = np.asarray(ix, dtype=np.int64)
            ib = np.asarray(iy, dtype=np.int64)
            # Same double additions in the same order as the old
            # aggregate fold: accumulate dimension by dimension.
            D = np.zeros((len(ia), len(ib)))
            for d in range(A.shape[1]):
                D += A[:, d, None] * B[None, :, d]
            if bxi == byi:
                keep = (D > 0.9) & (ia[:, None] < ib[None, :])
            else:
                keep = D > 0.9
            ra, rb = np.nonzero(keep)
            lo = np.minimum(ia[ra], ib[rb])
            hi = np.maximum(ia[ra], ib[rb])
            out.append(
                [
                    {"id_a": int(a_), "id_b": int(b_), "cosine_raw": float(c_)}
                    for a_, b_, c_ in zip(lo, hi, D[ra, rb])
                ]
            )
        return pd.Series(out)

    return (
        x.join(y, F.col("bid_x") <= F.col("bid_y"))
        .select(
            F.explode(
                _block_dots("bid_x", "ids_x", "embs_x", "bid_y", "ids_y", "embs_y")
            ).alias("p")
        )
        .select(
            F.col("p.id_a").alias("id_a"),
            F.col("p.id_b").alias("id_b"),
            F.round("p.cosine_raw", 6).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash entirely in SQL (ORACLE twin of the MLlib `dedup_near_minhash`)
# ---------------------------------------------------------------------------

_K_HASHES = 8  # 4 bands × 2 rows
_SHINGLES_SQL = f"""
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len({_TOKS}) - 2),
             i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1] || ' ' || {_TOKS}[i+2]))) AS shingle
  FROM corpus
"""


@query(
    "dedup_minhash_sql",
    section="2.I",
    oracle=f"""
WITH corpus AS ({_VARIANT_SQL}),
shingled AS ({_SHINGLES_SQL}),
sig AS (
  SELECT doc_id, h, MIN(md5(CAST(h AS VARCHAR) || '|' || shingle)) AS mh
  FROM shingled CROSS JOIN range(0, {_K_HASHES}) t(h)
  GROUP BY doc_id, h
),
bands AS (
  SELECT doc_id, h // 2 AS band,
         MIN(CASE WHEN h % 2 = 0 THEN mh END) || '#'
           || MIN(CASE WHEN h % 2 = 1 THEN mh END) AS band_key
  FROM sig GROUP BY doc_id, h // 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / {_K_HASHES}.0 AS est_jaccard
FROM cand
JOIN sig sa ON sa.doc_id = id_a
JOIN sig sb ON sb.doc_id = id_b AND sb.h = sa.h
GROUP BY id_a, id_b
HAVING SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) >= {_K_HASHES} / 2
""",
)
def dedup_minhash_sql(spark, sf_dir):
    """MinHash + banded LSH expressed purely in relational builtins —
    the hash-checkable twin of the MLlib `dedup_near_minhash` (which is
    ROWS-tier because MinHashLSH's hash family is engine-private).

    The permutation family is md5(i || '|' || shingle), i in 0..7:
    deterministic, identical in Spark and DuckDB, and uniform enough
    for 3-token shingles. Signature = per-(doc, i) MIN digest; 4 bands
    of 2 rows generate candidates (band_key equality join — the
    inverted-index pattern, NEVER all-pairs); estimated Jaccard =
    matching signature fraction, kept at ≥ 0.5.

    Scale: the shingle explode is the big intermediate (corpus ×
    shingles/doc × 8) but it's a narrow map feeding one hash-partition
    per (doc, i); the band join blocks candidates exactly like
    `MinHashLSH.approxSimilarityJoin`. At 100 TB shingle CountVectorizer
    vocabularies explode — hashing shingles (here: md5) instead of
    dictionary-encoding them is the standard fix."""
    corpus = _corpus_with_near_dups(spark, sf_dir)
    shingled = _shingled3_exploded(corpus)
    hs = F.explode(F.sequence(F.lit(0), F.lit(_K_HASHES - 1))).alias("h")
    sig = (
        shingled.select("doc_id", "shingle", hs)
        .select(
            "doc_id",
            "h",
            F.md5(F.concat(F.col("h").cast("string"), F.lit("|"), F.col("shingle"))).alias("d"),
        )
        .groupBy("doc_id", "h")
        .agg(F.min("d").alias("mh"))
    )
    # r13 (guide §2.4): sig feeds THREE consumers (bands + both sides
    # of the signature-verify join), and computing it means the full
    # shingle explode × 8 hash probes × md5 — the dominant cost. The
    # aggregate itself is tiny (docs × 8 rows); checkpoint it lazily
    # so the explode/hash pipeline runs once per execution.
    sig = checkpoint(sig)
    bands = sig.groupBy("doc_id", F.expr("h DIV 2").alias("band")).agg(
        F.concat(
            F.min(F.when(F.col("h") % 2 == 0, F.col("mh"))),
            F.lit("#"),
            F.min(F.when(F.col("h") % 2 == 1, F.col("mh"))),
        ).alias("band_key")
    )
    a = bands.select(F.col("doc_id").alias("id_a"), "band", "band_key")
    b = bands.select(F.col("doc_id").alias("id_b"), "band", "band_key")
    cand = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sig.select(F.col("doc_id").alias("id_a"), "h", F.col("mh").alias("mh_a"))
    sb = sig.select(F.col("doc_id").alias("id_b"), "h", F.col("mh").alias("mh_b"))
    matches = F.sum(F.when(F.col("mh_a") == F.col("mh_b"), 1).otherwise(0))
    return (
        cand.join(sa, "id_a")
        .join(sb, ["id_b", "h"])
        .groupBy("id_a", "id_b")
        .agg(
            (matches / F.lit(float(_K_HASHES))).alias("est_jaccard"),
            matches.alias("n_match"),
        )
        .filter(F.col("n_match") >= _K_HASHES // 2)
        .drop("n_match")
    )


# ---------------------------------------------------------------------------
# Connected-component duplicate clustering
# ---------------------------------------------------------------------------

# A 3-node path per seeded doc: x — x+OFF — x+2·OFF. Transitive closure
# is required to cluster the endpoints (they share no edge).
_CHAIN_EDGES_SQL = f"""
  SELECT doc_id AS src, doc_id + {_DUP_OFFSET} AS dst
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + {_DUP_OFFSET} AS src, doc_id + {2 * _DUP_OFFSET} AS dst
  FROM documents WHERE doc_id % 10 = 0
"""


@query(
    "dedup_cc_clusters",
    section="2.I",
    oracle=f"""
WITH RECURSIVE base_edges AS ({_CHAIN_EDGES_SQL}),
edges AS (
  SELECT src, dst FROM base_edges
  UNION ALL
  SELECT dst AS src, src AS dst FROM base_edges
),
nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges
),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT reach.node, e.dst FROM reach JOIN edges e ON e.src = reach.r
),
labels AS (
  SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node
)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM labels
""",
)
def dedup_cc_clusters(spark, sf_dir):
    """Duplicate-cluster labeling: connected components over the
    near-dup pair graph, each doc labeled with the minimum doc_id
    reachable from it (the canonical representative a dedup pass
    keeps). The fixture graph is a seeded 3-node chain per selected
    doc, so correctness requires TRANSITIVE closure, not just pair
    grouping.

    Spark side: iterative min-label propagation — labels(v) =
    min(labels(v), min over neighbors u of labels(u)) — as a fixed
    4-round unrolled DataFrame plan (graph diameter here is 2; the
    extra rounds are margin and cost only tiny shuffles). The oracle
    is exact transitive closure via a recursive CTE.

    Scale: fixed-round propagation converges in O(diameter) rounds;
    for web-scale dup graphs (long chains) switch to the
    large-star/small-star alternation [Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14], which converges in
    O(log n) rounds with the same join+min building block, and check
    convergence per round with a count of changed labels."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    seeds = d.filter(F.col("doc_id") % 10 == 0)
    e1 = seeds.select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + _DUP_OFFSET).alias("dst")
    )
    e2 = seeds.select(
        (F.col("doc_id") + _DUP_OFFSET).alias("src"),
        (F.col("doc_id") + 2 * _DUP_OFFSET).alias("dst"),
    )
    base = e1.unionByName(e2)
    edges = base.unionByName(base.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    labels = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .withColumn("lbl", F.col("node"))
    )
    for _ in range(4):
        nbr = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("lbl").alias("nbr_min"))
        )
        labels = (
            labels.join(nbr, "node", "left")
            .select("node", F.least(F.col("lbl"), F.coalesce("nbr_min", "lbl")).alias("lbl"))
        )
    # Cluster sizes via partial agg + equi join back (not a window
    # over cluster_id: a giant duplicate cluster would become one
    # window task; the join is AQE-skew-splittable).
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        labels.join(sizes, "lbl")
        .select(
            F.col("node").alias("doc_id"),
            F.col("lbl").alias("cluster_id"),
            "cluster_size",
        )
    )


@query(
    "dedup_edit_distance",
    section="2.I",
    oracle="""
WITH pre AS (
  SELECT doc_id, lang, n_chars // 10 AS blk,
         substr(lower(trim(text)), 1, 40) AS head
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       levenshtein(a.head, b.head) AS lev,
       round(1.0 - CAST(levenshtein(a.head, b.head) AS DOUBLE)
             / CAST(greatest(len(a.head), len(b.head)) AS DOUBLE), 6) AS head_sim
FROM pre a JOIN pre b
  ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
WHERE levenshtein(a.head, b.head) <= 8
""",
)
def dedup_edit_distance(spark, sf_dir):
    """Edit-distance near-dup candidates: block on (lang, length//10),
    compare 40-char normalized heads with Levenshtein <= 8. Blocking
    bounds the quadratic term (DOCUMENTED CUTOFF, same contract as
    dedup_embedding_cosine: boundary-straddling pairs belong to the
    MinHash path); the distance itself is JVM-side `levenshtein` —
    no Python in the loop. At 100 TB block sizes stay O(docs per
    lang-length cell), so the self-join shuffles once on the block key
    and never materializes a corpus-wide cross product."""
    d = load_table(spark, sf_dir, "documents")
    pre = d.select(
        "doc_id",
        "lang",
        F.expr("n_chars DIV 10").alias("blk"),
        F.substring(F.lower(F.trim(F.col("text"))), 1, 40).alias("head"),
    )
    a = pre.select(
        F.col("doc_id").alias("id_a"),
        "lang",
        "blk",
        F.col("head").alias("head_a"),
    )
    b = pre.select(
        F.col("doc_id").alias("id_b"),
        F.col("lang").alias("lang_b"),
        F.col("blk").alias("blk_b"),
        F.col("head").alias("head_b"),
    )
    lev = F.levenshtein(F.col("head_a"), F.col("head_b"))
    return (
        a.join(
            b,
            (F.col("lang") == F.col("lang_b"))
            & (F.col("blk") == F.col("blk_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .filter(lev <= 8)
        .select(
            "id_a",
            "id_b",
            lev.alias("lev"),
            F.round(
                1.0
                - lev.cast("double")
                / F.greatest(F.length("head_a"), F.length("head_b")).cast("double"),
                6,
            ).alias("head_sim"),
        )
    )


@query(
    "dedup_keeper_selection",
    section="2.I",
    oracle=f"""
WITH corpus AS ({_CORPUS_SQL}),
hashed AS (
  SELECT doc_id, len(text) AS n_chars,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h
  FROM corpus
), ranked AS (
  SELECT doc_id, n_chars, h,
         ROW_NUMBER() OVER (PARTITION BY h ORDER BY n_chars DESC, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY h) AS cluster_size
  FROM hashed
)
SELECT h AS content_hash, cluster_size,
       doc_id AS keeper_doc, n_chars AS keeper_chars
FROM ranked WHERE rn = 1 AND cluster_size > 1
""",
)
def dedup_keeper_selection(spark, sf_dir):
    """Canonical-document selection for dup clusters: group by
    normalized content hash (corpus with injected copies — fixtures
    have no natural exact dups), keep the LONGEST doc (doc_id
    tie-break) from each multi-doc cluster — the policy step between
    candidate clustering (dedup_exact_hash / dedup_cc_clusters) and
    corpus emission. The keeper (longest doc, min-id tie-break) is the
    lexicographic MAX of struct(n_chars, -doc_id) — an aggregation, so
    it map-side-combines: a billion-copy hot cluster collapses to one
    partial (max-struct, count) row per map task instead of one
    row_number window task holding the whole cluster (the hot-key
    window shape removed family-wide in r8; output bit-identical, the
    window-based oracle unchanged). The keeper policy stays a swap:
    order by quality score instead by changing the struct fields."""
    corpus = _corpus_with_dups(spark, sf_dir)
    h = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    hashed = corpus.select(
        "doc_id", F.length("text").alias("n_chars"), h.alias("h")
    )
    return (
        hashed.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.max(
                F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id"))
            ).alias("top"),
        )
        .filter(F.col("cluster_size") > 1)
        .select(
            F.col("h").alias("content_hash"),
            "cluster_size",
            (-F.col("top.neg_id")).alias("keeper_doc"),
            F.col("top.n_chars").alias("keeper_chars"),
        )
    )


def cc_min_label(edges, max_rounds: int = 40):
    """General connected-components labeling with a CONVERGENCE BOUND
    (round-2 hardening of the dedup_cc_clusters pattern, VERDICT r01
    item 7): min-label propagation PLUS pointer doubling
    (lbl <- lbl(lbl)), so the reach of the minimum label roughly
    doubles per round and an adversarial CHAIN of length L converges
    in O(log2 L) rounds — not the O(L) of plain propagation (the
    large-star/small-star alternation of Kiveris et al., SoCC'14, is
    the same doubling idea; this is its two-join DataFrame form).

    `edges` is DataFrame[src, dst], treated as undirected (symmetrized
    here). Returns (labels DataFrame[node, lbl], rounds_used). Each
    round costs two key joins + one bounded scalar action (the
    changed-label count used for the convergence check) and truncates
    lineage via localCheckpoint — the same hygiene as graph_pagerank.
    Raises RuntimeError if max_rounds (default 40 ≈ log2 of any
    realistic id space) passes without convergence, so a pathological
    graph fails LOUDLY instead of returning partial clusters."""
    from sparkml_spark.session import CheckpointChain

    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # Checkpoint hygiene (round 12): each round's localCheckpoint pins
    # a NODE-sized RDD, and unpersisting the superseded frame is a
    # no-op for checkpoint blocks — the chain frees each round's
    # blocks after its last read (the convergence diff), so the loop
    # holds at most two generations instead of rounds_used of them.
    chain = CheckpointChain(edges.sparkSession)
    labels = chain.step(
        sym.select(F.col("src").alias("node"))
        .unionByName(sym.select(F.col("dst").alias("node")))
        .distinct()
        .withColumn("lbl", F.col("node"))
    )
    for rounds_used in range(1, max_rounds + 1):
        nbr = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("lbl").alias("nbr_min"))
        )
        stepped = labels.join(nbr, "node", "left").select(
            "node",
            F.least(F.col("lbl"), F.coalesce("nbr_min", F.col("lbl"))).alias("lbl"),
        )
        ptr = stepped.select(
            F.col("node").alias("p_node"), F.col("lbl").alias("p_lbl")
        )
        doubled = chain.step(
            stepped.join(ptr, stepped.lbl == ptr.p_node, "left").select(
                "node",
                F.least(F.col("lbl"), F.coalesce("p_lbl", F.col("lbl"))).alias("lbl"),
            )
        )
        changed = (
            doubled.join(labels.withColumnRenamed("lbl", "old"), "node")
            .filter(F.col("lbl") != F.col("old"))
            .count()
        )
        # `labels`' last read was the convergence diff above — free it
        # now (keep=1 retains `doubled`, which the caller consumes).
        chain.reap()
        labels = doubled
        if changed == 0:
            return labels, rounds_used
    raise RuntimeError(
        f"cc_min_label did not converge within {max_rounds} rounds — "
        "graph diameter exceeds 2^max_rounds or ids are adversarial"
    )


@query("dedup_minhash_recall_bound", section="2.I", oracle=ZERO_VIOLATIONS)
def dedup_minhash_recall_bound(spark, sf_dir):
    """ORACLE pin for dedup_near_minhash (VERDICT r6 #3): the banded
    sketch is seed-specific, but its RECALL against the exact-Jaccard
    ground truth is checkable — dedup_ngram_jaccard (itself
    ORACLE-green) enumerates the true pairs at sim >= 0.6, and the
    MinHashLSH join (distance <= 0.4, the same cutoff; seed=42 so the
    draw is fixed) must return exactly that set: approxSimilarityJoin
    reranks candidates by TRUE Jaccard, so found => true holds by
    construction, and a miss requires all 8 independent min-hashes to
    disagree (p <= 0.4^8 ~ 7e-4 per borderline pair — measured ZERO
    missing tri-scale). Violations = symmetric-difference pairs;
    oracle pins 0."""
    exact = dedup_ngram_jaccard(spark, sf_dir).select(
        F.least("id_a", "id_b").alias("a"), F.greatest("id_a", "id_b").alias("b")
    ).distinct()
    mh = (
        dedup_near_minhash(spark, sf_dir)
        .select(
            F.least("id_a", "id_b").alias("a"), F.greatest("id_a", "id_b").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # r13 (guide §2.4): the two-directional anti-join evaluated BOTH
    # expensive inputs twice (the exact pair enumeration and the LSH
    # join each appeared in two plan branches — this was the #2 query
    # in the census at 87 s steady). Tag each (distinct) side, union,
    # and group once: a pair present on both sides sums to 3, a
    # symmetric-difference pair to 1 or 2 — same violation count, one
    # evaluation per side, one shuffle on the pair key.
    tagged = exact.withColumn("__s", F.lit(1)).unionAll(
        mh.withColumn("__s", F.lit(2))
    )
    return (
        tagged.groupBy("a", "b")
        .agg(F.sum("__s").alias("__t"))
        .agg(F.count_if(F.col("__t") != 3).alias("n_violations"))
    )


# ---------------------------------------------------------------------------
# SemDeDup — semantic (embedding-space) dedup within clusters
# ---------------------------------------------------------------------------

#: Integer similarity cutoff on the int8-quantized dot product:
#: 0.78 cosine on unit vectors ~ 0.78 * 127^2 on the q8 grid. Random
#: 64-d unit vectors pair at cosine ~ N(0, 1/64) (sigma ~ 0.125), so
#: 0.78 is > 6 sigma above chance — only the injected exact copies
#: (cosine 1.0) clear it; no flaky near-threshold pairs.
_SEM_QDOT_MIN = 12580  # floor(0.78 * 127 * 127) = floor(12580.62)

_SEM_Q8_SQL = (
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 + 0.5) AS BIGINT))"
)

#: Cluster-size cap (VERDICT r7 #3): clusters larger than this are
#: split into ceil(size / cap) deterministic sub-cells before the
#: pair join, bounding the per-cell pair cost at ~cap^2 no matter how
#: degenerate the clustering. Fixture clusters top out at 218 members
#: (sf0.1), so the cap never fires on any oracle-checked scale — the
#: capped plan is bit-identical to the uncapped one there.
_SEM_MAX_CLUSTER = 1024


@query(
    "dedup_semantic_semdedup",
    section="2.I",
    oracle=f"""
WITH corpus AS (
  SELECT vec_id, label, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {_DUP_OFFSET} AS vec_id, label, embedding
  FROM embeddings WHERE vec_id % 25 = 0
), qz AS (
  SELECT vec_id, label, {_SEM_Q8_SQL} AS q8 FROM corpus
), dup AS (
  SELECT b.vec_id AS vec_id, MIN(a.vec_id) AS keeper_id
  FROM qz a JOIN qz b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE list_sum(list_transform(list_zip(a.q8, b.q8), p -> p[1] * p[2]))
        >= {_SEM_QDOT_MIN}
  GROUP BY b.vec_id
)
SELECT c.vec_id, c.label AS cluster, dup.keeper_id,
       dup.keeper_id IS NULL AS is_kept
FROM qz c LEFT JOIN dup ON c.vec_id = dup.vec_id
""",
)
def dedup_semantic_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup
    that only ever compares embeddings INSIDE a cluster — the cluster
    structure bounds the quadratic pair cost that makes global
    embedding dedup intractable. Here the cluster id is the fixture
    `label` (the k-means assignment step is its own operator:
    sim_centroid_assign / ml_clustering — SemDeDup composes them);
    within a cluster, a vector is dropped iff a LOWER-id vector in the
    same cluster is semantically identical (quantized dot >= 0.78 on
    the int8 grid — integer arithmetic, so the pin is exact with zero
    float drift, same trick as sim_quantized_int8). Deterministic
    keeper rule: survivors are the cluster-local minima; each dropped
    row reports its MIN matching keeper_id. The paper keeps the
    centroid-FARTHEST member instead — same mechanics, different
    ORDER BY; min-id is used here because it is total-order stable
    under re-partitioning.

    Scale: the pair join is label-partitioned (shuffle key = cluster
    id), so cost is sum(c_i^2) over cluster sizes, never n^2 — with
    k-means clusters sized ~n/k this is n^2/k and k grows with the
    corpus (SemDeDup runs at k=50k on LAION). Skewed clusters are the
    known failure mode, and the cap is ENFORCED, not advisory: a
    broadcast of per-cluster counts assigns each member of a cluster
    larger than {_SEM_MAX_CLUSTER} to one of ceil(size/cap)
    deterministic sub-cells (pmod(md5_chunk16(vec_id), n_cells) — an
    id HASH, so balance is independent of id arithmetic even for the
    strided id families this corpus manufactures; stable under
    re-partitioning, no RNG), and the pair join keys on
    (label, cell), so a degenerate one-giant-cluster assignment costs
    ~n*cap pairs instead of n^2. This is the standard SemDeDup
    sharding trade: cross-cell duplicate pairs inside a giant cluster
    are forfeited (recall loss documented in the paper's
    within-cluster framing); clusters at or under the cap — all
    fixture scales — get n_cells=1 and are EXACT, which is why the
    oracle pin is unaffected. The q8 quantization also halves
    candidate shuffle bytes (float32 -> int8), which at 100 TB is the
    difference between a network-bound and CPU-bound stage."""
    e = load_table(spark, sf_dir, "embeddings")
    dups = e.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + _DUP_OFFSET).alias("vec_id"), "label", "embedding"
    )
    corpus = e.select("vec_id", "label", "embedding").unionByName(dups)
    qz = corpus.select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(127.0) + F.lit(0.5)).cast("long"),
        ).alias("q8"),
    )
    return semdedup_within_clusters(qz)


def sem_cells(qz, cap: int = _SEM_MAX_CLUSTER):
    """The capped sub-cell assignment frame (vec_id, label, q8,
    n_cells, cell) — THE single definition of SemDeDup's salt, shared
    by the pair join below and by the scale probe's pair accounting
    (round-9 code review #6: the probe previously re-implemented this
    formula, so a salt change could silently desynchronize SCALE.md's
    measured table from the engine's real partitioning)."""
    sizes = qz.groupBy("label").agg(F.count(F.lit(1)).alias("c_size"))
    return (
        qz.join(F.broadcast(sizes), "label")
        .withColumn("n_cells", F.ceil(F.col("c_size") / F.lit(cap)).cast("int"))
        .withColumn(
            "cell",
            F.pmod(
                md5_chunk16(F.col("vec_id").cast("string")), F.col("n_cells")
            ).cast("int"),
        )
    )


def semdedup_within_clusters(qz, cap: int = _SEM_MAX_CLUSTER):
    """Capped within-cluster pair join over a (vec_id, label, q8)
    frame — the core of dedup_semantic_semdedup, shared with the
    giant-cluster property test. Per-cluster counts are tiny (one row
    per cluster id) and broadcast; members of clusters larger than
    ``cap`` are salted into ceil(size/cap) sub-cells by a HASH of the
    id — pmod(md5_chunk16(vec_id), n_cells), the repo's cross-engine
    hash convention — and the pair join keys on (label, cell).
    Hashing (ADVICE r9) rather than raw id-mod matters because cell
    balance must be independent of id arithmetic: the corpus's own
    duplicate families are strided (every-Nth-doc + offset), and
    residue-correlated ids under a raw mod would all land in one cell,
    putting the pair join back at ~n^2. Deterministic (no RNG), stable
    under re-partitioning. At or under the cap every cluster gets a
    single cell, making the capped plan semantically identical to the
    uncapped join."""
    cells = sem_cells(qz, cap)
    # r13 (guide §4.2, same rationale as dedup_embedding_cosine): the
    # within-cell pair scoring used a self-join whose qdot was an
    # interpreted zip_with+aggregate fold — ~21 µs/pair, 3.4 s steady
    # at sf0.1 for ~220k in-cell pairs. A (label, cell) group is at
    # most `cap` members, so score each cell as ONE int64 matrix
    # product in a grouped Arrow call and emit (vec_id, min matching
    # lower id) directly. INTEGER arithmetic — no accumulation-order
    # caveat at all: the dots are exactly the old fold's values, and
    # a vector's candidate pairs all live in its single (label, cell)
    # group, so the per-group min IS the global min keeper.
    def _cell_dups(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        Q = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["q8"]])
        D = Q @ Q.T
        mask = (D >= _SEM_QDOT_MIN) & (ids[:, None] < ids[None, :])
        cand = np.where(mask, ids[:, None], np.iinfo(np.int64).max)
        keeper = cand.min(axis=0)
        has = keeper != np.iinfo(np.int64).max
        return pd.DataFrame(
            {"vec_id": ids[has], "keeper_id": keeper[has]}
        )

    dup = (
        cells.select("label", "cell", "vec_id", "q8")
        .groupBy("label", "cell")
        .applyInPandas(_cell_dups, "vec_id long, keeper_id long")
    )
    return (
        qz.join(dup, "vec_id", "left")
        .select(
            "vec_id",
            F.col("label").alias("cluster"),
            "keeper_id",
            F.col("keeper_id").isNull().alias("is_kept"),
        )
    )


# ---------------------------------------------------------------------------
# Exact-substring dedup — maximal repeated token spans (ExactSubstr)
# ---------------------------------------------------------------------------

_ES_K = 8  # gram width: spans shorter than this are not considered repeats
#: Deterministic boilerplate appended to every 7th doc — novel tokens
#: (absent from the fixture vocabulary), so the injected spans are the
#: only guaranteed repeats and no boundary gram ever collides.
_ES_BOILER = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"

_ES_GRAM_SQL = " || ' ' || ".join(f"t[i + {d}]" for d in range(_ES_K))


def exact_substring_spans(corpus):
    """Core of dedup_exact_substring over any (doc_id, text) frame:
    explode into {_ES_K}-gram (pos, md5 digest) pairs, keep positions
    whose gram repeats corpus-wide via partial-agg count + LEFT SEMI
    join on the digest (never a gkey window — see the operator
    docstring for the hot-gram rationale), then gaps-and-islands merge
    per doc. Shared by the registered query and the hot-gram scale
    probe (scripts/scale_probes.py), which feeds it a corpus where the
    boilerplate gram is deliberately on EVERY doc."""
    # r13 (guide §4/§5): tokens materialized as a real column before
    # the gram lambda touches them — an inlined split() re-evaluates
    # per element inside lambda scope (see _shingled3; 13× measured on
    # text_ngram_sql's identical shape), and here each position reads
    # 8 elements.
    tk = F.col("__toks")
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(tk, i + d) for d in range(_ES_K)]
    )
    grams = (
        corpus.select(
            "doc_id",
            F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("__toks"),
        )
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    _gram_idx(tk, _ES_K),
                    lambda i: F.struct(i.alias("pos"), F.md5(gram(i)).alias("gkey")),
                )
            ).alias("pg"),
        )
        .select("doc_id", F.col("pg.pos").alias("pos"), F.col("pg.gkey").alias("gkey"))
    )
    # r13 (guide §2.4): the gram stream feeds TWO consumers (the
    # repeat-count aggregate and the semi-join probe side), so the
    # unmaterialized plan ran the explode + 8-token concat + md5 —
    # the dominant cost — twice per execution (and 2× more in the
    # _apply caller). Same lazy DISK_ONLY checkpoint as jaccard_pairs'
    # kept stream: tokenize/hash once, both consumers re-read blocks.
    grams = checkpoint(grams)
    hot = grams.groupBy("gkey").count().filter(F.col("count") >= 2).select("gkey")
    rep = grams.join(hot, "gkey", "left_semi").select("doc_id", "pos")
    w_rn = Window.partitionBy("doc_id").orderBy("pos")
    islands = rep.withColumn("island", F.col("pos") - F.row_number().over(w_rn))
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(_ES_K - 1)).alias("span_end"),
            (F.max("pos") + F.lit(_ES_K) - F.min("pos")).alias("span_tokens"),
            F.count(F.lit(1)).alias("n_repeat_grams"),
        )
        .drop("island")
    )


@query(
    "dedup_exact_substring",
    section="2.I",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' {_ES_BOILER}' ELSE text END AS text
  FROM documents
), grams AS (
  SELECT doc_id, i AS pos, md5({_ES_GRAM_SQL}) AS gkey
  FROM (SELECT doc_id, {_TOKS} AS t FROM corpus),
       unnest(range(1, len(t) - {_ES_K} + 2)) AS u(i)
), rep AS (
  SELECT doc_id, pos
  FROM (SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY gkey) AS cnt FROM grams)
  WHERE cnt >= 2
), islands AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM rep
)
SELECT doc_id,
       MIN(pos) AS span_start,
       MAX(pos) + {_ES_K} - 1 AS span_end,
       MAX(pos) + {_ES_K} - MIN(pos) AS span_tokens,
       COUNT(*) AS n_repeat_grams
FROM islands GROUP BY doc_id, island
""",
)
def dedup_exact_substring(spark, sf_dir):
    """Exact-substring dedup (Lee et al. 2022, arXiv:2107.06499
    "Deduplicating Training Data Makes Language Models Better"):
    report every MAXIMAL token span of length >= {_ES_K} that occurs
    more than once in the corpus — the spans ExactSubstr dedup would
    cut out of training text. The reference method builds a suffix
    array, which does not distribute; the relational equivalent is
    fixed-width gram matching + span merge: a span repeats ONLY IF all
    its {_ES_K}-grams repeat (the converse does not hold — adjacent
    grams whose repeats occur at DIFFERENT counterpart locations merge
    into one island, so a reported maximal span can over-extend past
    any single repeated occurrence: recall-exact, precision-approximate
    versus the suffix array; the oracle mirrors the identical
    approximation so the pin holds). Steps: (1) explode each doc into
    {_ES_K}-token grams with positions, (2) keep positions whose gram
    occurs >= 2 times corpus-wide (partial-agg count on the gram key +
    semi-join back), (3) merge consecutive repeated positions per doc
    into maximal spans with the gaps-and-islands trick
    (pos - row_number). The guaranteed repeats
    are injected deterministically (a novel-token boilerplate sentence
    on every 7th doc); both engines derive the identical span set —
    exact strings and integers end to end. Notably the op also
    surfaces ORGANIC duplication in the fixtures: the generator
    emitted docs sharing long prefixes (e.g. doc 98 and doc 290 at
    sf0.01 share a 93-token prefix — not exact dups, so
    dedup_exact_hash misses them; dedup_ngram_jaccard flags the pairs
    but not WHERE they overlap). This op localizes the spans — the
    cut-list ExactSubstr training-data surgery needs — and they
    hash-match the oracle at every scale.

    Scale: the corpus-wide repeat test is a partial aggregation
    (`groupBy(gkey).count()`) followed by a broadcast-or-shuffled
    LEFT SEMI join of the grams back onto the `cnt >= 2` keys — NOT a
    window over the gram key. A window would force every occurrence of
    a hot gram into ONE task, and this op's entire purpose is finding
    hot repeated grams: at 100 TB one boilerplate gram shared by
    billions of docs would become a single straggler/OOM task. The
    partial agg collapses the hot key map-side (each map task emits
    one (gkey, partial_count) row), and the semi-join is an equi-join
    AQE can skew-split. Both sides shuffle the md5 DIGEST of each gram
    (same trick as dedup_exact_hash), so the exchange carries fixed
    32-byte keys instead of 8-token strings — both engines hash the
    identical gram string, so the repeat sets are unchanged (collision
    probability 2^-128-scale, far below fixture determinism concerns).
    The islands merge is partitioned by doc — narrow. The suffix
    array's
    arbitrary-length guarantee is recovered by construction: any
    repeated span of length L >= {_ES_K} is the union of its L-{_ES_K}+1
    repeated grams, which merge back into the maximal span."""
    corpus = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat("text", F.lit(" " + _ES_BOILER))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return exact_substring_spans(corpus)


# ---------------------------------------------------------------------------
# Exact-substring APPLY — the ExactSubstr training-data surgery
# ---------------------------------------------------------------------------

_ES_CORPUS_SQL = f"""
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' {_ES_BOILER}' ELSE text END AS text
  FROM documents
"""


@query(
    "dedup_exact_substring_apply",
    section="2.I",
    oracle=f"""
WITH corpus AS ({_ES_CORPUS_SQL}),
toks AS (SELECT doc_id, {_TOKS} AS t FROM corpus),
grams AS (
  SELECT doc_id, i AS pos, md5({_ES_GRAM_SQL}) AS gkey
  FROM toks, unnest(range(1, len(t) - {_ES_K} + 2)) AS u(i)
), rep AS (
  SELECT doc_id, pos
  FROM (SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY gkey) AS cnt FROM grams)
  WHERE cnt >= 2
), islands AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM rep
), spans AS (
  SELECT doc_id, MIN(pos) AS s, MAX(pos) + {_ES_K} - 1 AS e
  FROM islands GROUP BY doc_id, island
), covered AS (
  SELECT DISTINCT doc_id, s + d AS idx
  FROM spans, unnest(range(0, e - s + 1)) AS v(d)
), tokpos AS (
  SELECT doc_id, i AS idx, t[i] AS tok
  FROM toks, unnest(range(1, len(t) + 1)) AS u(i)
), kept AS (
  SELECT k.doc_id, k.idx, k.tok
  FROM tokpos k LEFT JOIN covered c ON c.doc_id = k.doc_id AND c.idx = k.idx
  WHERE c.idx IS NULL
), cleaned AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS cleaned_text
  FROM kept GROUP BY doc_id
)
SELECT r.doc_id,
       CAST(tt.n_tokens AS BIGINT) AS n_tokens,
       CAST(r.n_removed AS BIGINT) AS n_removed,
       COALESCE(c.cleaned_text, '') AS cleaned_text
FROM (SELECT doc_id, COUNT(*) AS n_removed FROM covered GROUP BY doc_id) r
JOIN (SELECT doc_id, len(t) AS n_tokens FROM toks) tt ON tt.doc_id = r.doc_id
LEFT JOIN cleaned c ON c.doc_id = r.doc_id
""",
)
def dedup_exact_substring_apply(spark, sf_dir):
    """The APPLY half of ExactSubstr dedup (Lee et al. 2022,
    arXiv:2107.06499 §4.2): dedup_exact_substring reports the maximal
    repeated spans; this op performs the surgery the paper trains on —
    cut every token covered by a repeated span out of the text and
    reassemble the remainder. Policy (deterministic, mirrored by the
    oracle): ALL occurrences of a repeated span are removed, i.e. a
    token survives iff no repeated >= {_ES_K}-gram covers it. Output is
    one row per affected doc: doc_id, n_tokens (before), n_removed,
    cleaned_text (surviving tokens joined by single spaces; empty
    string when the whole doc was repeated). Covered positions are
    DISTINCT-ed before counting because adjacent maximal islands can
    cover overlapping token ranges (islands are maximal in gram-START
    space; their +{_ES_K}-1 token extensions may overlap).

    Scale: reuses exact_substring_spans' partial-agg + semi-join
    repeat test (no hot-gram window — see dedup_exact_substring).
    The apply stages are all doc-partitioned and narrow after one
    equi anti-join of token positions against covered positions:
    tokens explode ~L rows/doc, covered explodes ~span length, both
    keyed (doc_id, idx) — co-partitioned, AQE-splittable, no global
    state. Reassembly is a per-doc sort of collected (idx, tok)
    structs — bounded by doc length, never corpus-wide. At 100 TB the
    cut-list (spans) is a tiny side output of the detect pass; apply
    streams the corpus through one join against it."""
    corpus = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat("text", F.lit(" " + _ES_BOILER))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    spans = exact_substring_spans(corpus)
    # covered feeds two consumers (the anti-join and the n_removed
    # count); without materialization each re-ran the islands window +
    # span merge from the checkpointed grams (r13, guide §2.4). It is
    # span-sized — tiny next to the corpus.
    covered = checkpoint(
        spans.select(
            "doc_id", F.explode(F.sequence("span_start", "span_end")).alias("idx")
        ).distinct()
    )
    tokpos = corpus.select(
        "doc_id", F.posexplode(toks).alias("idx0", "tok")
    ).select("doc_id", (F.col("idx0") + 1).alias("idx"), "tok")
    kept = tokpos.join(covered, ["doc_id", "idx"], "left_anti")
    cleaned = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "tok"))),
                lambda x: x["tok"],
            ),
        ).alias("cleaned_text")
    )
    totals = corpus.select("doc_id", F.size(toks).cast("long").alias("n_tokens"))
    removed = covered.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_removed"))
    return (
        removed.join(totals, "doc_id")
        .join(cleaned, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_removed",
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental dedup — new-batch-vs-corpus, the production shape
# ---------------------------------------------------------------------------

#: The standing corpus is every doc with doc_id % 10 != 3; the
#: increment is the % 10 == 3 docs (genuinely new) plus manufactured
#: collisions: a copy of every 20th corpus doc (dup_of_corpus) and a
#: second copy of every 50th increment doc (dup_within_batch).
_INCR_SQL = f"""
  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 3
  UNION ALL
  SELECT doc_id + {_DUP_OFFSET} AS doc_id, text
  FROM documents WHERE doc_id % 10 != 3 AND doc_id % 20 = 0
  UNION ALL
  SELECT doc_id + {2 * _DUP_OFFSET} AS doc_id, text
  FROM documents WHERE doc_id % 50 = 3
"""


@query(
    "dedup_incremental",
    section="2.I",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 != 3
), incr AS ({_INCR_SQL}),
corpus_index AS (
  SELECT {_NORM_SQL} AS h, MIN(doc_id) AS corpus_keeper
  FROM corpus GROUP BY 1
), incr_hashed AS (
  SELECT doc_id, {_NORM_SQL} AS h FROM incr
), vs_corpus AS (
  SELECT i.doc_id, i.h, ci.corpus_keeper
  FROM incr_hashed i LEFT JOIN corpus_index ci ON ci.h = i.h
), batch_keeper AS (
  SELECT h, MIN(doc_id) AS batch_keeper
  FROM vs_corpus WHERE corpus_keeper IS NULL GROUP BY h
)
SELECT v.doc_id,
       CASE WHEN v.corpus_keeper IS NOT NULL THEN 'dup_of_corpus'
            WHEN v.doc_id != bk.batch_keeper THEN 'dup_within_batch'
            ELSE 'new' END AS status,
       CASE WHEN v.corpus_keeper IS NOT NULL THEN v.corpus_keeper
            WHEN v.doc_id != bk.batch_keeper THEN bk.batch_keeper
            ELSE NULL END AS keeper_id
FROM vs_corpus v LEFT JOIN batch_keeper bk ON bk.h = v.h
""",
)
def dedup_incremental(spark, sf_dir):
    """Incremental dedup — the shape a 100 TB corpus actually runs:
    an arriving batch is checked against the STANDING corpus's digest
    index instead of re-deduplicating the world. Each increment doc is
    classified: 'dup_of_corpus' (normalized content hash already in
    the corpus index; keeper_id = the corpus's min-id holder),
    'dup_within_batch' (hash is new to the corpus but repeats inside
    the batch; keeper_id = the batch's min-id holder), or 'new'
    (keeper_id NULL). Exact string/int output, fully SQL-mirrored.

    Scale: the corpus side is pre-aggregated to one (digest,
    min doc_id) row per distinct content — at 100 TB that index is a
    maintained table (bucketed by digest), NOT a per-batch scan; the
    lookup is then an equi join of a (typically small) increment
    against it, broadcastable when the batch is small and
    AQE-skew-splittable when a hot digest floods the batch. The
    within-batch keeper is a partial-agg groupBy on the digest plus an
    equi join back (the dedup_exact_substring pattern) — no window on
    the hash key, so a billion-copy hot document collapses map-side
    instead of landing in one task. Ref: dedup_exact_hash (the
    full-corpus variant of the same digest)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % 10 != 3)
    incr = (
        d.filter(F.col("doc_id") % 10 == 3)
        .unionByName(
            corpus.filter(F.col("doc_id") % 20 == 0).select(
                (F.col("doc_id") + _DUP_OFFSET).alias("doc_id"), "text"
            )
        )
        .unionByName(
            d.filter(F.col("doc_id") % 50 == 3).select(
                (F.col("doc_id") + 2 * _DUP_OFFSET).alias("doc_id"), "text"
            )
        )
    )
    corpus_index = (
        corpus.select(_norm().alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("corpus_keeper"))
    )
    incr_hashed = incr.select("doc_id", _norm().alias("h"))
    vs_corpus = incr_hashed.join(corpus_index, "h", "left")
    batch_keeper = (
        vs_corpus.filter(F.col("corpus_keeper").isNull())
        .groupBy("h")
        .agg(F.min("doc_id").alias("batch_keeper"))
    )
    return vs_corpus.join(batch_keeper, "h", "left").select(
        "doc_id",
        F.when(F.col("corpus_keeper").isNotNull(), F.lit("dup_of_corpus"))
        .when(F.col("doc_id") != F.col("batch_keeper"), F.lit("dup_within_batch"))
        .otherwise(F.lit("new"))
        .alias("status"),
        F.when(F.col("corpus_keeper").isNotNull(), F.col("corpus_keeper"))
        .when(F.col("doc_id") != F.col("batch_keeper"), F.col("batch_keeper"))
        .alias("keeper_id"),
    )


# ---------------------------------------------------------------------------
# Containment — asymmetric near-dup (fragment ⊂ document)
# ---------------------------------------------------------------------------

#: Fragment corpus: every 25th doc with >= 32 tokens contributes a
#: 24-token prefix fragment under a new id. Jaccard misses these pairs
#: (|frag| / |doc| ~ 24/54 => J ~ 0.4 < 0.6); containment of the
#: fragment's shingle set in the source's is ~1.0.
_FRAG_LEN = 24
_FRAG_SQL = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_DUP_OFFSET} AS doc_id,
         array_to_string({_TOKS}[1:{_FRAG_LEN}], ' ') AS text
  FROM documents WHERE doc_id % 25 = 0 AND len({_TOKS}) >= 32
"""


@query(
    "dedup_containment",
    section="2.I",
    oracle=f"""
WITH corpus AS ({_FRAG_SQL}),
shingled AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len({_TOKS}) - 2),
             i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1] || ' ' || {_TOKS}[i+2])) AS shingles
  FROM corpus
), exploded AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM shingled
), kept AS (
  SELECT doc_id, shingle FROM (
    SELECT doc_id, shingle,
           COUNT(*) OVER (PARTITION BY shingle) AS df,
           (SELECT COUNT(*) FROM corpus) AS n_docs
    FROM exploded
  ) WHERE 2 * df <= n_docs
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY doc_id
), pair_inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM kept a JOIN kept b
    ON a.shingle = b.shingle AND a.doc_id != b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       CAST(n_inter AS BIGINT) AS n_inter,
       CAST(sa.n_sh AS BIGINT) AS n_sh_a,
       round(CAST(n_inter AS DOUBLE) / sa.n_sh, 6) AS containment
FROM pair_inter
JOIN sizes sa ON sa.doc_id = id_a
WHERE sa.n_sh >= 5 AND 10 * n_inter >= 9 * sa.n_sh
""",
)
def dedup_containment(spark, sf_dir):
    """Asymmetric containment dedup: report ordered pairs (id_a, id_b)
    where >= 90% of doc A's 3-token shingles also occur in doc B —
    the quote/fragment/boilerplate-inclusion relation that symmetric
    Jaccard structurally misses (a 24-token fragment of a 54-token doc
    scores J ~ 0.4 but containment ~ 1.0). C(A->B) =
    |S_A inter S_B| / |S_A| over the df-cut shingle universe (hot
    shingles with df > 50% of the corpus dropped on BOTH engines, the
    dedup_ngram_jaccard cut); the threshold is the exact integer
    comparison 10*n_inter >= 9*n_sh_a — no float boundary — with
    n_sh_a >= 5 screening degenerate tiny docs. Both directions of a
    pair are evaluated independently (id_a != id_b, not <): fragment
    in doc passes, doc in fragment fails.

    Scale: identical candidate topology to dedup_ngram_jaccard — an
    inverted-index equi self-join on the shingle key (a pair is only
    scored if it shares a kept shingle), never all-pairs; the df-cut
    bounds per-key fan-out before the join, and the join is
    AQE-skew-splittable. The n_sh_a denominator join is a narrow
    (doc_id -> count) equi join. At 100 TB this is the standard
    suffix/quote decontamination screen run between a training corpus
    and an eval set: make side A the eval shingles (tiny, broadcast)
    and the same plan prunes to one scan of the corpus."""
    corpus = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    frags = (
        corpus.filter((F.col("doc_id") % 25 == 0) & (F.size(toks) >= 32))
        .select(
            (F.col("doc_id") + _DUP_OFFSET).alias("doc_id"),
            F.array_join(F.slice(toks, 1, _FRAG_LEN), " ").alias("text"),
        )
    )
    full = corpus.unionByName(frags)
    exploded = _shingled3_exploded(full)
    # df-cut via partial agg + broadcast LEFT ANTI against the hot
    # set, computed once behind a lazy checkpoint — see df_cut_kept
    # for the full shape rationale and measurements.
    kept = checkpoint(df_cut_kept(exploded, full))
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = kept.select(F.col("doc_id").alias("id_a"), "shingle")
    b = kept.select(F.col("doc_id").alias("id_b"), "shingle")
    # r13 (guide §2.3): |S_A ∩ S_B| is SYMMETRIC, so count each
    # unordered pair once (id_a < id_b — half the pair-count shuffle
    # and aggregation state), then evaluate the two DIRECTED
    # thresholds from the one count. Each qualifying direction is
    # emitted exactly as before; only the duplicate mirror-image
    # counting work is gone. (`half` has a single consumer, so no
    # checkpoint is needed here — `kept` above is the checkpoint.)
    # r14: contained-side prefix filtering was tried and REVERTED —
    # output-preserving (hash-proved tri-scale) but measurably slower
    # on this candidate-dense corpus; see jaccard_pairs' docstring.
    half = (
        a.join(b, ["shingle"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_sh_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_sh_b"))
    half = half.join(sa, "id_a").join(sb, "id_b")

    def directed(id_a, id_b, n_sh):
        return F.when(
            (F.col(n_sh) >= 5) & (10 * F.col("n_inter") >= 9 * F.col(n_sh)),
            F.struct(
                F.col(id_a).alias("id_a"),
                F.col(id_b).alias("id_b"),
                F.col("n_inter").alias("n_inter"),
                F.col(n_sh).alias("n_sh_a"),
            ),
        )

    return (
        half
        .select(
            F.explode(
                F.array(
                    directed("id_a", "id_b", "n_sh_a"),
                    directed("id_b", "id_a", "n_sh_b"),
                )
            ).alias("e")
        )
        .filter(F.col("e").isNotNull())
        .select(
            "e.id_a",
            "e.id_b",
            "e.n_inter",
            "e.n_sh_a",
            F.round(
                F.col("e.n_inter").cast("double") / F.col("e.n_sh_a"), 6
            ).alias("containment"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_incremental_minhash (round 11) — NEAR-dup incremental dedup
# ---------------------------------------------------------------------------

#: Arriving batch for the near-dup incremental scenario: the %10==3
#: originals, plus TRUNCATED copies (last 3 tokens dropped) of corpus
#: docs and of batch docs — near-duplicates an exact digest can NEVER
#: catch (dedup_incremental's miss case, by construction).
_INCR_NEAR_SQL = f"""
  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 3
  UNION ALL
  SELECT doc_id + {_DUP_OFFSET} AS doc_id,
         array_to_string({_TOKS}[1:len({_TOKS}) - 3], ' ') AS text
  FROM documents WHERE doc_id % 10 != 3 AND doc_id % 20 = 0
  UNION ALL
  SELECT doc_id + {2 * _DUP_OFFSET} AS doc_id,
         array_to_string({_TOKS}[1:len({_TOKS}) - 3], ' ') AS text
  FROM documents WHERE doc_id % 50 = 3
"""

_MINHASH_SIG_SQL = """
  SELECT doc_id, h, MIN(md5(CAST(h AS VARCHAR) || '|' || shingle)) AS mh
  FROM {src} CROSS JOIN range(0, {k}) t(h)
  GROUP BY doc_id, h
"""

_MINHASH_BANDS_SQL = """
  SELECT doc_id, h // 2 AS band,
         MIN(CASE WHEN h % 2 = 0 THEN mh END) || '#'
           || MIN(CASE WHEN h % 2 = 1 THEN mh END) AS band_key
  FROM {src} GROUP BY doc_id, h // 2
"""


def _minhash_parts(docs):
    """(sig, bands) for a (doc_id, text) frame — the dedup_minhash_sql
    pipeline factored for reuse by the incremental variant."""
    shingled = _shingled3_exploded(docs)
    hs = F.explode(F.sequence(F.lit(0), F.lit(_K_HASHES - 1))).alias("h")
    sig = (
        shingled.select("doc_id", "shingle", hs)
        .select(
            "doc_id",
            "h",
            F.md5(
                F.concat(F.col("h").cast("string"), F.lit("|"), F.col("shingle"))
            ).alias("mh"),
        )
        .groupBy("doc_id", "h")
        .agg(F.min("mh").alias("mh"))
    )
    # r13: same multi-consumer materialization as dedup_minhash_sql —
    # each returned sig is read by its bands aggregate AND by the
    # verify join(s) (i_sig three times in the incremental op), so the
    # checkpoint collapses 2-3 shingle-explode × md5 pipelines into 1.
    sig = checkpoint(sig)
    bands = sig.groupBy("doc_id", F.expr("h DIV 2").alias("band")).agg(
        F.concat(
            F.min(F.when(F.col("h") % 2 == 0, F.col("mh"))),
            F.lit("#"),
            F.min(F.when(F.col("h") % 2 == 1, F.col("mh"))),
        ).alias("band_key")
    )
    return sig, bands


@query(
    "dedup_incremental_minhash",
    section="2.I",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 != 3
), incr AS ({_INCR_NEAR_SQL}),
c_shingled AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len({_TOKS}) - 2),
             i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1] || ' ' || {_TOKS}[i+2]))) AS shingle
  FROM corpus
),
i_shingled AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len({_TOKS}) - 2),
             i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1] || ' ' || {_TOKS}[i+2]))) AS shingle
  FROM incr
),
c_sig AS ({_MINHASH_SIG_SQL.format(src="c_shingled", k=_K_HASHES)}),
i_sig AS ({_MINHASH_SIG_SQL.format(src="i_shingled", k=_K_HASHES)}),
c_bands AS ({_MINHASH_BANDS_SQL.format(src="c_sig")}),
i_bands AS ({_MINHASH_BANDS_SQL.format(src="i_sig")}),
vs_corpus AS (
  SELECT DISTINCT i.doc_id AS batch_id, c.doc_id AS corpus_id
  FROM i_bands i JOIN c_bands c
    ON i.band = c.band AND i.band_key = c.band_key
),
vs_corpus_ok AS (
  SELECT batch_id, corpus_id
  FROM vs_corpus
  JOIN i_sig si ON si.doc_id = batch_id
  JOIN c_sig sc ON sc.doc_id = corpus_id AND sc.h = si.h
  GROUP BY batch_id, corpus_id
  HAVING SUM(CASE WHEN si.mh = sc.mh THEN 1 ELSE 0 END) >= {_K_HASHES} / 2
),
corpus_keeper AS (
  SELECT batch_id, MIN(corpus_id) AS keeper FROM vs_corpus_ok GROUP BY batch_id
),
within AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM i_bands a JOIN i_bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
within_ok AS (
  SELECT id_a, id_b
  FROM within
  JOIN i_sig sa ON sa.doc_id = id_a
  JOIN i_sig sb ON sb.doc_id = id_b AND sb.h = sa.h
  GROUP BY id_a, id_b
  HAVING SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) >= {_K_HASHES} / 2
),
batch_keeper AS (
  SELECT id_b AS batch_id, MIN(id_a) AS keeper FROM within_ok GROUP BY id_b
)
SELECT i.doc_id,
       CASE WHEN ck.keeper IS NOT NULL THEN 'near_dup_of_corpus'
            WHEN bk.keeper IS NOT NULL THEN 'near_dup_within_batch'
            ELSE 'new' END AS status,
       COALESCE(ck.keeper, bk.keeper) AS keeper_id
FROM incr i
LEFT JOIN corpus_keeper ck ON ck.batch_id = i.doc_id
LEFT JOIN batch_keeper bk ON bk.batch_id = i.doc_id
""",
)
def dedup_incremental_minhash(spark, sf_dir):
    """NEAR-duplicate incremental dedup — what dedup_incremental's
    exact digest can NEVER catch: the arriving batch carries
    TRUNCATED copies (3 tokens dropped) of standing-corpus docs and
    of batch docs, invisible to any content hash but ~0.9 Jaccard.
    The standing corpus's MinHash BAND INDEX (4 bands × 2 rows, the
    same md5 permutation family as dedup_minhash_sql) is the
    maintained artifact; the batch's bands probe it, band-collision
    candidates are verified at signature agreement >= 1/2, and each
    batch doc is classified: near_dup_of_corpus (keeper = min
    verified corpus match), near_dup_within_batch (keeper = min
    verified smaller-id batch partner; PAIRWISE, by design —
    transitive clustering is dedup_cc_clusters' job), or new.

    Scale: the corpus band index is a maintained bucketed table at
    100 TB — this plan touches it with one equi join keyed (band,
    band_key), never all-pairs and never a corpus rescan; the
    signature-verify joins are candidate-pair-sized. The within-batch
    side is batch² only through band collisions."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    trunc = F.array_join(F.slice(toks, 1, F.size(toks) - 3), " ")
    corpus = d.filter(F.col("doc_id") % 10 != 3)
    incr = (
        d.filter(F.col("doc_id") % 10 == 3)
        .unionByName(
            corpus.filter(F.col("doc_id") % 20 == 0).select(
                (F.col("doc_id") + _DUP_OFFSET).alias("doc_id"),
                trunc.alias("text"),
            )
        )
        .unionByName(
            d.filter(F.col("doc_id") % 50 == 3).select(
                (F.col("doc_id") + 2 * _DUP_OFFSET).alias("doc_id"),
                trunc.alias("text"),
            )
        )
    )
    c_sig, c_bands = _minhash_parts(corpus)
    i_sig, i_bands = _minhash_parts(incr)

    def verified(cand, left_sig, right_sig, lid, rid):
        sa = left_sig.select(F.col("doc_id").alias(lid), "h", F.col("mh").alias("mh_a"))
        sb = right_sig.select(F.col("doc_id").alias(rid), "h", F.col("mh").alias("mh_b"))
        return (
            cand.join(sa, lid)
            .join(sb, [rid, "h"])
            .groupBy(lid, rid)
            .agg(
                F.sum(F.when(F.col("mh_a") == F.col("mh_b"), 1).otherwise(0)).alias(
                    "n_match"
                )
            )
            .filter(F.col("n_match") >= _K_HASHES // 2)
            .select(lid, rid)
        )

    vs_corpus = (
        i_bands.select(F.col("doc_id").alias("batch_id"), "band", "band_key")
        .join(
            c_bands.select(F.col("doc_id").alias("corpus_id"), "band", "band_key"),
            ["band", "band_key"],
        )
        .select("batch_id", "corpus_id")
        .distinct()
    )
    corpus_keeper = (
        verified(vs_corpus, i_sig, c_sig, "batch_id", "corpus_id")
        .groupBy("batch_id")
        .agg(F.min("corpus_id").alias("c_keeper"))
    )
    within = (
        i_bands.select(F.col("doc_id").alias("id_a"), "band", "band_key")
        .join(
            i_bands.select(F.col("doc_id").alias("id_b"), "band", "band_key"),
            ["band", "band_key"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    batch_keeper = (
        verified(within, i_sig, i_sig, "id_a", "id_b")
        .groupBy("id_b")
        .agg(F.min("id_a").alias("b_keeper"))
        .withColumnRenamed("id_b", "batch_id")
    )
    return (
        incr.select("doc_id")
        .join(
            F.broadcast(corpus_keeper),
            F.col("doc_id") == F.col("batch_id"),
            "left",
        )
        .drop("batch_id")
        .join(
            F.broadcast(batch_keeper),
            F.col("doc_id") == F.col("batch_id"),
            "left",
        )
        .drop("batch_id")
        .select(
            "doc_id",
            F.when(F.col("c_keeper").isNotNull(), F.lit("near_dup_of_corpus"))
            .when(F.col("b_keeper").isNotNull(), F.lit("near_dup_within_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
            F.coalesce(F.col("c_keeper"), F.col("b_keeper")).alias("keeper_id"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_bloom_prefilter (round 11) — Bloom-filter membership prefilter
# for arriving-batch dedup, with exact false-positive accounting.
# ---------------------------------------------------------------------------

_BLOOM_NORM = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"


@query(
    "dedup_bloom_prefilter",
    section="2.I",
    oracle=f"""
WITH standing AS (
  SELECT doc_id, md5({_BLOOM_NORM}) AS h FROM documents WHERE doc_id % 4 != 0
), arriving AS (
  SELECT doc_id, md5({_BLOOM_NORM}) AS h FROM documents WHERE doc_id % 4 = 0
  UNION ALL
  SELECT doc_id + {{off}} AS doc_id, md5({_BLOOM_NORM}) AS h
  FROM documents WHERE doc_id % 4 != 0 AND doc_id % 8 = 1
), bits AS (
  SELECT DISTINCT ('0x' || substr(h, 1 + 4 * j, 4))::BIGINT AS pos
  FROM standing CROSS JOIN (SELECT unnest([0, 1, 2]) AS j)
), probes AS (
  SELECT a.doc_id, a.h, ('0x' || substr(a.h, 1 + 4 * j.j, 4))::BIGINT AS pos
  FROM arriving a CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) j
), verdicts AS (
  SELECT p.doc_id, p.h,
         CAST(MIN(CASE WHEN bits.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS maybe
  FROM probes p LEFT JOIN bits ON bits.pos = p.pos
  GROUP BY p.doc_id, p.h
), truth AS (
  SELECT v.doc_id, v.maybe,
         CASE WHEN EXISTS (SELECT 1 FROM standing s WHERE s.h = v.h)
              THEN 1 ELSE 0 END AS is_dup
  FROM verdicts v
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM standing) AS n_standing,
       CAST(COUNT(*) AS BIGINT) AS n_arriving,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS n_bits_set,
       CAST(SUM(maybe) AS BIGINT) AS n_maybe_dup,
       CAST(SUM(is_dup) AS BIGINT) AS n_true_dup,
       CAST(SUM(CASE WHEN maybe = 1 AND is_dup = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_pos,
       CAST(SUM(CASE WHEN maybe = 0 AND is_dup = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_missed
FROM truth
""".replace("{off}", "1000000"),
)
def dedup_bloom_prefilter(spark, sf_dir):
    """Bloom-filter membership prefilter for arriving-batch dedup
    [Bloom 1970; the standard production shape: a compact bit-set of
    the standing corpus routes the arriving batch so only maybe-dups
    pay the exact comparison]. m = 2^16 positions, k = 3 hashes (md5
    hex chunks of the whitespace-normalized text — the dedup family's
    normalization). An arriving doc is maybe-dup iff ALL THREE of its
    positions are set. The exact truth (normalized-hash semi join)
    classifies every verdict, so the output pins both sides of the
    filter's contract in one row: n_missed MUST be 0 (Bloom filters
    have no false negatives — a miss here is an implementation bug,
    not a tuning artifact), while n_false_pos is the measured cost of
    the shortcut (expected ~ (1-e^{-kn/m})^k of novel docs).

    Scale: the bit-set is <= 65,536 distinct positions REGARDLESS of
    corpus size — it broadcasts at any scale; the arriving batch is
    scanned once, probed against the broadcast, and only the maybe
    slice would reach the exact join in the production chain
    (dedup_incremental). Arriving batch: every 4th doc (novel) plus
    re-keyed copies of standing docs with doc_id % 8 == 1 (true
    dups)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    standing = d.filter(F.col("doc_id") % 4 != 0).select(
        "doc_id", F.md5(norm).alias("h")
    )
    arriving = (
        d.filter(F.col("doc_id") % 4 == 0)
        .select("doc_id", F.md5(norm).alias("h"))
        .unionByName(
            d.filter((F.col("doc_id") % 4 != 0) & (F.col("doc_id") % 8 == 1)).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), F.md5(norm).alias("h")
            )
        )
    )

    def positions(df):
        return df.select(
            "doc_id",
            "h",
            F.explode(
                F.array(
                    *[
                        F.conv(F.substring("h", 1 + 4 * j, 4), 16, 10).cast("long")
                        for j in range(3)
                    ]
                )
            ).alias("pos"),
        )

    bits = positions(standing).select("pos").distinct()
    probed = positions(arriving).join(
        F.broadcast(bits.withColumn("hit", F.lit(1))), "pos", "left"
    )
    verdicts = probed.groupBy("doc_id", "h").agg(
        F.min(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("maybe")
    )
    truth = verdicts.join(
        F.broadcast(
            standing.select("h").distinct().withColumn("present", F.lit(1))
        ),
        "h",
        "left",
    ).select(
        "doc_id",
        "maybe",
        F.coalesce(F.col("present"), F.lit(0)).cast("long").alias("is_dup"),
    )
    n_standing = standing.agg(F.count(F.lit(1)).cast("long").alias("n_standing"))
    n_bits = bits.agg(F.count(F.lit(1)).cast("long").alias("n_bits_set"))
    summary = truth.agg(
        F.count(F.lit(1)).cast("long").alias("n_arriving"),
        F.sum("maybe").cast("long").alias("n_maybe_dup"),
        F.sum("is_dup").cast("long").alias("n_true_dup"),
        F.sum(
            F.when((F.col("maybe") == 1) & (F.col("is_dup") == 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_false_pos"),
        F.sum(
            F.when((F.col("maybe") == 0) & (F.col("is_dup") == 1), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_missed"),
    )
    return (
        n_standing.crossJoin(summary)
        .crossJoin(n_bits)
        .select(
            "n_standing",
            "n_arriving",
            "n_bits_set",
            "n_maybe_dup",
            "n_true_dup",
            "n_false_pos",
            "n_missed",
        )
    )


# ---------------------------------------------------------------------------
# dedup_cascade_keep (round 11) — the production dedup chain as ONE
# decision table: exact -> near, with stage attribution + canonical id.
# ---------------------------------------------------------------------------

_CASCADE_CORPUS_SQL = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_DUP_OFFSET} AS doc_id, text
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + {2 * _DUP_OFFSET} AS doc_id,
         array_to_string({_TOKS}[1:len({_TOKS}) - 3], ' ') AS text
  FROM documents WHERE doc_id % 10 = 5
"""


@query(
    "dedup_cascade_keep",
    section="2.I",
    oracle=f"""
WITH corpus AS ({_CASCADE_CORPUS_SQL}),
hashed AS (
  SELECT doc_id, {_NORM_SQL} AS h FROM corpus
), grp AS (
  SELECT h, MIN(doc_id) AS canon FROM hashed GROUP BY h
), ex AS (
  SELECT hashed.doc_id, grp.canon FROM hashed JOIN grp ON grp.h = hashed.h
), survivors AS (
  SELECT c.doc_id, c.text FROM corpus c JOIN ex ON ex.doc_id = c.doc_id
  WHERE ex.canon = c.doc_id
), shingled AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len({_TOKS}) - 2),
             i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1] || ' ' || {_TOKS}[i+2])) AS sh
  FROM survivors
), exploded AS (
  SELECT doc_id, unnest(sh) AS shingle FROM shingled
), keptsh AS (
  SELECT doc_id, shingle FROM (
    SELECT doc_id, shingle,
           COUNT(*) OVER (PARTITION BY shingle) AS df,
           (SELECT COUNT(*) FROM survivors) AS n_docs
    FROM exploded
  ) WHERE 2 * df <= n_docs
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM keptsh GROUP BY doc_id
), pair_inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM keptsh a JOIN keptsh b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), pairs AS (
  SELECT id_a, id_b FROM pair_inter
  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) > 0.6
), near AS (
  SELECT id_b AS doc_id, MIN(id_a) AS canon FROM pairs GROUP BY id_b
)
SELECT c.doc_id,
       CASE WHEN ex.canon != c.doc_id THEN 'exact'
            WHEN near.doc_id IS NOT NULL THEN 'near'
            ELSE 'kept' END AS stage,
       CASE WHEN ex.canon != c.doc_id THEN ex.canon
            WHEN near.doc_id IS NOT NULL THEN near.canon
            ELSE c.doc_id END AS canonical_id
FROM corpus c
JOIN ex ON ex.doc_id = c.doc_id
LEFT JOIN near ON near.doc_id = c.doc_id
""",
)
def dedup_cascade_keep(spark, sf_dir):
    """The production dedup CASCADE as one decision table: stage 1
    removes exact duplicates (normalized-hash groups, keep-min-id),
    stage 2 runs shingle-Jaccard near-dup (> 0.6, df-cut universe
    computed over stage-1 SURVIVORS) and removes the larger id of
    each pair — every document gets (stage, canonical_id) attribution,
    the record a corpus-governance audit asks for ("why was this doc
    dropped, and what replaced it"). Near-stage removal is the
    pairwise keep-min rule (id_b of any >0.6 pair, canonical = its
    smallest partner); full transitive-closure canonicalization is
    dedup_cc_clusters' contract — this op pins the cascade's
    stage-attribution algebra. Corpus: originals + exact copies of
    every 10th doc + truncated variants of each doc_id%10==5, so BOTH
    stages fire and the oracle hash-pins which stage caught which doc.

    Scale: stage 1 is the dedup_exact_hash partial-agg shape; stage 2
    reuses jaccard_pairs (df-cut inverted index, broadcast hot-set
    anti join); the composition adds only user-keyed equi joins —
    cascade cost = sum of stage costs, no cross-stage blow-up."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    corpus = cache(
        d.unionByName(
            d.filter(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + _DUP_OFFSET).alias("doc_id"), "text"
            )
        ).unionByName(
            d.filter(F.col("doc_id") % 10 == 5).select(
                (F.col("doc_id") + 2 * _DUP_OFFSET).alias("doc_id"),
                F.array_join(F.slice(toks, 1, F.size(toks) - 3), " ").alias("text"),
            )
        )
    )
    hashed = corpus.select("doc_id", _norm().alias("h"))
    grp = hashed.groupBy("h").agg(F.min("doc_id").alias("canon"))
    ex = hashed.join(grp, "h").select("doc_id", "canon")
    survivors = (
        corpus.join(ex.withColumnRenamed("doc_id", "sid"), F.col("sid") == F.col("doc_id"))
        .filter(F.col("canon") == F.col("doc_id"))
        .select("doc_id", "text")
    )
    pairs = jaccard_pairs(survivors, 0.6)
    near = pairs.groupBy(F.col("id_b").alias("doc_id")).agg(
        F.min("id_a").alias("ncanon")
    )
    return (
        corpus.select("doc_id")
        .join(ex, "doc_id")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("canon") != F.col("doc_id"), F.lit("exact"))
            .when(F.col("ncanon").isNotNull(), F.lit("near"))
            .otherwise(F.lit("kept"))
            .alias("stage"),
            F.when(F.col("canon") != F.col("doc_id"), F.col("canon"))
            .when(F.col("ncanon").isNotNull(), F.col("ncanon"))
            .otherwise(F.col("doc_id"))
            .alias("canonical_id"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_sorted_neighborhood (round 11) — the SNM blocking paradigm
# ---------------------------------------------------------------------------

@query(
    "dedup_sorted_neighborhood",
    section="2.I",
    oracle=f"""
WITH corpus AS ({_VARIANT_SQL}),
keyed AS (
  SELECT doc_id,
         substr(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), 1, 12) AS bkey,
         substr(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), 1, 40) AS head
  FROM corpus
), ranked AS (
  SELECT doc_id, bkey, head,
         ROW_NUMBER() OVER (ORDER BY bkey ASC, doc_id ASC) AS r
  FROM keyed
), cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.head AS ha, b.head AS hb
  FROM ranked a JOIN ranked b ON b.r = a.r + 1
  UNION ALL
  SELECT a.doc_id, b.doc_id, a.head, b.head
  FROM ranked a JOIN ranked b ON b.r = a.r + 2
)
SELECT LEAST(id_a, id_b) AS id_a, GREATEST(id_a, id_b) AS id_b,
       CAST(levenshtein(ha, hb) AS BIGINT) AS head_edit_distance
FROM cand
WHERE levenshtein(ha, hb) <= 8
""",
)
def dedup_sorted_neighborhood(spark, sf_dir):
    """Sorted Neighborhood Method near-dup detection [Hernández &
    Stolfo 1995] — the third blocking paradigm beside hash blocking
    (LSH bands) and length blocking (dedup_edit_distance): sort the
    corpus by a blocking key (the 12-char normalized prefix) and
    compare only docs within window w=3 of the sorted order, scored
    by Levenshtein over 40-char heads (≤ 8 keeps, the edit-distance
    family rule). SNM catches near-dups whose lengths AND hashes
    diverge but whose prefixes collate together — exactly the
    truncated-variant corpus this fixture injects.

    Scale: the global sort rank is rank_two_phase (bucket = 4-char
    prefix — bounded grid, per-bucket refinement; NEVER a corpus
    window); neighbor candidates are TWO equi self-joins on rank
    offsets (+1, +2), so candidate count is exactly 2n−3 regardless
    of data — SNM's defining linear-candidates guarantee, preserved
    in the plan shape."""
    from sparkml_spark.registry import rank_two_phase

    corpus = _corpus_with_near_dups(spark, sf_dir)
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    keyed = corpus.select(
        "doc_id",
        F.substring(norm, 1, 12).alias("bkey"),
        F.substring(norm, 1, 40).alias("head"),
    )
    ranked = rank_two_phase(
        keyed,
        bucket=F.substring("bkey", 1, 4),
        order_cols=[F.col("bkey").asc(), F.col("doc_id").asc()],
        out="r",
    )
    a = ranked.select(
        F.col("doc_id").alias("id_a"), F.col("head").alias("ha"), F.col("r").alias("ra")
    )
    b = ranked.select(
        F.col("doc_id").alias("id_b"), F.col("head").alias("hb"), F.col("r").alias("rb")
    )
    cand = (
        a.join(b, F.col("rb") == F.col("ra") + 1)
        .select("id_a", "id_b", "ha", "hb")
        .unionAll(
            a.join(b, F.col("rb") == F.col("ra") + 2).select(
                "id_a", "id_b", "ha", "hb"
            )
        )
    )
    dist = F.levenshtein("ha", "hb")
    return cand.filter(dist <= 8).select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
        dist.cast("long").alias("head_edit_distance"),
    )
