"""Subword (BPE) tokenization — the real token unit for the corpus
pipeline (VERDICT r8 #1).

Every other token-denominated operator in the repo counts whitespace
tokens; a production LLM pipeline budgets SUBWORD tokens, because
that is what the trainer pays for. This module implements greedy
byte-pair-encoding inference against a committed merge table
(`BPE_MERGES`, trained offline by scripts/train_bpe.py — classic
Sennrich-style most-frequent-pair training over the sf0.001 word
frequencies with a deterministic tie-break; no RNG, no seed), and
rewires the packing/mix family to budget by BPE tokens.

Algorithm (identical on both engines, proven equivalent to the
greedy min-rank BPE loop by the trainer's self-check): a word starts
as its character sequence; merge rules apply SEQUENTIALLY in rank
order, each rule replacing its (left, right) pair left-to-right,
non-overlapping. Rank-order application is exact BPE here because a
rule's operand tokens are only ever produced by strictly earlier
rules — later merges can never create a new occurrence of an earlier
rule's pair (merging only ever combines adjacent tokens, so it
cannot make two previously non-adjacent tokens adjacent).

Engine shapes:
- Spark: a PURE CATALYST expression — `F.aggregate` over the literal
  rules array whose accumulator is the token array, with an inner
  `F.aggregate` fold implementing one rule's left-to-right merge via
  a (acc, carry) state struct. No Python UDF anywhere: the fold is
  JVM-evaluated per row, and it only ever runs over the DISTINCT
  word table (the vocabulary), never the corpus.
- DuckDB oracle: a recursive CTE over (word, rule_idx, seq) where
  `seq` is the space-delimited token string; each step replaces the
  FIRST occurrence of rule r's ' a b ' pattern (staying on rule r)
  or advances to rule r+1. Repeated first-occurrence replacement is
  equivalent to the left-to-right non-overlapping pass because the
  text before the first match never contains a match, and a
  replacement cannot create a match that starts before its own end
  (tokens never contain the separator).

Scale: tokenization cost is VOCABULARY-sized, not corpus-sized —
the same trick production tokenizers use (word-level caches). The
corpus pass is explode → groupBy(doc, word) count → broadcast-join
the tokenized vocab → per-doc weighted sum; at 100 TB the vocab
table is ~10^5-10^6 rows (trivially broadcastable) while the fold
itself is O(word_len × n_rules) per DISTINCT word, embarrassingly
parallel, and runs exactly once per word regardless of corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from sparkml_spark.operators.llm_pipeline import (
    _BUCKET,
    _CHUNK as _PIPE_CHUNK,
    _SEQ_TOKENS,
    _STRIDE as _PIPE_STRIDE,
    pack_next_fit,
    token_budget_thresholds,
)
from sparkml_spark.registry import md5_chunk16, query
from sparkml_spark.session import checkpoint
from sparkml_spark.sources.loader import load_table

#: Committed merge table — output of `python scripts/train_bpe.py 24`.
#: Rank = list position; each rule's operands are single characters or
#: the outputs of strictly earlier rules (BPE training invariant).
BPE_MERGES: list[tuple[str, str]] = [
    ("e", "r"),
    ("o", "r"),
    ("i", "n"),
    ("o", "w"),
    ("s", "t"),
    ("l", "u"),
    ("a", "r"),
    ("p", "ar"),
    ("m", "er"),
    ("a", "t"),
    ("a", "n"),
    ("c", "an"),
    ("s", "can"),
    ("c", "o"),
    ("co", "lu"),
    ("colu", "m"),
    ("colum", "n"),
    ("d", "ow"),
    ("in", "dow"),
    ("w", "indow"),
    ("d", "er"),
    ("or", "der"),
    ("or", "t"),
    ("s", "ort"),
]

BPE_N = len(BPE_MERGES)

def _rules() -> Column:
    """Literal rules array for the Catalyst fold — built lazily because
    classic-mode Column literals need an active SparkContext, and this
    module is imported at registry time before any session exists."""
    return F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"), F.lit(a + b).alias("m"))
            for a, b in BPE_MERGES
        ]
    )


def bpe_tokens(word: Column) -> Column:
    """array<string> of BPE tokens for a word column — pure Catalyst.

    Outer fold: rules in rank order, accumulator = token array.
    Inner fold: one rule's left-to-right non-overlapping merge as an
    (acc: array, carry: string) state machine — carry holds the last
    unemitted token; (carry, tok) == (a, b) emits the merged token
    and clears the carry, so an output token never re-matches the
    same rule (its spelling differs from both operands). The ''
    carry sentinel is unambiguous because the fold input is
    explicitly stripped of empty strings below — F.split(word, "")
    yields a trailing '' element (split limit -1 keeps trailing
    empties), which the first rule pass used to absorb by accident;
    with the filter the invariant "real tokens are never empty"
    holds by construction, not by rule-pass luck (ADVICE r9 #1)."""
    chars = F.filter(F.split(word, ""), lambda x: x != F.lit(""))
    return F.aggregate(_rules(), chars, _apply_rule)


def _apply_rule(seq: Column, r: Column) -> Column:
    """One merge rule's left-to-right non-overlapping pass over a token
    array — the (acc, carry) state machine documented in bpe_tokens,
    shared by inference (folded over the committed rules) and by the
    in-engine trainer (applied once per learned rule)."""
    init = F.struct(
        F.array().cast("array<string>").alias("acc"), F.lit("").alias("carry")
    )

    def step(st, tok):
        acc, carry = st.getField("acc"), st.getField("carry")
        return (
            F.when(carry == F.lit(""), F.struct(acc.alias("acc"), tok.alias("carry")))
            .when(
                (carry == r.getField("a")) & (tok == r.getField("b")),
                F.struct(
                    F.concat(acc, F.array(r.getField("m"))).alias("acc"),
                    F.lit("").alias("carry"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(acc, F.array(carry)).alias("acc"), tok.alias("carry")
                )
            )
        )

    def fin(st):
        acc, carry = st.getField("acc"), st.getField("carry")
        return F.when(carry == F.lit(""), acc).otherwise(
            F.concat(acc, F.array(carry))
        )

    return F.aggregate(seq, init, step, fin)


# ---------------------------------------------------------------------------
# DuckDB oracle twin — recursive CTE shared by every query below
# ---------------------------------------------------------------------------

_RULES_VALUES = ", ".join(
    f"({i + 1}, '{a}', '{b}')" for i, (a, b) in enumerate(BPE_MERGES)
)

#: CTE block (for a WITH RECURSIVE preamble): tokenizes every distinct
#: corpus word and lands `vocab(word, n_bpe, bpe)`. seq carries the
#: space-delimited token string with leading/trailing separators so
#: the ' a b ' pattern match is token-exact (tokens never contain
#: spaces). Each recursion step either replaces rule r's first
#: occurrence (substring surgery at strpos) or advances to rule r+1;
#: a word finishes at r = N+1.
BPE_VOCAB_CTE = f"""
rules(r, a, b) AS (VALUES {_RULES_VALUES}),
bpe_words AS (
  SELECT word FROM (
    SELECT DISTINCT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
    FROM documents
  ) WHERE word <> ''
),
bpe_rec AS (
  SELECT word, 1 AS r, ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS seq
  FROM bpe_words
  UNION ALL
  SELECT word,
         CASE WHEN pos > 0 THEN r ELSE r + 1 END AS r,
         CASE WHEN pos > 0
              THEN substr(seq, 1, pos - 1) || ' ' || a || b || ' '
                   || substr(seq, pos + len(a) + len(b) + 3)
              ELSE seq END AS seq
  FROM (SELECT word, bpe_rec.r AS r, seq, a, b,
               strpos(seq, ' ' || a || ' ' || b || ' ') AS pos
        FROM bpe_rec JOIN rules ON rules.r = bpe_rec.r)
),
vocab AS (
  SELECT word,
         CAST(len(string_split(trim(seq), ' ')) AS BIGINT) AS n_bpe,
         trim(seq) AS bpe
  FROM bpe_rec WHERE r = {BPE_N + 1}
)
""".strip()


def bpe_vocab(docs):
    """(word, n_bpe, bpe) over the DISTINCT words of a (…, text) frame —
    the Spark twin of BPE_VOCAB_CTE. Vocabulary-sized output, meant to
    be broadcast back onto the corpus."""
    w = F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("word")
    toks = bpe_tokens(F.col("word"))
    return (
        docs.select(w)
        .distinct()
        # a whitespace-only text splits to [''] — exclude it here so the
        # '' carry sentinel in the fold is never a real token; every
        # consumer inner-joins this vocab, so the exclusion propagates
        # to both engines identically (round-9 code review #2: Spark's
        # fold yields 0 tokens for '' while the CTE yields 1)
        .filter(F.col("word") != "")
        .select(
            "word",
            F.size(toks).cast("long").alias("n_bpe"),
            F.concat_ws(" ", toks).alias("bpe"),
        )
    )


def bpe_doc_token_counts(docs):
    """(doc_id, n_tok) — per-document BPE token totals: explode words,
    count per (doc, word) (map-side combinable), broadcast-join the
    tokenized vocab, weighted sum. The corpus text itself is never
    shuffled and the fold never touches corpus-sized data."""
    words = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("word"),
    )
    wc = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("c"))
    vocab = bpe_vocab(docs).select("word", "n_bpe")
    return (
        wc.join(F.broadcast(vocab), "word")
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.col("n_bpe")).alias("n_tok"))
    )


_DOC_BPE_TOKS_SQL = """
doc_words AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
  FROM documents
),
doc_toks AS (
  SELECT doc_id, CAST(SUM(n_bpe) AS BIGINT) AS n_tok
  FROM doc_words JOIN vocab USING (word)
  GROUP BY doc_id
)
""".strip()


@query(
    "pipeline_tokenize_bpe",
    section="2.I",
    oracle=f"""
WITH RECURSIVE
{BPE_VOCAB_CTE},
freq AS (
  SELECT word, COUNT(*) AS n_occ
  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
        FROM documents)
  GROUP BY word
)
SELECT v.word,
       CAST(len(v.word) AS INTEGER) AS n_chars,
       CAST(v.n_bpe AS INTEGER) AS n_bpe,
       v.bpe,
       CAST(f.n_occ AS BIGINT) AS n_occ
FROM vocab v JOIN freq f USING (word)
""",
)
def pipeline_tokenize_bpe(spark, sf_dir):
    """Subword tokenization manifest: every distinct corpus word with
    its BPE split (committed merge table, see module docstring), token
    count, and corpus frequency — the vocabulary cache a production
    tokenizer materializes once and broadcasts.

    The hash pin covers the exact token SEQUENCE per word (space-
    joined string), not just counts, so any drift in merge order,
    tie-breaking, or overlap handling between the Catalyst fold and
    the recursive-CTE replay fails the driver gate.

    Scale: the fold runs once per DISTINCT word (vocabulary-sized);
    the only corpus-sized work is the explode + count needed for
    n_occ, which is a map-side-combinable groupBy."""
    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    return bpe_vocab(d).join(freq, "word").select(
        "word",
        F.length("word").cast("int").alias("n_chars"),
        F.col("n_bpe").cast("int").alias("n_bpe"),
        "bpe",
        F.col("n_occ").cast("long").alias("n_occ"),
    )


@query(
    "pipeline_token_budget_mix_bpe",
    section="2.I",
    oracle=f"""
WITH RECURSIVE
{BPE_VOCAB_CTE},
{_DOC_BPE_TOKS_SQL},
docs AS (
  SELECT d.doc_id, d.lang, d.source, t.n_tok
  FROM documents d JOIN doc_toks t USING (doc_id)
), budgets AS (
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
WHERE ('0x' || substr(md5('bpemix' || CAST(d.doc_id AS VARCHAR)), 1, 4))::INTEGER
      < b.thr
""",
)
def pipeline_token_budget_mix_bpe(spark, sf_dir):
    """pipeline_token_budget_mix with the REAL token unit: each
    language is downsampled toward a 20% share of total BPE tokens —
    the budget a trainer actually pays — instead of whitespace tokens.
    Identical mix shape (tiny per-lang aggregate, broadcast
    thresholds, per-row salted-hash keep filter); only the per-doc
    cost function changes, supplied by bpe_doc_token_counts' broadcast
    vocab join. Hash salt 'bpemix' keeps this keep-set statistically
    independent of the whitespace twin's."""
    d = load_table(spark, sf_dir, "documents")
    docs = (
        d.select("doc_id", "lang", "source")
        .join(bpe_doc_token_counts(d), "doc_id")
    )
    budgets = token_budget_thresholds(docs)
    h16 = md5_chunk16(F.concat(F.lit("bpemix"), F.col("doc_id").cast("string")))
    return (
        docs.join(F.broadcast(budgets), "lang")
        .filter(h16 < F.col("thr"))
        .select(
            "doc_id", "lang", "source", F.col("n_tok").cast("bigint").alias("n_tok")
        )
    )


@query(
    "pipeline_pack_bins_bpe",
    section="2.I",
    oracle=f"""
WITH RECURSIVE
{BPE_VOCAB_CTE},
{_DOC_BPE_TOKS_SQL},
toks AS (
  SELECT doc_id, doc_id // {_BUCKET} AS shard, n_tok AS t FROM doc_toks
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
def pipeline_pack_bins_bpe(spark, sf_dir):
    """Next-fit bin packing budgeted in BPE tokens: the
    pipeline_pack_bins_nextfit recurrence (same shared packer, same
    {_SEQ_TOKENS}-token budget, same shard unit) driven by the
    subword cost from bpe_doc_token_counts — so the packed manifest
    reflects what the sequences actually cost a trainer. The oracle
    chains TWO recurrences in one WITH RECURSIVE: the BPE merge
    replay producing the vocab, then the per-shard next-fit CTE over
    the BPE-costed docs; all-integer state end to end keeps the
    cross-engine hash exact.

    Scale: vocab broadcast + one hash exchange on shard; sequential
    work bounded by shard size, as in the whitespace twin."""
    d = load_table(spark, sf_dir, "documents")
    sized = bpe_doc_token_counts(d).select(
        "doc_id",
        F.expr(f"doc_id DIV {_BUCKET}").alias("shard"),
        F.col("n_tok").cast("long").alias("t"),
    )
    return pack_next_fit(sized)


@query(
    "quality_bpe_fertility",
    section="2.I",
    oracle=f"""
WITH RECURSIVE
{BPE_VOCAB_CTE},
words AS (
  SELECT lang, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
  FROM documents
),
wc AS (SELECT lang, word, COUNT(*) AS c FROM words GROUP BY lang, word)
SELECT lang,
       CAST(SUM(c) AS BIGINT) AS n_words,
       CAST(SUM(c * n_bpe) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(c * n_bpe) * 1000000 // SUM(c) AS BIGINT) AS fertility_ppm,
       CAST(SUM(CASE WHEN n_bpe = 1 THEN c ELSE 0 END) AS BIGINT)
         AS n_single_token,
       CAST(SUM(CASE WHEN n_bpe = len(word) AND len(word) > 1
                     THEN c ELSE 0 END) AS BIGINT) AS n_char_fallback
FROM wc JOIN vocab USING (word)
GROUP BY lang
""",
)
def quality_bpe_fertility(spark, sf_dir):
    """Tokenizer fertility monitor — THE standard tokenizer-quality /
    domain-drift signal a production pipeline tracks per domain:
    fertility = BPE tokens per word (reported as an exact integer
    ppm, engine-identical: sum_tokens * 1e6 DIV sum_words — same
    integer-ratio discipline as quality_drift_tvd), plus the coverage
    tails: word occurrences that tokenize to a SINGLE token (fully
    in-vocab) and occurrences that fall all the way back to
    characters (n_bpe == n_chars for multi-char words — the
    vocabulary-miss signal; rising char-fallback on a new domain
    means the committed merge table no longer fits the data and the
    tokenizer needs retraining).

    Scale: per-(lang, word) counts are map-side combinable and
    vocabulary-bounded after the combine; the fold again runs only on
    the broadcast distinct-word vocab. No corpus-sized shuffle."""
    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select(
            "lang",
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("word"),
        )
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vocab = bpe_vocab(d).select("word", "n_bpe")
    joined = wc.join(F.broadcast(vocab), "word")
    return joined.groupBy("lang").agg(
        F.sum("c").cast("long").alias("n_words"),
        F.sum(F.col("c") * F.col("n_bpe")).cast("long").alias("n_bpe_tokens"),
        # decimal(38,0) keeps the *1e6 scaling exact far past the
        # 2^63 bound a LONG sum would hit at ~9.2e12 tokens per lang
        # (the registry.lsum overflow analysis, applied here; DuckDB's
        # twin sums in HUGEINT) — round-9 code review #3
        F.expr(
            "sum(CAST(c * n_bpe AS DECIMAL(38,0))) * 1000000"
            " DIV sum(CAST(c AS DECIMAL(38,0)))"
        )
        .cast("long")
        .alias("fertility_ppm"),
        F.sum(F.when(F.col("n_bpe") == 1, F.col("c")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_single_token"),
        F.sum(
            F.when(
                (F.col("n_bpe") == F.length("word")) & (F.length("word") > 1),
                F.col("c"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_char_fallback"),
    )


#: Fertility / OOV-drift ceilings for quality_bpe_fertility_bound
#: (VERDICT r9 #4). Measured per-lang values are stationary across
#: every fixture scale — fertility 3.10–3.17 tokens/word and
#: char-fallback 257–271k ppm of word occurrences at sf0.001 / sf0.01
#: / sf0.1 alike (the synthetic corpus draws words from the same
#: distribution at every SF, so the sf0.001-trained merge table keeps
#: its coverage) — giving the ceilings ~7% / ~18% headroom. If a
#: future fixture regen or a real domain shift pushes char-fallback
#: past the ceiling, the violation count goes nonzero at the LARGE
#: scale first: exactly the silent-OOV-drift alarm the bound exists
#: to ring (the merge table then needs retraining via
#: scripts/train_bpe.py).
FERTILITY_CEIL_PPM = 3_400_000
CHAR_FALLBACK_CEIL_PPM = 320_000


@query(
    "quality_bpe_fertility_bound",
    section="2.I",
    oracle=f"""
WITH RECURSIVE
{BPE_VOCAB_CTE},
words AS (
  SELECT lang, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
  FROM documents
),
wc AS (SELECT lang, word, COUNT(*) AS c FROM words GROUP BY lang, word),
fert AS (
  SELECT lang,
         CAST(SUM(c * n_bpe) * 1000000 // SUM(c) AS BIGINT) AS fertility_ppm,
         CAST(SUM(CASE WHEN n_bpe = len(word) AND len(word) > 1
                       THEN c ELSE 0 END) * 1000000 // SUM(c) AS BIGINT)
           AS char_fallback_ppm
  FROM wc JOIN vocab USING (word)
  GROUP BY lang
)
SELECT lang, fertility_ppm, char_fallback_ppm,
       CAST(CASE WHEN fertility_ppm > {FERTILITY_CEIL_PPM} THEN 1 ELSE 0 END
            AS INTEGER) AS fert_violation,
       CAST(CASE WHEN char_fallback_ppm > {CHAR_FALLBACK_CEIL_PPM} THEN 1 ELSE 0 END
            AS INTEGER) AS fallback_violation
FROM fert
""",
)
def quality_bpe_fertility_bound(spark, sf_dir):
    """OOV-drift contract on the committed merge table (VERDICT r9
    #4): per-lang fertility and char-fallback rates with explicit
    ceiling-violation flags. The production failure mode this guards:
    BPE_MERGES is trained on one snapshot's vocabulary; on drifted
    data unseen words fall back to character-level tokens and
    fertility rises SILENTLY — every downstream token budget (mix,
    packing, manifest) then under-counts real training cost. The
    contract is that both violation columns are all-zero at EVERY
    fixture scale; tests/test_operators.py asserts exactly that at
    sf0.001 AND sf0.1 (the large scale is where drift would surface
    first), and verify_all drives this id through the sf0.1 sim.

    Scale: identical shape to quality_bpe_fertility — map-side
    combinable (lang, word) counts, broadcast vocab join, 5-row
    output. The integer-ppm ratios keep the cross-engine hash exact;
    DECIMAL(38,0) sums keep the *1e6 scaling exact past the LONG
    bound (registry.lsum analysis)."""
    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select(
            "lang",
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("word"),
        )
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vocab = bpe_vocab(d).select("word", "n_bpe")
    fert = (
        wc.join(F.broadcast(vocab), "word")
        .groupBy("lang")
        .agg(
            F.expr(
                "sum(CAST(c * n_bpe AS DECIMAL(38,0))) * 1000000"
                " DIV sum(CAST(c AS DECIMAL(38,0)))"
            )
            .cast("long")
            .alias("fertility_ppm"),
            F.expr(
                "sum(CAST(CASE WHEN n_bpe = length(word) AND length(word) > 1"
                "              THEN c ELSE 0 END AS DECIMAL(38,0))) * 1000000"
                " DIV sum(CAST(c AS DECIMAL(38,0)))"
            )
            .cast("long")
            .alias("char_fallback_ppm"),
        )
    )
    return fert.select(
        "lang",
        "fertility_ppm",
        "char_fallback_ppm",
        (F.col("fertility_ppm") > FERTILITY_CEIL_PPM)
        .cast("int")
        .alias("fert_violation"),
        (F.col("char_fallback_ppm") > CHAR_FALLBACK_CEIL_PPM)
        .cast("int")
        .alias("fallback_violation"),
    )


def _training_corpus_full_oracle() -> str:
    from sparkml_spark.operators.llm_text import _TOKENS_SQL
    from sparkml_spark.operators.llm_pipeline import (
        _BUCKET_SQL,
        _SEQ_TOKENS,
        _SPLIT_TRAIN,
        _SPLIT_VAL,
        _STRAT_K,
    )

    return f"""
WITH RECURSIVE
{BPE_VOCAB_CTE},
{_DOC_BPE_TOKS_SQL},
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
),
hashed AS (
  SELECT doc_id, text,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h
  FROM corpus
),
deduped AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
    FROM hashed
  ) WHERE rn = 1
),
kept AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           len({_TOKENS_SQL}) AS n_ws,
           CAST(len(list_distinct({_TOKENS_SQL})) AS DOUBLE)
             / len({_TOKENS_SQL}) AS dr
    FROM deduped
  ) WHERE n_ws BETWEEN 5 AND 1000 AND dr > 0.3
),
enriched AS (
  SELECT k.doc_id, doc.lang, t.n_tok
  FROM kept k
  JOIN documents doc ON doc.doc_id = k.doc_id % 1000000
  JOIN doc_toks t ON t.doc_id = k.doc_id % 1000000
),
budgets AS (
  SELECT lang,
         CAST(floor(least(CAST(1.0 AS DOUBLE),
                          CAST(0.2 AS DOUBLE)
                            * CAST(SUM(SUM(n_tok)) OVER () AS DOUBLE)
                            / SUM(n_tok))
                    * 65536) AS INTEGER) AS thr
  FROM enriched GROUP BY lang
),
mixed AS (
  SELECT e.doc_id, e.lang, CAST(e.n_tok AS BIGINT) AS n_tok
  FROM enriched e JOIN budgets b ON e.lang = b.lang
  WHERE ('0x' || substr(md5('full' || CAST(e.doc_id AS VARCHAR)), 1, 4))::INTEGER
        < b.thr
),
packed AS (
  SELECT doc_id, lang, n_tok,
         CAST((SUM(n_tok) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1)
              // {_SEQ_TOKENS} AS BIGINT) AS seq_id
  FROM mixed
),
assigned AS (
  SELECT *,
         CASE WHEN {_BUCKET_SQL} < {_SPLIT_TRAIN} THEN 'train'
              WHEN {_BUCKET_SQL} < {_SPLIT_VAL} THEN 'val'
              ELSE 'test' END AS split
  FROM packed
),
sampled AS (
  SELECT split, lang, doc_id, n_tok, seq_id,
         CAST(row_number() OVER (
           PARTITION BY split, lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS INTEGER)
           AS rk
  FROM assigned
)
SELECT split, lang, doc_id, n_tok, seq_id, rk,
       md5(CAST(doc_id AS VARCHAR)) AS shuffle_key
FROM sampled WHERE rk <= {_STRAT_K}
"""


# Register pipeline_training_corpus_full's oracle (the query function
# lives in operators/llm_text.py with oracle=None): the SQL needs this
# module's recursive CTE, and assembling it here — at the bottom of
# subword, which in EVERY import order finishes after both llm_pipeline
# and llm_text — is the one cycle-free spot (round-9 code review #1:
# registering at llm_text's bottom crashed `import
# sparkml_spark.functions` by re-entering this module mid-init). The
# oracle becomes visible once sparkml_spark.operators (or this module)
# is imported, which is how every consumer — __spark_entry__, tests,
# driver — loads the registry.
from sparkml_spark import registry as _registry  # noqa: E402

_registry.ORACLES["pipeline_training_corpus_full"] = (
    _training_corpus_full_oracle().strip()
)
_registry.META["pipeline_training_corpus_full"]["tier"] = "ORACLE"


@query(
    "pipeline_chunk_overlap_bpe",
    section="2.I",
    oracle=f"""
WITH RECURSIVE
{BPE_VOCAB_CTE},
dw AS (
  SELECT doc_id, i, t[i] AS word
  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents),
       unnest(range(1, len(t) + 1)) AS u(i)
),
db AS (
  SELECT doc_id, string_agg(bpe, ' ' ORDER BY i) AS toks
  FROM dw JOIN vocab USING (word)
  GROUP BY doc_id
),
dt AS (SELECT doc_id, string_split(toks, ' ') AS t FROM db)
SELECT doc_id,
       CAST(s AS INTEGER) AS chunk_start,
       CAST(len(list_slice(t, s, s + {_PIPE_CHUNK} - 1)) AS INTEGER)
         AS n_chunk_tokens,
       md5(array_to_string(list_slice(t, s, s + {_PIPE_CHUNK} - 1), ' '))
         AS chunk_md5
FROM dt, unnest(range(1, len(t) + 1, {_PIPE_STRIDE})) AS u(s)
""",
)
def pipeline_chunk_overlap_bpe(spark, sf_dir):
    """pipeline_chunk_overlap in the REAL token unit: overlapping
    {_PIPE_CHUNK}-BPE-token chunks on a {_PIPE_STRIDE}-token stride
    over each document's subword stream — so chunk boundaries land
    where the trainer's context window actually lands, not at
    whitespace-token counts that over-weight long words.

    Engine shape note — why this op JOINS the vocab and reassembles,
    instead of folding in-row: chunking needs the token SEQUENCE in
    document order, and the tempting shuffle-free form
    `flatten(transform(words, bpe_tokens))` runs the fold per CORPUS
    word — measured 250x slower than the whitespace twin at sf0.1
    (50 s vs 0.2 s; the fold's acc-concat is O(len^2) interpreted
    allocation and higher-order functions break whole-stage codegen).
    The scalable shape is posexplode -> broadcast-vocab join ->
    ONE doc_id-keyed exchange reassembling each doc's word order
    (array_sort over (pos, bpe) structs, flatten) -> narrow chunk
    explode: measured 0.9 s at sf0.1, and at 100 TB that single
    exchange is the same doc-keyed shuffle every dedup op already
    pays, while per-word work collapses back to vocabulary size.
    Counting/budgeting ops, which don't need order, skip even that
    exchange (bpe_doc_token_counts).

    The sequence(1, size, stride) explode needs size >= 1: a
    whitespace-only text yields an EMPTY subword stream ('' is not a
    token — see bpe_vocab), so such docs are filtered out, exactly
    matching the oracle where the vocab join eliminates them."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    dw = d.select("doc_id", F.posexplode(words).alias("i", "word"))
    vocab = bpe_vocab(d).select("word", "bpe")
    with_toks = (
        dw.join(F.broadcast(vocab), "word")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("i", "bpe"))).alias("ws"))
        .select(
            "doc_id",
            F.flatten(
                F.transform("ws", lambda s: F.split(s.getField("bpe"), " "))
            ).alias("t"),
        )
        .filter(F.size("t") >= 1)
    )
    starts = F.explode(
        F.sequence(F.lit(1), F.size("t"), F.lit(_PIPE_STRIDE))
    ).alias("s")
    chunk = F.slice(F.col("t"), F.col("s"), F.lit(_PIPE_CHUNK))
    return with_toks.select("doc_id", "t", starts).select(
        "doc_id",
        F.col("s").cast("int").alias("chunk_start"),
        F.size(chunk).cast("int").alias("n_chunk_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


@query(
    "pipeline_sequence_pack_bpe",
    section="2.I",
    oracle=f"""
WITH RECURSIVE
{BPE_VOCAB_CTE},
{_DOC_BPE_TOKS_SQL},
ordered AS (
  SELECT doc_id, n_tok,
         SUM(n_tok) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM doc_toks
), assigned AS (
  SELECT doc_id, n_tok, CAST((cum - 1) // {_SEQ_TOKENS} AS BIGINT) AS seq_id
  FROM ordered
)
SELECT seq_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS seq_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM assigned GROUP BY seq_id
""",
)
def pipeline_sequence_pack_bpe(spark, sf_dir):
    """pipeline_sequence_pack with the REAL token unit: documents in
    id order concat-and-chunked into {_SEQ_TOKENS}-BPE-token training
    sequences — so a sequence holds {_SEQ_TOKENS} tokens as the
    TRAINER counts them, not as whitespace counts them. Completes the
    BPE family: every token-denominated operator (budget mix, both
    packers, chunker, sequence manifest) now has a subword twin.

    Scale: bpe_doc_token_counts' vocab-broadcast costing followed by
    the identical two-phase global prefix sum as the whitespace twin
    (per-bucket totals, offsets over the 1000x-smaller bucket table,
    within-bucket running sums) — exact integer arithmetic end to
    end, bit-identical to the oracle's one-shot cumsum."""
    d = load_table(spark, sf_dir, "documents")
    bucketed = bpe_doc_token_counts(d).select(
        "doc_id",
        F.col("n_tok").alias("n_tokens"),
        F.expr(f"doc_id DIV {_BUCKET}").alias("bucket"),
    )
    from pyspark.sql import Window

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
    "quality_bpe_roundtrip",
    section="2.I",
    oracle=f"""
WITH RECURSIVE
{BPE_VOCAB_CTE},
units AS (
  SELECT DISTINCT unnest(string_split(bpe, ' ')) AS unit FROM vocab
)
SELECT CAST((SELECT COUNT(*) FROM vocab) AS BIGINT) AS n_words,
       CAST((SELECT COUNT(*) FROM vocab
             WHERE replace(bpe, ' ', '') <> word
                OR n_bpe < 1 OR n_bpe > len(word)) AS BIGINT) AS n_violations,
       CAST((SELECT COUNT(*) FROM units) AS BIGINT) AS n_subword_units,
       CAST((SELECT MAX(n_bpe) FROM vocab) AS BIGINT) AS max_n_bpe
""",
)
def quality_bpe_roundtrip(spark, sf_dir):
    """Tokenizer LOSSLESSNESS pin: BPE merges only ever concatenate
    adjacent tokens, so concatenating a word's tokens must reproduce
    the word exactly, and the token count must sit in [1, len(word)].
    n_violations is contractually ZERO — any nonzero means the
    Catalyst fold dropped/duplicated/mangled a token (e.g. the r9
    phantom-empty-token hazard ADVICE #1 flagged: an empty fold
    element would inflate n_bpe past the invariant). Also reports the
    effective subword inventory size (distinct units across all
    splits — the tokenizer's real vocab, chars + merge outputs).

    Scale: vocabulary-sized end to end — the fold runs per distinct
    word and the unit inventory is a distinct over a vocab-sized
    explode; the corpus is touched only by bpe_vocab's distinct-word
    scan."""
    v = bpe_vocab(load_table(spark, sf_dir, "documents"))
    units = (
        v.select(F.explode(F.split("bpe", " ")).alias("unit")).distinct()
    )
    viol = (
        (F.regexp_replace("bpe", " ", "") != F.col("word"))
        | (F.col("n_bpe") < 1)
        | (F.col("n_bpe") > F.length("word"))
    )
    agg = v.agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum(F.when(viol, 1).otherwise(0)).cast("long").alias("n_violations"),
        F.max("n_bpe").cast("long").alias("max_n_bpe"),
    )
    return agg.crossJoin(
        F.broadcast(units.agg(F.count(F.lit(1)).cast("long").alias("n_subword_units")))
    ).select("n_words", "n_violations", "n_subword_units", "max_n_bpe")


#: Fixed per-image patch-token cost for the interleaved VLM manifest —
#: stands in for (H/14)*(W/14) ViT patches; a real pipeline reads it
#: from image metadata (multimodal.binary_meta), but the packing math
#: is identical.
IMG_TOKENS = 64


@query(
    "multimodal_interleave_manifest",
    section="2.I",
    oracle=f"""
WITH RECURSIVE
{BPE_VOCAB_CTE},
{_DOC_BPE_TOKS_SQL},
imgd AS (
  SELECT t.doc_id, t.n_tok,
         CASE WHEN t.doc_id % 3 = 0 AND e.vec_id IS NOT NULL
              THEN 1 ELSE 0 END AS has_img
  FROM doc_toks t LEFT JOIN embeddings e ON e.vec_id = t.doc_id
),
sized AS (
  SELECT doc_id, doc_id // {_BUCKET} AS shard,
         n_tok + has_img * {IMG_TOKENS} AS t, n_tok, has_img
  FROM imgd
),
ordered AS (
  SELECT doc_id, shard, t, n_tok, has_img,
         row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
  FROM sized
),
rec AS (
  SELECT doc_id, shard, t, n_tok, has_img, rn,
         CAST(0 AS BIGINT) AS bin_id, t AS fill
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.doc_id, o.shard, o.t, o.n_tok, o.has_img, o.rn,
         CASE WHEN r.fill + o.t <= {_SEQ_TOKENS} THEN r.bin_id
              ELSE r.bin_id + 1 END,
         CASE WHEN r.fill + o.t <= {_SEQ_TOKENS} THEN r.fill + o.t
              ELSE o.t END
  FROM ordered o JOIN rec r ON o.shard = r.shard AND o.rn = r.rn + 1
),
manifest AS (
  SELECT doc_id, shard, bin_id, t, n_tok, has_img,
         CAST(COALESCE(SUM(t) OVER (
           PARTITION BY shard, bin_id ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS offset_in_bin
  FROM rec
)
SELECT doc_id, shard, bin_id, 'image' AS modality,
       offset_in_bin AS slot_offset,
       CAST({IMG_TOKENS} AS BIGINT) AS n_tokens
FROM manifest WHERE has_img = 1
UNION ALL
SELECT doc_id, shard, bin_id, 'text' AS modality,
       offset_in_bin + has_img * {IMG_TOKENS} AS slot_offset,
       CAST(n_tok AS BIGINT) AS n_tokens
FROM manifest
""",
)
def multimodal_interleave_manifest(spark, sf_dir):
    """Interleaved vision-language packing manifest — the dataloader
    contract for VLM training: each document is an (image?, text)
    slot pair (image = the doc's paired embeddings row, standing in
    for a decoded image, costing {IMG_TOKENS} fixed patch tokens;
    text costs its REAL BPE token count), packed document-atomically
    into {_SEQ_TOKENS}-token contexts by the shared next-fit packer.
    The output gives every modality slot its bin and intra-bin token
    offset — position ids and cross-attention segment boundaries fall
    straight out, no re-tokenization.

    Docs keep their pair ATOMIC (image + text pack as one unit — a
    context never holds an image whose caption lives in the next
    context), which is why packing runs at doc granularity with the
    combined cost and slots are expanded afterward from the offsets
    the recurrence already tracked.

    Scale: bpe_doc_token_counts' broadcast-vocab costing + one LEFT
    join to the (vec_id)-keyed media table + the packer's single
    shard exchange; slot expansion is a narrow explode. The oracle
    chains the BPE replay and the next-fit recurrence in one
    WITH RECURSIVE, all-integer state."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings").select("vec_id")
    imgd = (
        bpe_doc_token_counts(d)
        .join(e, F.col("doc_id") == F.col("vec_id"), "left")
        .select(
            "doc_id",
            "n_tok",
            F.when(
                (F.col("doc_id") % 3 == 0) & F.col("vec_id").isNotNull(), 1
            )
            .otherwise(0)
            .alias("has_img"),
        )
    )
    sized = imgd.select(
        "doc_id",
        F.expr(f"doc_id DIV {_BUCKET}").alias("shard"),
        (F.col("n_tok") + F.col("has_img") * IMG_TOKENS).cast("long").alias("t"),
    )
    packed = pack_next_fit(sized, manifest=True).join(imgd, "doc_id")
    slots = F.when(
        F.col("has_img") == 1,
        F.array(
            F.struct(
                F.lit("image").alias("modality"),
                F.col("offset_in_bin").alias("slot_offset"),
                F.lit(IMG_TOKENS).cast("long").alias("n"),
            ),
            F.struct(
                F.lit("text").alias("modality"),
                (F.col("offset_in_bin") + IMG_TOKENS).alias("slot_offset"),
                F.col("n_tok").cast("long").alias("n"),
            ),
        ),
    ).otherwise(
        F.array(
            F.struct(
                F.lit("text").alias("modality"),
                F.col("offset_in_bin").alias("slot_offset"),
                F.col("n_tok").cast("long").alias("n"),
            )
        )
    )
    return packed.select(
        "doc_id", "shard", "bin_id", F.explode(slots).alias("slot")
    ).select(
        "doc_id",
        "shard",
        "bin_id",
        F.col("slot.modality").alias("modality"),
        F.col("slot.slot_offset").cast("long").alias("slot_offset"),
        F.col("slot.n").alias("n_tokens"),
    )


@query(
    "pipeline_dataset_card",
    section="2.I",
    oracle=f"""
WITH RECURSIVE
{BPE_VOCAB_CTE},
{_DOC_BPE_TOKS_SQL},
feats AS (
  SELECT doc_id, lang, source, n_chars,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h,
         len(string_split_regex(lower(trim(text)), '\\s+')) AS n,
         len(regexp_replace(lower(trim(text)), '\\s', '', 'g')) AS sum_len,
         len(translate(text, 'abcdefghijklmnopqrstuvwxyz0123456789 ', ''))
           AS n_punct,
         len(list_distinct(string_split_regex(lower(trim(text)), '\\s+')))
           AS n_distinct,
         len(list_intersect(string_split_regex(lower(trim(text)), '\\s+'),
             ['the', 'a', 'data', 'value'])) AS n_stop
  FROM documents
)
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT h) AS BIGINT) AS n_unique,
       CAST(SUM(n) AS BIGINT) AS n_ws_tokens,
       CAST(SUM(COALESCE(t.n_tok, 0)) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(CASE WHEN n BETWEEN 5 AND 1000
                      AND sum_len BETWEEN 2 * n AND 12 * n
                      AND 10 * n_punct <= n_chars
                      AND n_stop > 0
                      AND 5 * n_distinct > n
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_keep
FROM feats LEFT JOIN doc_toks t USING (doc_id)
GROUP BY lang, source
""",
)
def pipeline_dataset_card(spark, sf_dir):
    """The corpus DATASHEET in one pass — per (lang, source): doc
    count, exact-dedup uniqueness (distinct normalized content
    hashes), whitespace AND real-BPE token totals, and the
    Gopher-rules keep count — i.e. the summary table a dataset card /
    release note publishes, composed from the same hash-green
    definitions the individual operators pin (dedup_exact_hash's
    normalizer, quality_gopher_filter's integer gates,
    bpe_doc_token_counts' broadcast-vocab costing).

    Scale: ONE corpus scan computes every per-doc feature as narrow
    expressions; the BPE cost arrives via the vocabulary-sized
    broadcast join; the only exchange is the (lang, source) partial
    aggregation (count_distinct(h) shuffles (group, h) pairs after
    map-side dedup). 25-row output regardless of corpus size."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    stop = F.array(*[F.lit(s) for s in ("the", "a", "data", "value")])
    n = F.size(toks)
    sum_len = F.length(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s", "")
    )
    n_punct = F.length(
        F.translate(F.col("text"), "abcdefghijklmnopqrstuvwxyz0123456789 ", "")
    )
    keep = (
        n.between(5, 1000)
        & sum_len.between(2 * n, 12 * n)
        & (10 * n_punct <= F.col("n_chars"))
        & (F.size(F.array_intersect(toks, stop)) > 0)
        & (5 * F.size(F.array_distinct(toks)) > n)
    )
    feats = d.select(
        "doc_id",
        "lang",
        "source",
        F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))).alias("h"),
        n.alias("n_ws"),
        keep.cast("int").alias("keep"),
    ).join(bpe_doc_token_counts(d), "doc_id", "left")
    return feats.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_distinct("h").cast("long").alias("n_unique"),
        F.sum("n_ws").cast("long").alias("n_ws_tokens"),
        F.sum(F.coalesce(F.col("n_tok"), F.lit(0))).cast("long").alias("n_bpe_tokens"),
        F.sum("keep").cast("long").alias("n_quality_keep"),
    )


# ---------------------------------------------------------------------------
# In-engine BPE TRAINING (round 11) — the engine learns the merge table
# ---------------------------------------------------------------------------

def train_bpe_merges(spark, sf_dir, n_merges: int = BPE_N, on_merge=None,
                     corpus=None):
    """Learn a BPE merge table FROM the corpus, in-engine — classic
    Sennrich-style training (most-frequent adjacent pair, merge,
    repeat) with the deterministic tie-break (max count, then
    lexicographically smallest (lhs, rhs) pair; no RNG, no seed).
    Returns [(rank, lhs, rhs, pair_count), ...].

    Shape (the 100 TB posture): the corpus is read EXACTLY ONCE — a
    map-side-combinable word-frequency aggregation whose output is
    VOCABULARY-sized. Every training iteration then runs on that
    cached vocabulary table only: explode adjacent token pairs
    (O(sum word lengths) rows), one partial-aggregated groupBy, a
    1-row argmax collect, and one Catalyst merge-pass fold — the
    driver loop is bounded by the n_merges constant, exactly the
    coordinator role a production tokenizer trainer
    (SentencePiece/HF) gives the driver. localCheckpoint() after
    each merge truncates the 24-deep lineage so no iteration replays
    its predecessors.
    """
    import time as _time

    from sparkml_spark.session import CheckpointChain

    # Per-iteration checkpoint hygiene (round 12, measured): without
    # the chain the trainer pins one vocabulary-sized RDD PER MERGE —
    # 13 after 12 merges, a guaranteed OOM at 32k — because
    # DataFrame.unpersist is a no-op for localCheckpoint blocks.
    # scripts/bpe_scale_probe.py measures the flat storage this keeps.
    chain = CheckpointChain(spark)

    d = corpus if corpus is not None else load_table(spark, sf_dir, "documents")
    words = chain.step(
        d.select(
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("f"))
        .select(
            "word",
            "f",
            F.filter(F.split("word", ""), lambda x: x != F.lit("")).alias(
                "toks"
            ),
        )
    )
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        _t0 = _time.monotonic()
        # r13: explode_OUTER + isnotnull — a plain explode's inferred
        # size()>0 filter evaluates the whole pair-transform a SECOND
        # time per row, doubling each merge iteration's dominant cost
        # (see llm_dedup._shingled3_exploded). Exact: pair structs are
        # never null; single-token words contributed no rows before.
        best = (
            words.select(
                "f",
                F.explode_outer(
                    F.expr(
                        "transform(slice(toks, 1, size(toks) - 1),"
                        " (x, i) -> struct(x AS a, element_at(toks, i + 2) AS b))"
                    )
                ).alias("p"),
            )
            .filter(F.col("p").isNotNull())
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("f").alias("cnt"))
            .orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, cnt = best[0]["a"], best[0]["b"], int(best[0]["cnt"])
        merges.append((rank, a, b, cnt))
        rule = F.struct(
            F.lit(a).alias("a"), F.lit(b).alias("b"), F.lit(a + b).alias("m")
        )
        words = chain.step(
            words.withColumn("toks", _apply_rule(F.col("toks"), rule))
        )
        chain.reap()  # superseded iteration, safe now the new one is live
        if on_merge is not None:
            on_merge(rank, _time.monotonic() - _t0)
    # The merge table lives on the driver; nothing distributed survives.
    chain.close()
    return merges


#: One left-to-right non-overlapping merge pass as a DuckDB list_reduce
#: carry machine — the oracle twin of _apply_rule. Accumulator protocol:
#: 'emitted-tokens|carry' ('|' never appears in corpus tokens: words are
#: whitespace-split text). The sentinel first element '|' plays the
#: empty (acc, carry) init.
_DUCK_MERGE_FOLD = (
    "list_reduce(list_prepend('|', ws.toks), (acc, t) -> "
    "CASE WHEN split_part(acc, '|', 2) = '' "
    "THEN split_part(acc, '|', 1) || '|' || t "
    "WHEN split_part(acc, '|', 2) = ba AND t = bb "
    "THEN split_part(acc, '|', 1) || ' ' || ba || bb || '|' "
    "ELSE split_part(acc, '|', 1) || ' ' || split_part(acc, '|', 2) "
    "|| '|' || t END)"
)

#: Training recursion CTE block (w0 + tr) — shared by the train-table
#: oracle and the train-then-APPLY end-to-end oracle below.
_TRAIN_BPE_CTES = f"""
w0 AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS f
  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
        FROM documents)
  WHERE word <> '' GROUP BY word
),
tr(r, lhs, rhs, n_pair, words) AS (
  SELECT 0, '', '', CAST(0 AS BIGINT),
         (SELECT list({{'w': word, 'f': f,
            'toks': string_split(trim(regexp_replace(word, '(.)', '\\1 ', 'g')), ' ')}}
            ORDER BY word)
          FROM w0)
  UNION ALL
  SELECT r + 1, ba, bb,
         100000000000000000 - CAST(split_part(best, ' ', 1) AS BIGINT),
         list_transform(words, ws -> {{'w': ws.w, 'f': ws.f,
           'toks': string_split(ltrim(
             CASE WHEN split_part(({_DUCK_MERGE_FOLD}), '|', 2) = ''
                  THEN split_part(({_DUCK_MERGE_FOLD}), '|', 1)
                  ELSE split_part(({_DUCK_MERGE_FOLD}), '|', 1) || ' '
                       || split_part(({_DUCK_MERGE_FOLD}), '|', 2)
             END, ' '), ' ')}})
  FROM (
    SELECT r, words, best,
           split_part(best, ' ', 2) AS ba, split_part(best, ' ', 3) AS bb
    FROM (
      SELECT r, words,
             list_min(list_transform(
               list_transform(list_distinct(list_transform(wpairs, x -> x.p)), p ->
                 {{'p': p, 'c': list_sum(list_transform(wpairs,
                     x -> CASE WHEN x.p = p THEN x.f ELSE CAST(0 AS BIGINT) END))}}),
               y -> lpad(CAST(100000000000000000 - y.c AS VARCHAR), 18, '0')
                    || ' ' || y.p)) AS best
      FROM (
        SELECT r, words,
               flatten(list_transform(words, ws ->
                 list_transform(
                   list_filter(list_zip(ws.toks, ws.toks[2:]), z -> z[2] IS NOT NULL),
                   z -> {{'p': z[1] || ' ' || z[2], 'f': ws.f}}))) AS wpairs
        FROM tr WHERE r < {BPE_N}
      )
    )
  ) st
  WHERE best IS NOT NULL
)
"""

_TRAIN_BPE_ORACLE = f"""
WITH RECURSIVE
{_TRAIN_BPE_CTES}
SELECT CAST(r AS BIGINT) AS merge_rank, lhs, rhs, n_pair
FROM tr WHERE r >= 1
"""


@query("pipeline_train_bpe", section="2.I", oracle=_TRAIN_BPE_ORACLE)
def pipeline_train_bpe(spark, sf_dir):
    """TRAIN the BPE tokenizer in the engine (VERDICT r10 #1): learn
    {BPE_N} merge rules from the corpus by iterative most-frequent-
    pair aggregation and return the merge table itself — closing the
    one gap in the tokenizer family: the engine previously only ran
    INFERENCE against a merge table trained offline
    (scripts/train_bpe.py); now it can produce that artifact.

    Hash pin, both directions: the DuckDB twin replays the SAME
    greedy recurrence (a recursive CTE whose per-level state is the
    whole vocabulary-sized word table as one LIST<STRUCT> row: pure
    list-lambda pair counting, a zero-padded-count || pair string
    argmin implementing the (max count, then lexicographically
    smallest pair) tie-break exactly, and a list_reduce carry
    machine replaying _apply_rule's left-to-right non-overlapping
    merge). Each output row carries (rank, lhs, rhs, PAIR COUNT) —
    the count pin means both engines agree not only on WHICH pair
    won each round but on the exact corpus statistics behind it.
    tests/test_operators.py additionally pins that training on the
    sf0.001 fixture reproduces the committed BPE_MERGES table
    row-for-row, so every downstream BPE operator (fertility and
    round-trip bounds included) is exercising a table this trainer
    derives, not an unreproducible artifact.

    Scale: one corpus pass (map-side-combinable word counts), then
    n_merges vocabulary-sized iterations — see train_bpe_merges."""
    rows = train_bpe_merges(spark, sf_dir, BPE_N)
    return spark.createDataFrame(
        rows, "merge_rank long, lhs string, rhs string, n_pair long"
    )


# ---------------------------------------------------------------------------
# Incremental corpus refresh (round 11) — the production daily-append
# ---------------------------------------------------------------------------

def _incremental_refresh_oracle() -> str:
    from sparkml_spark.operators.llm_dedup import _INCR_SQL, _NORM_SQL
    from sparkml_spark.operators.llm_text import _TOKENS_SQL

    return f"""
WITH RECURSIVE
{BPE_VOCAB_CTE},
corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 != 3
), incr AS ({_INCR_SQL}),
ih AS (SELECT doc_id, text, {_NORM_SQL} AS h FROM incr),
ci AS (SELECT DISTINCT {_NORM_SQL} AS h FROM corpus),
new_docs AS (
  SELECT ih.doc_id, ih.text, ih.h
  FROM ih LEFT JOIN ci ON ci.h = ih.h WHERE ci.h IS NULL
),
bk AS (SELECT h, MIN(doc_id) AS keeper FROM new_docs GROUP BY h),
kept0 AS (
  SELECT n.doc_id, n.text FROM new_docs n
  JOIN bk ON bk.h = n.h WHERE n.doc_id = bk.keeper
),
quality AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text, len({_TOKENS_SQL}) AS n_ws,
           CAST(len(list_distinct({_TOKENS_SQL})) AS DOUBLE)
             / len({_TOKENS_SQL}) AS dr
    FROM kept0
  ) WHERE n_ws BETWEEN 5 AND 1000 AND dr > 0.3
),
bw AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
  FROM quality
),
btoks AS (
  SELECT doc_id, CAST(SUM(n_bpe) AS BIGINT) AS n_tok
  FROM bw JOIN vocab USING (word) GROUP BY doc_id
),
enriched AS (
  SELECT q.doc_id, doc.lang, t.n_tok
  FROM quality q
  JOIN documents doc ON doc.doc_id = q.doc_id % 1000000
  JOIN btoks t ON t.doc_id = q.doc_id
),
budgets AS (
  SELECT lang,
         CAST(floor(least(CAST(1.0 AS DOUBLE),
                          CAST(0.2 AS DOUBLE)
                            * CAST(SUM(SUM(n_tok)) OVER () AS DOUBLE)
                            / SUM(n_tok))
                    * 65536) AS INTEGER) AS thr
  FROM enriched GROUP BY lang
),
mixed AS (
  SELECT e.doc_id, e.lang, CAST(e.n_tok AS BIGINT) AS n_tok
  FROM enriched e JOIN budgets b ON e.lang = b.lang
  WHERE ('0x' || substr(md5('incrmix' || CAST(e.doc_id AS VARCHAR)), 1, 4))::INTEGER
        < b.thr
),
toks2 AS (
  SELECT doc_id, lang, doc_id // {_BUCKET} AS shard, n_tok AS t FROM mixed
),
ordered AS (
  SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
  FROM toks2
),
rec AS (
  SELECT doc_id, lang, shard, t, rn, CAST(0 AS BIGINT) AS bin_id, t AS fill
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.doc_id, o.lang, o.shard, o.t, o.rn,
         CASE WHEN r.fill + o.t <= {_SEQ_TOKENS} THEN r.bin_id
              ELSE r.bin_id + 1 END,
         CASE WHEN r.fill + o.t <= {_SEQ_TOKENS} THEN r.fill + o.t
              ELSE o.t END
  FROM ordered o JOIN rec r ON o.shard = r.shard AND o.rn = r.rn + 1
)
SELECT doc_id, lang, shard, t AS n_tokens, bin_id FROM rec
"""


@query("pipeline_incremental_refresh", section="2.I", oracle=None)
def pipeline_incremental_refresh(spark, sf_dir):
    """The production DAILY-APPEND, end to end in ONE plan (VERDICT
    r10 #3): an arriving micro-batch (dedup_incremental's fixture
    batch — new docs + corpus replays + within-batch dups) flows
    through incremental dedup against the STANDING corpus's digest
    index → the corpus quality gates (5..1000 words, distinct-ratio
    > 0.3) → the per-lang 20%-of-BPE-tokens budget mix (salt
    'incrmix') → next-fit packing into {_SEQ_TOKENS}-token bins.
    Output: the refresh manifest (doc_id, lang, shard, n_tokens,
    bin_id) a trainer would append.

    Rerun determinism (pinned in tests/test_operators.py): the chain
    is hash-keyed end to end — digest dedup, salted-hash mix keep,
    doc_id-ordered packing — so replaying the SAME batch yields
    byte-identical keeps and bin ids, the idempotence a daily job
    needs to be safely retried.

    Scale posture (plan-gated in tests/test_plans.py): the standing
    corpus index is NEVER moved — the batch's distinct digests are
    broadcast INTO the index scan (inner join, batch-sized output),
    then the batch anti-joins the HITS; every subsequent join
    operand (keepers, thresholds, lang re-attach) is batch-sized and
    broadcast. No corpus-wide window anywhere; the packer's
    sequential state is shard-bounded. At 100 TB the digest index is
    a maintained bucketed table and this plan touches it with one
    broadcast-probed scan."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lang_map = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("base_id"), "lang"
    )
    return refresh_manifest(d, lang_map)


def refresh_manifest(d, lang_map):
    """The daily-append chain over a (doc_id, text) documents frame —
    shared by the batch query above and its streaming twin
    (streaming/ops.py stream_incremental_refresh, which bootstraps the
    standing digest index from the corpus micro-batch and feeds the
    arriving micro-batch through refresh_manifest_incr — the exact
    decomposition below). See pipeline_incremental_refresh for
    semantics and scale posture."""
    from sparkml_spark.operators.llm_dedup import _norm

    corpus = d.filter(F.col("doc_id") % 10 != 3)
    arriving = d.filter(F.col("doc_id") % 10 == 3)
    return refresh_manifest_incr(
        synth_incr_batch(arriving, corpus),
        corpus.select(_norm().alias("h")),
        lang_map,
    )


def synth_incr_batch(arriving, corpus):
    """Synthesize the fixture's ARRIVING batch from its two sources:
    the day's new docs (arriving = doc_id % 10 == 3, which also
    contains every doc_id % 50 == 3 replay seed) plus corpus replays
    (doc_id % 20 == 0 under a shifted id). Split out of
    refresh_manifest so the streaming twin can assemble the same batch
    from rows that ARRIVED IN DIFFERENT MICRO-BATCHES (the corpus
    replays ride in the index-bootstrap batch, the new docs in the
    daily batch)."""
    from sparkml_spark.operators.llm_dedup import _DUP_OFFSET

    return (
        arriving.select("doc_id", "text")
        .unionByName(
            corpus.filter(F.col("doc_id") % 20 == 0).select(
                (F.col("doc_id") + _DUP_OFFSET).alias("doc_id"), "text"
            )
        )
        .unionByName(
            arriving.filter(F.col("doc_id") % 50 == 3).select(
                (F.col("doc_id") + 2 * _DUP_OFFSET).alias("doc_id"), "text"
            )
        )
    )


def refresh_manifest_incr(incr, corpus_digests, lang_map, ckpt=checkpoint):
    """The daily-append chain given an ALREADY-SYNTHESIZED arriving
    batch and the standing corpus digest index (a 1-column `h` frame —
    in production a maintained bucketed table; in the streaming twin
    the parquet artifact the bootstrap micro-batch wrote). Everything
    downstream of the index probe is identical to the batch chain.

    ``ckpt``: the chain's two batch-sized multi-consumer
    intermediates — `quality` (read by the BPE token coster AND the
    lang re-attach) and `enriched` (read by the budget aggregate AND
    the mix filter) — are materialized through this callable so the
    corpus-digest probe and the BPE vocabulary fold run ONCE instead
    of once per consumer. Defaults to the lazy DISK_ONLY
    `session.checkpoint`; the streaming twin passes its
    CheckpointChain.step so every block is freed at chain.close()."""
    from sparkml_spark.operators.llm_dedup import _DUP_OFFSET, _norm

    ih = incr.select("doc_id", "text", _norm().alias("h"))
    # Probe the standing index WITHOUT moving it: broadcast the batch's
    # distinct digests into the corpus scan; hit set is batch-bounded.
    batch_digests = ih.select("h").distinct()
    hits = (
        corpus_digests.select("h")
        .join(F.broadcast(batch_digests), "h")
        .distinct()
    )
    new_docs = ih.join(F.broadcast(hits), "h", "left_anti")
    bk = new_docs.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    kept0 = (
        new_docs.join(F.broadcast(bk), "h")
        .filter(F.col("doc_id") == F.col("keeper"))
        .select("doc_id", "text")
    )
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    quality = (
        kept0.select(
            "doc_id",
            "text",
            F.size(toks).alias("n_ws"),
            (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias(
                "dr"
            ),
        )
        .filter(F.col("n_ws").between(5, 1000) & (F.col("dr") > 0.3))
        .select("doc_id", "text")
    )
    quality = ckpt(quality)
    enriched = ckpt(
        quality.join(bpe_doc_token_counts(quality), "doc_id")
        .withColumn("base_id", F.expr(f"doc_id % {_DUP_OFFSET}"))
        .join(lang_map, "base_id")
        .select("doc_id", "lang", "n_tok")
    )
    budgets = token_budget_thresholds(enriched)
    h16 = md5_chunk16(
        F.concat(F.lit("incrmix"), F.col("doc_id").cast("string"))
    )
    mixed = (
        enriched.join(F.broadcast(budgets), "lang")
        .filter(h16 < F.col("thr"))
        .select("doc_id", "lang", F.col("n_tok").cast("long").alias("n_tok"))
    )
    sized = mixed.select(
        "doc_id",
        F.expr(f"doc_id DIV {_BUCKET}").alias("shard"),
        F.col("n_tok").alias("t"),
    )
    return (
        pack_next_fit(sized)
        .join(F.broadcast(mixed.select("doc_id", "lang")), "doc_id")
        .select("doc_id", "lang", "shard", "n_tokens", "bin_id")
    )


_registry.ORACLES["pipeline_incremental_refresh"] = (
    _incremental_refresh_oracle().strip()
)
_registry.META["pipeline_incremental_refresh"]["tier"] = "ORACLE"


def bpe_tokens_with(word: Column, merges: list[tuple[str, str]]) -> Column:
    """bpe_tokens against an ARBITRARY merge table (e.g. one the engine
    just trained) instead of the committed BPE_MERGES literal."""
    rules = F.array(
        *[
            F.struct(
                F.lit(a).alias("a"), F.lit(b).alias("b"), F.lit(a + b).alias("m")
            )
            for a, b in merges
        ]
    )
    chars = F.filter(F.split(word, ""), lambda x: x != F.lit(""))
    return F.aggregate(rules, chars, _apply_rule)


@query(
    "pipeline_train_bpe_apply",
    section="2.I",
    oracle=f"""
WITH RECURSIVE
{_TRAIN_BPE_CTES}
, rules_t AS (SELECT r, lhs AS a, rhs AS b FROM tr WHERE r >= 1),
bpe_words_t AS (
  SELECT word FROM (
    SELECT DISTINCT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
    FROM documents
  ) WHERE word <> ''
),
rec2 AS (
  SELECT word, 1 AS r, ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS seq
  FROM bpe_words_t
  UNION ALL
  SELECT word,
         CASE WHEN pos > 0 THEN r ELSE r + 1 END AS r,
         CASE WHEN pos > 0
              THEN substr(seq, 1, pos - 1) || ' ' || a || b || ' '
                   || substr(seq, pos + len(a) + len(b) + 3)
              ELSE seq END AS seq
  FROM (SELECT word, rec2.r AS r, seq, a, b,
               strpos(seq, ' ' || a || ' ' || b || ' ') AS pos
        FROM rec2 JOIN rules_t ON rules_t.r = rec2.r)
),
vocab_t AS (
  SELECT word, CAST(len(string_split(trim(seq), ' ')) AS BIGINT) AS n_bpe
  FROM rec2 WHERE r = {BPE_N + 1}
),
words_l AS (
  SELECT lang, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
  FROM documents
),
wc AS (
  SELECT lang, word, COUNT(*) AS c FROM words_l WHERE word <> ''
  GROUP BY lang, word
)
SELECT lang,
       CAST(SUM(c) AS BIGINT) AS n_words,
       CAST(SUM(c * n_bpe) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(c * n_bpe) * 1000000 // SUM(c) AS BIGINT) AS fertility_ppm
FROM wc JOIN vocab_t USING (word)
GROUP BY lang
""",
)
def pipeline_train_bpe_apply(spark, sf_dir):
    """The tokenizer lifecycle END TO END, in-engine and hash-pinned:
    TRAIN the merge table on the corpus (pipeline_train_bpe's
    recurrence), then TOKENIZE the corpus with the freshly trained
    table and report per-language fertility — the loop a production
    pipeline closes when it retrains its tokenizer on a new corpus
    snapshot and immediately evaluates coverage. Unlike
    quality_bpe_fertility (committed table), the rules here are DATA
    derived from the corpus the query runs on, so the oracle chains
    BOTH recursions: the greedy training CTE feeds its learned rules
    table into the word-tokenization CTE (rules join instead of a
    VALUES literal) — training, inference, and evaluation all verified
    in one cross-engine hash.

    Scale: training as train_bpe_merges (one corpus pass +
    vocabulary-sized iterations); inference/evaluation as the BPE
    family (vocabulary-sized fold, broadcast join, map-side word
    counts)."""
    merges = [(a, b) for (_, a, b, _) in train_bpe_merges(spark, sf_dir)]
    d = load_table(spark, sf_dir, "documents")
    w = F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("word")
    vocab_t = (
        d.select(w)
        .distinct()
        .filter(F.col("word") != "")
        .select(
            "word",
            F.size(bpe_tokens_with(F.col("word"), merges))
            .cast("long")
            .alias("n_bpe"),
        )
    )
    wc = (
        d.select("lang", w)
        .filter(F.col("word") != "")
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        wc.join(F.broadcast(vocab_t), "word")
        .groupBy("lang")
        .agg(
            F.sum("c").cast("long").alias("n_words"),
            F.sum(F.col("c") * F.col("n_bpe")).cast("long").alias("n_bpe_tokens"),
            F.expr("sum(c * n_bpe) * 1000000 DIV sum(c)")
            .cast("long")
            .alias("fertility_ppm"),
        )
    )
