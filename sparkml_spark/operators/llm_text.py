"""§2.I Text-analysis operators for training-data pipelines (SURVEY.md).

All ORACLE-tier ops here are pure `pyspark.sql.functions` expression
pipelines (tokenize/explode/agg) — fully codegen'd, no Python in the
data path, linear in corpus size, shuffling only on (token) or
(lang, token) keys. That is the shape that survives 100 TB: the only
wide exchange carries (key, partial-count) pairs after map-side
combine, never raw text.

Fixture note (FIXTURES.md): documents.text is a ~31-token synthetic
vocabulary, identical across the `lang` column — so text_langid
validates the scoring MECHANISM (marker lists, argmax, ties) rather
than real linguistic signal, and stopwords are drawn from the actual
token pool ('the', 'a', 'data', 'value').
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from sparkml_spark.registry import dsum, dsum_sql, query
from sparkml_spark.session import cache
from sparkml_spark.sources.loader import load_table

#: Stopwords drawn from the fixture's real token pool.
STOPWORDS = ["the", "a", "data", "value"]

#: Marker tokens per language for the heuristic scorer (deterministic
#: fixed lists; see module docstring re: fixture signal).
LANG_MARKERS = {
    "en": ["the", "a", "table", "order"],
    "de": ["hash", "row", "column"],
    "es": ["slow", "agg", "merge"],
    "fr": ["scan", "batch", "query"],
    "zh": ["join", "small", "customer"],
}

def _tokens():
    return F.split(F.lower(F.trim(F.col("text"))), r"\s+")

_TOKENS_SQL = "string_split_regex(lower(trim(text)), '\\s+')"


def _gram_idx(toks, n):
    """Ascending n-gram start positions 1..size-(n-1), EMPTY for docs
    shorter than n tokens. Spark's bare sequence(1, size-(n-1)) DESCENDS
    (default step -1) below that and element_at then throws
    INVALID_INDEX_OF_ZERO / INVALID_ARRAY_INDEX_IN_ELEMENT_AT under the
    default ANSI mode (verified live), where the oracle's range() yields
    empty — the ADVICE r4 failure class, fixed at every gram site."""
    upper = F.size(toks) - (n - 1)
    return F.when(upper >= 1, F.sequence(F.lit(1), upper)).otherwise(
        F.array().cast("array<int>")
    )


@query(
    "text_tokenize_count",
    section="2.I",
    oracle=f"""
SELECT lang, token, cnt
FROM (
  SELECT lang, token, cnt,
         row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token ASC) AS rn
  FROM (
    SELECT lang, token, COUNT(*) AS cnt
    FROM (SELECT lang, unnest({_TOKENS_SQL}) AS token FROM documents)
    GROUP BY lang, token
  )
)
WHERE rn <= 10
""",
)
def text_tokenize_count(spark, sf_dir):
    """Top-10 tokens per language: lowercase regex tokenize → explode →
    count → ranked window (tie-broken alphabetically)."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("token").asc())
    return (
        d.select("lang", F.explode(_tokens()).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .drop("rn")
    )


@query(
    "text_stopword_filter",
    section="2.I",
    oracle=f"""
SELECT doc_id,
       len({_TOKENS_SQL}) AS n_tokens,
       len(list_filter({_TOKENS_SQL},
           t -> NOT list_contains({str(STOPWORDS).replace("'", chr(39))}, t))) AS n_content_tokens
FROM documents
""",
)
def text_stopword_filter(spark, sf_dir):
    """Token counts before/after stopword removal (array_except-style
    filter, kept as an expression — no UDF, no explode needed)."""
    d = load_table(spark, sf_dir, "documents")
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    return d.select(
        "doc_id",
        F.size(_tokens()).alias("n_tokens"),
        F.size(F.filter(_tokens(), lambda t: ~F.array_contains(stop, t))).alias(
            "n_content_tokens"
        ),
    )


@query(
    "text_ngram_sql",
    section="2.I",
    oracle=f"""
SELECT bigram, cnt
FROM (
  SELECT bigram, COUNT(*) AS cnt,
         row_number() OVER (ORDER BY COUNT(*) DESC, bigram ASC) AS rn
  FROM (
    SELECT unnest(list_transform(range(1, len({_TOKENS_SQL})),
                  i -> {_TOKENS_SQL}[i] || ' ' || {_TOKENS_SQL}[i + 1])) AS bigram
    FROM documents
  )
  GROUP BY bigram
)
WHERE rn <= 25
""",
)
def text_ngram_sql(spark, sf_dir):
    """Top-25 word bigrams, built positionally with sequence+element_at
    (the SQL twin; MLlib's NGram stage is the ROWS twin in ml.py)."""
    d = load_table(spark, sf_dir, "documents")
    # r13 (guide §4/§5 "evaluate once"): the token array MUST be
    # materialized as a real column before any lambda references it —
    # a split() inlined into a higher-order function's body is
    # re-evaluated per ELEMENT (no subexpression elimination inside
    # lambda scope), turning tokenization into O(L²) per document.
    # Measured on this exact query: 8.9 s → 0.7 s at sf0.1.
    tk = F.col("__toks")
    bigrams = F.transform(
        _gram_idx(tk, 2),
        lambda i: F.concat_ws(" ", F.element_at(tk, i), F.element_at(tk, i + 1)),
    )
    d = d.select(_tokens().alias("__toks"))
    # r13 (guide §2.4): the top-25 filter was a row_number over an
    # UNPARTITIONED window — a single-partition sort of the whole
    # bigram vocabulary (the one Spark warns about). row_number ≤ k
    # over (cnt DESC, bigram ASC) selects exactly the same 25 rows as
    # orderBy(...).limit(k), which plans as TakeOrderedAndProject —
    # per-partition top-k heaps merged on the driver, no global sort.
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("bigram").asc())
        .limit(25)
    )


@query(
    "text_tfidf_sql",
    section="2.I",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token
), df AS (
  SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY token
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
)
SELECT tf.doc_id, tf.token, tf.tf, df.df,
       round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
""",
)
def text_tfidf_sql(spark, sf_dir):
    """Exact relational TF-IDF per (doc, term): tf and df via aggs, idf
    = ln((N+1)/(df+1)), joined back. The df table is tiny (vocabulary-
    sized) → broadcast; ln rounded at 6 dp (libm)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_tokens()).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    # Corpus size rides along as a lazy broadcast 1-row aggregate —
    # same dimension-scalar pattern as jaccard_pairs (ADVICE r5): no
    # eager action at construction, nothing baked in to go stale.
    n = F.broadcast(d.agg(F.count(F.lit(1)).alias("n_docs")))
    return (
        tf.join(F.broadcast(df), "token")
        .crossJoin(n)
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                6,
            ).alias("tfidf"),
        )
    )


@query(
    "text_lang_profile",
    section="2.I",
    oracle="""
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(CAST(n_chars AS DECIMAL(18,0))) AS DOUBLE) / COUNT(*) AS avg_chars,
       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
FROM documents
GROUP BY lang, source
""",
)
def text_lang_profile(spark, sf_dir):
    """Corpus profile per (lang, source) — doc counts and length stats
    (n_chars == length(text) exactly, per FIXTURES.md)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum(F.col("n_chars").cast("decimal(18,0)")).cast("double") / F.count(F.lit(1))).alias(
            "avg_chars"
        ),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


def _marker_score_spark(toks, markers):
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def _marker_score_sql(markers):
    lst = "[" + ", ".join(f"'{m}'" for m in markers) + "]"
    return f"len(list_filter({_TOKENS_SQL}, t -> list_contains({lst}, t)))"


@query(
    "text_langid_heuristic",
    section="2.I",
    oracle=f"""
SELECT doc_id, lang,
       {_marker_score_sql(LANG_MARKERS['en'])} AS score_en,
       {_marker_score_sql(LANG_MARKERS['de'])} AS score_de,
       CASE
         WHEN {_marker_score_sql(LANG_MARKERS['zh'])} >= greatest(
                {_marker_score_sql(LANG_MARKERS['en'])},
                {_marker_score_sql(LANG_MARKERS['de'])},
                {_marker_score_sql(LANG_MARKERS['es'])},
                {_marker_score_sql(LANG_MARKERS['fr'])}) THEN 'zh'
         WHEN {_marker_score_sql(LANG_MARKERS['fr'])} >= greatest(
                {_marker_score_sql(LANG_MARKERS['en'])},
                {_marker_score_sql(LANG_MARKERS['de'])},
                {_marker_score_sql(LANG_MARKERS['es'])}) THEN 'fr'
         WHEN {_marker_score_sql(LANG_MARKERS['es'])} >= greatest(
                {_marker_score_sql(LANG_MARKERS['en'])},
                {_marker_score_sql(LANG_MARKERS['de'])}) THEN 'es'
         WHEN {_marker_score_sql(LANG_MARKERS['de'])} >= {_marker_score_sql(LANG_MARKERS['en'])}
           THEN 'de'
         ELSE 'en'
       END AS lang_pred
FROM documents
""",
)
def text_langid_heuristic(spark, sf_dir):
    """Marker-token language scorer with a fixed tie-break cascade
    (zh > fr > es > de > en on equal scores). On real corpora the
    marker lists are per-language n-gram tables; the fixture's shared
    vocabulary exercises the mechanism only (module docstring)."""
    d = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    scores = {k: _marker_score_spark(toks, v) for k, v in LANG_MARKERS.items()}
    pred = (
        F.when(
            scores["zh"]
            >= F.greatest(scores["en"], scores["de"], scores["es"], scores["fr"]),
            "zh",
        )
        .when(scores["fr"] >= F.greatest(scores["en"], scores["de"], scores["es"]), "fr")
        .when(scores["es"] >= F.greatest(scores["en"], scores["de"]), "es")
        .when(scores["de"] >= scores["en"], "de")
        .otherwise("en")
    )
    return d.select(
        "doc_id",
        "lang",
        scores["en"].alias("score_en"),
        scores["de"].alias("score_de"),
        pred.alias("lang_pred"),
    )


@query(
    "text_quality_score",
    section="2.I",
    oracle=f"""
SELECT doc_id,
       n_chars,
       len({_TOKENS_SQL}) AS n_tokens,
       round(CAST(n_chars AS DOUBLE) / len({_TOKENS_SQL}), 6) AS avg_token_len,
       round(CAST(len(list_filter({_TOKENS_SQL},
             t -> list_contains(['the', 'a', 'data', 'value'], t))) AS DOUBLE)
             / len({_TOKENS_SQL}), 6) AS stopword_ratio,
       len(regexp_extract_all(text, '[^a-z0-9 ]')) AS n_punct,
       (CASE WHEN n_chars BETWEEN 100 AND 500 THEN 1 ELSE 0 END
        + CASE WHEN len({_TOKENS_SQL}) >= 20 THEN 1 ELSE 0 END
        + CASE WHEN len(regexp_extract_all(text, '[^a-z0-9 ]')) = 0 THEN 1 ELSE 0 END)
         AS quality_score
FROM documents
""",
)
def text_quality_score(spark, sf_dir):
    """Heuristic doc-quality features: length, token stats, stopword and
    punctuation ratios, and a 0-3 rubric score — the standard pre-train
    corpus filter, entirely as codegen expressions."""
    d = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    # char-map translate, not regexp_extract_all: same count (chars
    # outside [a-z0-9 ]), 41x faster at x100 — see
    # pipeline_curriculum_order's stress attribution
    n_punct = F.length(
        F.translate(F.col("text"), "abcdefghijklmnopqrstuvwxyz0123456789 ", "")
    )
    return d.select(
        "doc_id",
        "n_chars",
        n_tokens.alias("n_tokens"),
        F.round(F.col("n_chars").cast("double") / n_tokens, 6).alias("avg_token_len"),
        F.round(n_stop.cast("double") / n_tokens, 6).alias("stopword_ratio"),
        n_punct.alias("n_punct"),
        (
            F.when(F.col("n_chars").between(100, 500), 1).otherwise(0)
            + F.when(n_tokens >= 20, 1).otherwise(0)
            + F.when(n_punct == 0, 1).otherwise(0)
        ).alias("quality_score"),
    )


@query(
    "text_token_count",
    section="2.I",
    oracle=f"""
SELECT doc_id,
       len({_TOKENS_SQL}) AS ws_tokens,
       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS bpe_ish_tokens,
       CAST(ceil(n_chars / 4.0) AS BIGINT) AS approx_llm_tokens
FROM documents
""",
)
def text_token_count(spark, sf_dir):
    """Token counting three ways: whitespace split, a BPE-ish lexer
    regex (letter runs / digit runs / single symbols), and the chars/4
    rule of thumb."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(_tokens()).alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)
        ).alias("bpe_ish_tokens"),
        F.ceil(F.col("n_chars") / 4.0).alias("approx_llm_tokens"),
    )


@query(
    "text_fingerprint",
    section="2.I",
    oracle=f"""
SELECT doc_id,
       md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS content_md5,
       (SELECT MIN(md5(sh)) FROM unnest(list_transform(
           range(1, len({_TOKENS_SQL}) - 2),
           i -> {_TOKENS_SQL}[i] || ' ' || {_TOKENS_SQL}[i+1] || ' '
                || {_TOKENS_SQL}[i+2] || ' ' || {_TOKENS_SQL}[i+3])) AS t(sh))
         AS min_shingle_hash,
       md5(substring(text, 1, 64)) AS prefix64_md5
FROM documents
""",
)
def text_fingerprint(spark, sf_dir):
    """Document fingerprints: normalized-content md5, a 1-permutation
    MinHash over 4-token shingles (min of shingle hashes — the rolling-
    hash fingerprint, order-independent and SQL-exact), and a prefix
    hash. These are the join keys for dedup at scale. Docs shorter than
    4 tokens get a NULL min_shingle_hash on BOTH engines (empty shingle
    set -> MIN over nothing)."""
    d = load_table(spark, sf_dir, "documents")
    # r13: token array materialized as a column before the shingle
    # lambda touches it — an inlined split() re-evaluates per element
    # inside lambda scope (see text_ngram_sql; measured 13× there).
    tk = F.col("__toks")
    shingles = F.transform(
        _gram_idx(tk, 4),
        lambda i: F.concat_ws(
            " ",
            F.element_at(tk, i),
            F.element_at(tk, i + 1),
            F.element_at(tk, i + 2),
            F.element_at(tk, i + 3),
        ),
    )
    return d.select("doc_id", "text", _tokens().alias("__toks")).select(
        "doc_id",
        F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))).alias("content_md5"),
        F.array_min(F.transform(shingles, F.md5)).alias("min_shingle_hash"),
        F.md5(F.substring("text", 1, 64)).alias("prefix64_md5"),
    )


@query("text_tfidf_mllib", section="2.I")
def text_tfidf_mllib(spark, sf_dir):
    """Hashed TF-IDF features via HashingTF+IDF (the MLlib twin of
    text_tfidf_sql; ROWS tier — feature hashing is engine-specific).
    At 100 TB hashing wins over exact vocab: no global dictionary, no
    second pass, fixed-width vectors."""
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import IDF, HashingTF, RegexTokenizer
    from pyspark.ml.functions import vector_to_array

    d = load_table(spark, sf_dir, "documents")
    pipe = Pipeline(
        stages=[
            RegexTokenizer(inputCol="text", outputCol="tokens", pattern=r"\s+"),
            HashingTF(inputCol="tokens", outputCol="tf", numFeatures=64),
            IDF(inputCol="tf", outputCol="tfidf"),
        ]
    )
    out = pipe.fit(d).transform(d)
    arr = vector_to_array("tfidf")
    return out.select(
        "doc_id",
        F.round(F.aggregate(arr, F.lit(0.0), lambda a, v: a + v), 4).alias("tfidf_mass"),
        F.round(F.array_max(arr), 4).alias("tfidf_max"),
    )


@query(
    "text_repetition_score",
    section="2.I",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
),
uni AS (
  SELECT doc_id, SUM(cnt) AS n_tokens, COUNT(*) AS n_distinct,
         MAX(cnt) AS top_cnt
  FROM (SELECT doc_id, tok, COUNT(*) AS cnt FROM toks GROUP BY doc_id, tok)
  GROUP BY doc_id
),
big AS (
  SELECT doc_id, MAX(cnt) AS top_bigram_cnt
  FROM (
    SELECT doc_id, bigram, COUNT(*) AS cnt
    FROM (
      SELECT doc_id,
             unnest(list_transform(range(1, len({_TOKENS_SQL})),
                 i -> {_TOKENS_SQL}[i] || ' ' || {_TOKENS_SQL}[i+1])) AS bigram
      FROM documents
    )
    GROUP BY doc_id, bigram
  )
  GROUP BY doc_id
)
SELECT uni.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       round(CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS distinct_ratio,
       round(CAST(top_cnt AS DOUBLE) / n_tokens, 6) AS top_token_share,
       round(CAST(top_bigram_cnt AS DOUBLE) / (n_tokens - 1), 6) AS top_bigram_share
FROM uni JOIN big ON big.doc_id = uni.doc_id
""",
)
def text_repetition_score(spark, sf_dir):
    """Gopher-style repetition features per document: distinct-token
    ratio, most-frequent-unigram share, most-frequent-bigram share —
    the standard filters for boilerplate/spam in LLM training corpora
    [Rae et al., "Scaling Language Models" (Gopher), 2021, §A1.1].

    r13 rewrite (guide §2.3/§2.4): every statistic here is DOCUMENT-
    local, yet the r4 shape exploded the corpus twice — two
    token-count-sized shuffles on (doc, term) plus a doc-level join,
    the second-slowest text op in the census (8.5 s steady). All four
    numbers now come from ONE map-only projection: sort the token
    (resp. bigram) array per row and fold it once with `aggregate`,
    counting distinct values (run boundaries) and the longest run
    (the mode's multiplicity — equal elements are adjacent after the
    sort). Zero exchanges; per-row cost O(n log n) in codegen, and
    skew is bounded by document length exactly as before. Docs with
    fewer than 2 tokens are filtered out, which is precisely the old
    inner-join semantics (no unigram row ⇒ no output; no bigram ⇒ no
    join partner). Ratios are the same int/int divisions rounded at
    6 dp — engine-exact."""
    d = load_table(spark, sf_dir, "documents")
    # r13: tokens materialized as a column — the bigram lambda's
    # element_at(toks, …) would otherwise re-run split() per element
    # (see text_ngram_sql; 13× measured).
    toks = F.col("__toks")
    d = d.select("doc_id", _tokens().alias("__toks"))

    def _distinct_and_top(arr):
        """struct(nd, best): #distinct values and max multiplicity,
        via a single fold over the sorted array."""
        srt = F.array_sort(arr)
        init = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
            F.lit(0).cast("long").alias("nd"),
        )

        def step(acc, x):
            is_new = acc["prev"].isNull() | (acc["prev"] != x)
            run = F.when(is_new, F.lit(1).cast("long")).otherwise(acc["run"] + 1)
            return F.struct(
                x.alias("prev"),
                run.alias("run"),
                F.greatest(acc["best"], run).alias("best"),
                (acc["nd"] + F.when(is_new, 1).otherwise(0)).alias("nd"),
            )

        return F.aggregate(srt, init, step)

    bigrams = F.transform(
        _gram_idx(toks, 2),
        lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
    )
    stats = (
        d.select(
            "doc_id",
            F.size(toks).cast("long").alias("n_tokens"),
            _distinct_and_top(toks).alias("u"),
            _distinct_and_top(bigrams).alias("b"),
        )
        .filter(F.col("n_tokens") >= 2)
    )
    return stats.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("u.nd").cast("double") / F.col("n_tokens"), 6).alias(
            "distinct_ratio"
        ),
        F.round(F.col("u.best").cast("double") / F.col("n_tokens"), 6).alias(
            "top_token_share"
        ),
        F.round(
            F.col("b.best").cast("double") / (F.col("n_tokens") - 1), 6
        ).alias("top_bigram_share"),
    )


# PII patterns kept to the regex subset where Java (Spark) and RE2
# (DuckDB) agree exactly: literal classes, +, {n}, no lookaround.
_EMAIL_RE = "[a-z0-9]+@[a-z]+\\.[a-z]+"
_PHONE_RE = "555-[0-9]{4}"

# The fixture corpus contains no PII, so inject a deterministic
# population (doc_id % 7 == 0) inside the query — oracle does the same.
_PII_CORPUS_SQL = f"""
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com or 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE text END AS text
  FROM documents
"""


@query(
    "text_pii_scrub",
    section="2.I",
    oracle=f"""
WITH corpus AS ({_PII_CORPUS_SQL})
SELECT doc_id,
       len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phones,
       md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
           '{_PHONE_RE}', '<PHONE>', 'g')) AS scrubbed_md5
FROM corpus
WHERE len(regexp_extract_all(text, '{_EMAIL_RE}'))
      + len(regexp_extract_all(text, '{_PHONE_RE}')) > 0
""",
)
def text_pii_scrub(spark, sf_dir):
    """PII detection + redaction: count email/phone matches per doc and
    emit the md5 of the scrubbed text (digest instead of full text
    keeps the checked output narrow). Pure regexp expressions —
    codegen'd, no Python, one scan, no shuffle at all (per-row map);
    at 100 TB this runs at parquet-read speed. Patterns restricted to
    the Java∩RE2 regex subset so both engines match identically."""
    d = load_table(spark, sf_dir, "documents")
    text = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.col("text"))
    corpus = d.select("doc_id", text.alias("text"))
    n_emails = F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), 0))
    n_phones = F.size(F.regexp_extract_all("text", F.lit(_PHONE_RE), 0))
    scrubbed = F.regexp_replace(
        F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return (
        corpus.select(
            "doc_id",
            n_emails.alias("n_emails"),
            n_phones.alias("n_phones"),
            F.md5(scrubbed).alias("scrubbed_md5"),
        )
        .filter(F.col("n_emails") + F.col("n_phones") > 0)
    )


_PIPE_CORPUS_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
"""


@query(
    "pipeline_training_corpus",
    section="2.I",
    oracle=f"""
WITH corpus AS ({_PIPE_CORPUS_SQL}),
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
scored AS (
  SELECT d.doc_id,
         len({_TOKENS_SQL}) AS n_tokens,
         CAST(len(list_distinct({_TOKENS_SQL})) AS DOUBLE)
           / len({_TOKENS_SQL}) AS distinct_ratio
  FROM deduped d
),
kept AS (
  SELECT doc_id, n_tokens, distinct_ratio
  FROM scored
  WHERE n_tokens BETWEEN 5 AND 1000 AND distinct_ratio > 0.3
)
SELECT lang,
       COUNT(*) AS n_kept,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       {dsum_sql('round(distinct_ratio, 6)')} / COUNT(*) AS avg_distinct_ratio
FROM kept k JOIN documents doc ON doc.doc_id = k.doc_id % 1000000
GROUP BY lang
""",
)
def pipeline_training_corpus(spark, sf_dir):
    """The end-to-end training-data pipeline as ONE declarative plan:
    normalize → exact-dedup (content-hash, keep lowest doc_id) →
    quality gate (token count bounds + distinct-token ratio) → per-
    language corpus accounting. This is the composition a reference
    user actually runs nightly; every stage is an inventory operator
    (dedup_exact_hash, text_repetition_score, text_lang_profile) and
    the whole chain stays in Catalyst — one shuffle per stage
    boundary, no Python.

    The synthetic 10% duplicate injection is deduped exactly; lang is
    recovered for the kept docs via doc_id % offset (dup ids map back
    to their source). avg ratio goes through round-then-exact-decimal
    so the per-lang mean is engine-identical."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    corpus = d.select("doc_id", "text").unionByName(
        d.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    h = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    hashed = corpus.select("doc_id", "text", h.alias("h"))
    w = Window.partitionBy("h").orderBy("doc_id")
    deduped = (
        hashed.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn", "h")
    )
    toks = _tokens()
    scored = deduped.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias("distinct_ratio"),
    )
    kept = scored.filter(
        F.col("n_tokens").between(5, 1000) & (F.col("distinct_ratio") > 0.3)
    )
    meta = d.select(F.col("doc_id").alias("src_id"), "lang")
    return (
        kept.join(F.broadcast(meta), kept.doc_id % 1000000 == F.col("src_id"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_tokens").alias("total_tokens"),
            (dsum(F.round("distinct_ratio", 6)) / F.count(F.lit(1))).alias(
                "avg_distinct_ratio"
            ),
        )
    )


@query(
    "pipeline_training_corpus_full",
    section="2.I",
    oracle=None,  # assembled below (needs the BPE recursive CTE)
)
def pipeline_training_corpus_full(spark, sf_dir):
    """The WHOLE production corpus path as ONE Catalyst plan
    (VERDICT r8 #5): dedup -> quality -> BPE-token mix -> pack ->
    split -> stratified sample -> deterministic training order. Every
    stage is an already-pinned inventory operator, composed:

      corpus    documents + the 10% duplicate injection
                (pipeline_training_corpus's fixture contract)
      dedup     content-hash keep-lowest-id (dedup_exact_hash shape;
                rn=1 plans as WindowGroupLimit, never a full
                partition materialization)
      quality   whitespace-token count in [5,1000] and distinct-token
                ratio > 0.3 (text_repetition_score gate)
      mix       per-lang 20%-of-total-BPE-token budgets, broadcast
                back, salted-hash keep filter — the REAL token unit
                via the r9 subword vocab broadcast
                (pipeline_token_budget_mix_bpe shape, salt 'full')
      pack      {llm_pipeline._SEQ_TOKENS}-BPE-token sequence ids by
                global prefix sum — the two-phase form (per-bucket
                totals, offsets over the 1000x-smaller bucket table,
                within-bucket running sums), so the only
                single-partition windows in the plan run on few-row
                tables (pipeline_sequence_pack shape)
      split     deterministic train/val/test by id-hash bucket
                (pipeline_dataset_split shape)
      sample    exactly {llm_pipeline._STRAT_K} docs per (split,
                lang) by hash order — WindowGroupLimit again
                (pipeline_stratified_sample_k shape)
      order     repartitionByRange + sortWithinPartitions on the
                content shuffle key (pipeline_global_shuffle shape)
                — the range exchange that makes shard N of the
                manifest globally ordered after shard N-1.

    Scale notes: the meta/BPE-count attach carries NO broadcast hint
    — that side is corpus-sized (one row per document), and Spark
    honors an explicit broadcast hint regardless of
    autoBroadcastJoinThreshold, so hinting it would pin a
    driver-OOM plan at 100 TB (ADVICE r9 #2). Unhinted, Catalyst /
    AQE picks broadcast only while the size estimate is under the
    threshold and falls back to the doc_id-keyed shuffle join —
    the right plan at scale. Everything else keeps its proven shape:
    the thresholds broadcast is always a |langs|-row table, the
    sample output is bounded at splits x langs x k rows regardless of
    corpus size, and no stage leaves Catalyst (the BPE fold runs on
    the broadcast vocabulary only). The plan-shape test pins
    BroadcastHashJoin + WindowGroupLimit + RangePartitioning together
    in THIS one plan."""
    from sparkml_spark.functions.subword import bpe_doc_token_counts
    from sparkml_spark.operators.llm_pipeline import (
        _BUCKET,
        _SEQ_TOKENS,
        _SPLIT_TRAIN,
        _SPLIT_VAL,
        _STRAT_K,
        token_budget_thresholds,
    )
    from sparkml_spark.registry import md5_chunk16

    d = load_table(spark, sf_dir, "documents")
    corpus = d.select("doc_id", "text").unionByName(
        d.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    # dedup: content hash, keep lowest doc_id
    h = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    w_h = Window.partitionBy("h").orderBy("doc_id")
    deduped = (
        corpus.select("doc_id", "text", h.alias("h"))
        .withColumn("rn", F.row_number().over(w_h))
        .filter(F.col("rn") == 1)
        .drop("rn", "h")
    )
    # quality gate
    toks = _tokens()
    kept = deduped.select(
        "doc_id",
        F.size(toks).alias("n_ws"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias("dr"),
    ).filter(F.col("n_ws").between(5, 1000) & (F.col("dr") > 0.3)).select("doc_id")
    # attach lang + BPE token cost (dup ids map back to their source)
    info = (
        d.select("doc_id", "lang")
        .join(bpe_doc_token_counts(d), "doc_id")
        .select(F.col("doc_id").alias("src_id"), "lang", "n_tok")
    )
    enriched = kept.join(
        info, kept.doc_id % 1000000 == F.col("src_id")
    ).select("doc_id", "lang", "n_tok")
    # mix: 20% of total BPE tokens per lang, salted keep filter
    budgets = token_budget_thresholds(enriched)
    h16 = md5_chunk16(F.concat(F.lit("full"), F.col("doc_id").cast("string")))
    mixed = (
        enriched.join(F.broadcast(budgets), "lang")
        .filter(h16 < F.col("thr"))
        .select("doc_id", "lang", F.col("n_tok").cast("long").alias("n_tok"))
    )
    # pack: two-phase global prefix sum -> sequence id
    bucketed = mixed.withColumn("bucket", F.expr(f"doc_id DIV {_BUCKET}"))
    w_off = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = (
        bucketed.groupBy("bucket")
        .agg(F.sum("n_tok").alias("b_tokens"))
        .select(
            "bucket",
            (F.sum("b_tokens").over(w_off) - F.col("b_tokens")).alias("offset"),
        )
    )
    w_in = Window.partitionBy("bucket").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    packed = (
        bucketed.withColumn("run_in", F.sum("n_tok").over(w_in))
        .join(F.broadcast(offsets), "bucket")
        .select(
            "doc_id",
            "lang",
            "n_tok",
            F.expr(f"(offset + run_in - 1) DIV {_SEQ_TOKENS}").alias("seq_id"),
        )
    )
    # split assignment + exact-k stratified sample per (split, lang)
    bucket100 = md5_chunk16(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket100 < _SPLIT_TRAIN, "train")
        .when(bucket100 < _SPLIT_VAL, "val")
        .otherwise("test")
    )
    assigned = packed.withColumn("split", split)
    w_s = Window.partitionBy("split", "lang").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    sampled = (
        assigned.withColumn("rk", F.row_number().over(w_s))
        .filter(F.col("rk") <= _STRAT_K)
        .select("split", "lang", "doc_id", "n_tok", "seq_id", F.col("rk").cast("int").alias("rk"))
    )
    # deterministic training order: range exchange on the content key
    return sampled.withColumn(
        "shuffle_key", F.md5(F.col("doc_id").cast("string"))
    ).repartitionByRange("shuffle_key").sortWithinPartitions("shuffle_key")


# NOTE: this query's oracle needs the BPE recursive CTE and is
# assembled at the bottom of sparkml_spark/functions/subword.py —
# registering it HERE would import the functions package mid-init and
# crash any functions-first import order (round-9 code review #1).


@query(
    "text_token_entropy",
    section="2.I",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents
), tf AS (
  SELECT doc_id, token, COUNT(*) AS c FROM toks GROUP BY doc_id, token
), agg AS (
  SELECT doc_id,
         CAST(SUM(c) AS DOUBLE) AS n,
         CAST(SUM(CAST(round(c * ln(c), 9) AS DECIMAL(30,9))) AS DOUBLE)
           AS sum_clnc,
         COUNT(*) AS n_unique
  FROM tf GROUP BY doc_id
)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, n_unique,
       round(ln(n) - sum_clnc / n, 6) AS token_entropy
FROM agg
""",
)
def text_token_entropy(spark, sf_dir):
    """Shannon entropy of the per-doc token distribution — the
    gibberish/boilerplate detector that complements
    text_repetition_score (low entropy = repeated tokens, high =
    diverse vocabulary). Identity used: H = ln(n) - (1/n)*sum(c*ln c).

    Float parity: c*ln(c) is a libm chain, so each term is rounded at
    9 dp and summed as exact DECIMAL (order-independent), final H
    rounded at 6 dp — same quantize-early discipline as agg_stats.

    Scale: explode -> two grouped aggs keyed by doc_id; no vocabulary-
    wide state (unlike tf-idf's df table), so it shards perfectly."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_tokens()).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c"))
    agg = tf.groupBy("doc_id").agg(
        F.sum("c").cast("double").alias("n"),
        F.sum(F.round(F.col("c") * F.log("c"), 9).cast("decimal(30,9)"))
        .cast("double")
        .alias("sum_clnc"),
        F.count(F.lit(1)).alias("n_unique"),
    )
    return agg.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        "n_unique",
        F.round(F.log("n") - F.col("sum_clnc") / F.col("n"), 6).alias(
            "token_entropy"
        ),
    )


@query(
    "text_boilerplate_ngrams",
    section="2.I",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS_SQL} AS t FROM documents WHERE len({_TOKENS_SQL}) >= 8
), sh AS (
  SELECT doc_id, unnest(list_transform(range(1, len(t) - 7 + 1),
         i -> array_to_string(t[i:i+7], ' '))) AS shingle
  FROM toks
)
SELECT shingle,
       COUNT(DISTINCT doc_id) AS doc_freq,
       MIN(doc_id) AS example_doc
FROM sh GROUP BY shingle HAVING COUNT(DISTINCT doc_id) >= 3
""",
)
def text_boilerplate_ngrams(spark, sf_dir):
    """Boilerplate inventory (C4-style cleaning input): 8-gram word
    shingles that appear in >= 3 distinct documents — headers, cookie
    banners, license blurbs. Explode -> (shingle, doc) distinct ->
    count; the HAVING threshold keeps the result vocabulary-sized. At
    100 TB the shingle key is skewed (true boilerplate is everywhere)
    — partial aggregation absorbs the skew map-side before the
    shuffle; a distinct-before-count keeps per-key state bounded."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", _tokens().alias("t")).filter(F.size("t") >= 8)
    # r13: explode_OUTER + isnotnull — a plain explode's inferred
    # size()>0 filter re-inlines the tokenization into the lambda when
    # pushed below the projection (llm_dedup._shingled3_exploded has
    # the measurement). Exact: shingles are array_join results (never
    # null); the size("t") >= 8 filter already guarantees a non-empty
    # shingle array.
    sh = toks.select(
        "doc_id",
        F.explode_outer(
            F.expr("transform(sequence(1, size(t) - 7), i -> array_join(slice(t, i, 8), ' '))")
        ).alias("shingle"),
    ).filter(F.col("shingle").isNotNull())
    return (
        sh.groupBy("shingle")
        .agg(
            F.countDistinct("doc_id").alias("doc_freq"),
            F.min("doc_id").alias("example_doc"),
        )
        .filter(F.col("doc_freq") >= 3)
    )


@query(
    "text_perplexity_proxy",
    section="2.I",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents
), gf AS (
  SELECT token, COUNT(*) AS gc FROM toks GROUP BY token
), total AS (
  SELECT CAST(SUM(gc) AS DOUBLE) AS n_total FROM gf
), tf AS (
  SELECT doc_id, token, COUNT(*) AS c FROM toks GROUP BY doc_id, token
), scored AS (
  SELECT tf.doc_id,
         CAST(SUM(tf.c) AS DOUBLE) AS n_doc,
         CAST(SUM(CAST(round(tf.c * ln(gf.gc / total.n_total), 9)
                       AS DECIMAL(30,9))) AS DOUBLE) AS sum_lnp
  FROM tf JOIN gf ON tf.token = gf.token CROSS JOIN total
  GROUP BY tf.doc_id
)
SELECT doc_id,
       CAST(n_doc AS BIGINT) AS n_tokens,
       round(-sum_lnp / n_doc, 6) AS cross_entropy
FROM scored
""",
)
def text_perplexity_proxy(spark, sf_dir):
    """Unigram cross-entropy per document against the corpus token
    distribution — the KenLM-style perplexity proxy quality filters
    use (high = rare-token gibberish, low = common-token boilerplate;
    both tails get dropped). H(doc) = -(1/n) * sum_tokens c*ln(p_corpus).

    Parity: each c*ln(p) term quantized at 9 dp then decimal-summed
    (order-independent), final H rounded at 6 dp.

    Scale: the corpus distribution is a vocabulary-sized table —
    broadcast to the per-doc term counts; two grouped passes over the
    exploded tokens, both keyed on doc_id/token (no corpus-wide
    window). The `total` scalar rides along as a broadcast join, not
    a driver collect."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_tokens()).alias("token"))
    gf = toks.groupBy("token").agg(F.count(F.lit(1)).alias("gc"))
    total = gf.agg(F.sum("gc").cast("double").alias("n_total"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c"))
    scored = (
        tf.join(F.broadcast(gf), "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("double").alias("n_doc"),
            F.sum(
                F.round(
                    F.col("c") * F.log(F.col("gc") / F.col("n_total")), 9
                ).cast("decimal(30,9)")
            )
            .cast("double")
            .alias("sum_lnp"),
        )
    )
    return scored.select(
        "doc_id",
        F.col("n_doc").cast("bigint").alias("n_tokens"),
        F.round(-F.col("sum_lnp") / F.col("n_doc"), 6).alias("cross_entropy"),
    )


#: Fixed retrieval query for text_bm25_score / sim_rrf_fusion — terms
#: drawn from the fixture's real token pool (module docstring).
BM25_QUERY_TERMS = ("table", "hash", "merge", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75


#: Shared BM25 CTE chain (lands `bm25(doc_id, n_terms_matched,
#: bm25_micro)`) — embedded by text_bm25_score's oracle and reused by
#: sim_rrf_fusion's (llm_similarity.py) so the two engines' lexical
#: arms are one definition.
BM25_CTE = f"""
bm25_toks AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents
), bm25_dl AS (
  SELECT doc_id, COUNT(*) AS dl FROM bm25_toks GROUP BY doc_id
), bm25_stats AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
  FROM bm25_dl
), bm25_tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM bm25_toks
  WHERE token IN {tuple(BM25_QUERY_TERMS)}
  GROUP BY doc_id, token
), bm25_df AS (
  SELECT token, COUNT(DISTINCT doc_id) AS df FROM bm25_toks
  WHERE token IN {tuple(BM25_QUERY_TERMS)}
  GROUP BY token
), bm25 AS (
  SELECT tf.doc_id,
         CAST(COUNT(*) AS INTEGER) AS n_terms_matched,
         CAST(SUM(CAST(round(
           ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * ({_BM25_K1} + 1.0))
             / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                  + {_BM25_B} * dl.dl / s.avgdl))
           * 1000000) AS BIGINT)) AS BIGINT) AS bm25_micro
  FROM bm25_tf tf
  JOIN bm25_df df ON tf.token = df.token
  JOIN bm25_dl dl ON dl.doc_id = tf.doc_id
  CROSS JOIN bm25_stats s
  GROUP BY tf.doc_id
)
""".strip()


def bm25_scores(d):
    """(doc_id, n_terms_matched, bm25_micro) for docs matching >= 1
    query term — the Spark twin of BM25_CTE; see text_bm25_score for
    the formula and float discipline."""
    toks = d.select("doc_id", F.explode(_tokens()).alias("token"))
    terms = F.array(*[F.lit(t) for t in BM25_QUERY_TERMS])
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = F.broadcast(
        dl.agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        )
    )
    matched = toks.filter(F.array_contains(terms, F.col("token")))
    tf = matched.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = F.broadcast(
        matched.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    )
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    score = (
        idf
        * (F.col("tf") * (_BM25_K1 + 1.0))
        / (
            F.col("tf")
            + _BM25_K1
            * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        tf.join(df, "token")
        .join(dl, "doc_id")
        .crossJoin(stats)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_terms_matched"),
            F.sum(F.round(score * 1000000).cast("bigint"))
            .cast("bigint")
            .alias("bm25_micro"),
        )
    )


@query(
    "text_bm25_score",
    section="2.I",
    oracle=f"""
WITH {BM25_CTE}
SELECT doc_id, n_terms_matched, bm25_micro FROM bm25
""",
)
def text_bm25_score(spark, sf_dir):
    """Okapi BM25 document scoring against a fixed query-term set —
    the lexical-retrieval half of a hybrid search stack (k1=1.2,
    b=0.75, idf = ln(1 + (N-df+0.5)/(df+0.5)) [Robertson & Zaragoza
    2009]). tfidf ranks terms within a corpus; BM25 ranks DOCUMENTS
    for a query, with tf saturation and length normalization — the
    operator a retrieval/dedup-audit pipeline actually calls.

    Cross-engine float discipline: each (doc, term) partial score is
    quantized to integer MICRO units before the per-doc sum, so the
    result is an exact bigint regardless of either engine's addition
    order (the registry dsum lesson applied to libm outputs; plain
    round-after-sum would expose DuckDB-vs-JVM sum-order ulps).

    Scale: tf is filtered to the query terms AT THE EXPLODE (pushdown
    — the per-doc state is |query| counters, not the vocabulary); df
    and the (n_docs, avgdl) scalar are tiny broadcasts; one shuffle
    on doc_id. Per-query cost at 100 TB is the one corpus scan every
    retrieval system pays without an inverted index; building that
    index IS dedup_containment's df-cut posting-list shape."""
    return bm25_scores(load_table(spark, sf_dir, "documents"))


@query(
    "quality_gopher_filter",
    section="2.I",
    oracle=f"""
WITH feats AS (
  SELECT doc_id,
         n_chars,
         len({_TOKENS_SQL}) AS n,
         len(regexp_replace(lower(trim(text)), '\\s', '', 'g')) AS sum_len,
         len(translate(text, 'abcdefghijklmnopqrstuvwxyz0123456789 ', ''))
           AS n_punct,
         len(list_distinct({_TOKENS_SQL})) AS n_distinct,
         len(list_intersect({_TOKENS_SQL},
             ['the', 'a', 'data', 'value'])) AS n_stop
  FROM documents
)
SELECT doc_id,
       CASE
         WHEN n < 5 OR n > 1000 THEN 'word_count'
         WHEN sum_len < 2 * n OR sum_len > 12 * n THEN 'word_length'
         WHEN 10 * n_punct > n_chars THEN 'symbol_ratio'
         WHEN n_stop = 0 THEN 'no_stopword'
         WHEN 5 * n_distinct <= n THEN 'repetition'
         ELSE 'ok'
       END AS first_fail,
       CAST(CASE
         WHEN n < 5 OR n > 1000 THEN 0
         WHEN sum_len < 2 * n OR sum_len > 12 * n THEN 0
         WHEN 10 * n_punct > n_chars THEN 0
         WHEN n_stop = 0 THEN 0
         WHEN 5 * n_distinct <= n THEN 0
         ELSE 1
       END AS INTEGER) AS keep
FROM feats
""",
)
def quality_gopher_filter(spark, sf_dir):
    """The canonical Gopher-rules quality DECISION per document [Rae
    et al. 2021 §A1.1, adapted to the fixture's scale]: word-count
    window, mean-word-length window, symbol ratio, mandatory-stopword
    presence, and a distinct-token repetition floor — evaluated in a
    FIXED rule order with the first failing rule reported, which is
    what a filter-debugging pipeline actually needs (the funnel op
    reports stage attrition; this reports each doc's verdict).

    Every gate is an integer cross-multiplication (mean length 2-12
    ⟺ 2n <= Σlen <= 12n; symbol ratio <= 0.1 ⟺ 10·punct <= chars;
    distinct ratio > 0.2 ⟺ 5·distinct > n) — the filter_funnel
    float-free discipline, so the cross-engine hash is exact. Σlen
    of words = length of the whitespace-stripped text (regexp_replace
    — measured UNaffected by the extract-all/rlike regex tax,
    SCALE.md r10); punct count via the 41x char-map translate.

    Scale: one narrow projection, no shuffle at all — the decision
    column feeds whatever downstream filter/groupBy consumes it."""
    d = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    n = F.size(toks)
    sum_len = F.length(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s", "")
    )
    n_punct = F.length(
        F.translate(F.col("text"), "abcdefghijklmnopqrstuvwxyz0123456789 ", "")
    )
    n_distinct = F.size(F.array_distinct(toks))
    n_stop = F.size(F.array_intersect(toks, stop))
    first_fail = (
        F.when((n < 5) | (n > 1000), "word_count")
        .when((sum_len < 2 * n) | (sum_len > 12 * n), "word_length")
        .when(10 * n_punct > F.col("n_chars"), "symbol_ratio")
        .when(n_stop == 0, "no_stopword")
        .when(5 * n_distinct <= n, "repetition")
        .otherwise("ok")
    )
    return d.select(
        "doc_id",
        first_fail.alias("first_fail"),
        (first_fail == "ok").cast("int").alias("keep"),
    )


# ---------------------------------------------------------------------------
# quality_surprise_filter (round 11) — perplexity-style LM filtering,
# exact-integer
# ---------------------------------------------------------------------------

#: keep threshold in milli-bits/word — set between the fixture corpus's
#: median (~5.4-5.6 bits/word) and its tail (max 6.0-6.25), so the
#: filter keeps the bulk and drops the rare-word-heavy tail at every
#: fixture scale.
_SURPRISE_KEEP = 5600

#: surprisal assigned to words ABSENT from the reference LM — strictly
#: above the in-vocab maximum (ppm >= 1 -> bucket <= 20), so OOV text
#: is always the most surprising.
_SURPRISE_OOV = 24


@query(
    "quality_surprise_filter",
    section="2.I",
    oracle=f"""
WITH ref AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
  FROM documents WHERE source = 'src0'
), rc AS (SELECT w, COUNT(*) AS c FROM ref WHERE w <> '' GROUP BY w),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM rc),
lm AS (
  SELECT w, 21 - length(bin(c * 1000000 // (SELECT n FROM tot))) AS s
  FROM rc
),
dw AS (
  SELECT doc_id, lang, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
  FROM documents
), dwc AS (
  SELECT doc_id, lang, w, COUNT(*) AS c FROM dw WHERE w <> ''
  GROUP BY doc_id, lang, w
)
SELECT doc_id, lang,
       CAST(SUM(c) AS BIGINT) AS n_words,
       CAST(SUM(c * COALESCE(lm.s, {_SURPRISE_OOV})) * 1000 // SUM(c) AS BIGINT)
         AS surprise_milli,
       CAST(SUM(CASE WHEN lm.s IS NULL THEN c ELSE 0 END) AS BIGINT) AS n_oov,
       CAST(CASE WHEN SUM(c * COALESCE(lm.s, {_SURPRISE_OOV})) * 1000 // SUM(c)
                 <= {_SURPRISE_KEEP} THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM dwc LEFT JOIN lm USING (w)
GROUP BY doc_id, lang
""",
)
def quality_surprise_filter(spark, sf_dir):
    """Perplexity-style LM quality filtering (CCNet's third gate next
    to quality_gopher_filter's heuristics and quality_drift_*'s
    monitors): train a unigram LM on the REFERENCE slice (source =
    'src0'), score every document by its mean per-word surprisal, and
    keep documents under {_SURPRISE_KEEP} milli-bits/word — the
    standard "drop what the reference LM finds perplexing" filter
    [Wenzek et al. 2020, CCNet].

    Exactness discipline — why this hashes cross-engine where true
    perplexity cannot: -log2 P(w) is a transcendental, and JVM
    Math.log vs libm log differ in last ulps, so the surprisal is
    quantized to INTEGER BIT BUCKETS computed without any float:
    surprisal(w) = 21 - bitlen(freq_ppm(w)) where bitlen is the
    binary-string length (Spark length(conv(x,10,2)), DuckDB
    length(bin(x))) — i.e. floor(log2) in pure integer ops. The
    bucket score is monotone in true unigram perplexity at bucket
    granularity (each bucket = one doubling of word probability).
    Sub-ppm words floor at the max in-vocab bucket (20); OOV words
    score {_SURPRISE_OOV}, strictly above every in-vocab word, and
    are reported per doc as n_oov. The doc score is an integer
    milli-bits/word ratio (sum * 1000 DIV n) — bit-identical on both
    engines at any corpus size.

    Scale: the LM is VOCABULARY-sized (one map-side-combinable agg
    over the reference slice, broadcast back); scoring is the BPE-
    costing shape — explode → (doc, word) partial-agg counts →
    broadcast LM join → one doc_id agg. The corpus text is never
    shuffled."""
    d = load_table(spark, sf_dir, "documents")
    words = F.explode(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    ).alias("w")
    rc = (
        d.filter(F.col("source") == "src0")
        .select(words)
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = rc.agg(F.sum("c").cast("long").alias("n"))
    lm = rc.crossJoin(F.broadcast(tot)).select(
        "w",
        (
            F.lit(21)
            - F.length(F.conv(F.expr("c * 1000000 DIV n"), 10, 2))
        ).alias("s"),
    )
    dwc = (
        d.select("doc_id", "lang", words)
        .filter(F.col("w") != "")
        .groupBy("doc_id", "lang", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    score = F.expr(f"sum(c * coalesce(s, {_SURPRISE_OOV})) * 1000 DIV sum(c)")
    return (
        dwc.join(F.broadcast(lm), "w", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c").cast("long").alias("n_words"),
            score.cast("long").alias("surprise_milli"),
            F.sum(F.when(F.col("s").isNull(), F.col("c")).otherwise(0))
            .cast("long")
            .alias("n_oov"),
            (score <= _SURPRISE_KEEP).cast("int").alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# text_pii_redact (round 11) — PII scrubbing with exact counts
# ---------------------------------------------------------------------------

#: Redaction patterns, applied IN ORDER (email first: its domain part
#: contains dots that the IP pattern must never see; placeholders are
#: digit-free so later patterns cannot match inside earlier
#: redactions). Both engines run the same patterns — the syntax subset
#: used ([..] classes, {m,n}, \\b, literal dots) parses identically in
#: java.util.regex and RE2.
_PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[a-z0-9._%-]+@[a-z0-9.-]+\.[a-z]{2,}", "<EMAIL>"),
    ("phone", r"\b555-[0-9]{4}\b", "<PHONE>"),
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
]

_PII_INJECT_SQL = """
  SELECT doc_id, lang,
         text ||
         CASE WHEN doc_id % 7 = 0
              THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
              ELSE '' END ||
         CASE WHEN doc_id % 11 = 0
              THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE '' END ||
         CASE WHEN doc_id % 13 = 0
              THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                   || '.0.' || CAST(doc_id % 100 AS VARCHAR)
              ELSE '' END AS t
  FROM documents
""".strip()


@query(
    "text_pii_redact",
    section="2.I",
    oracle=f"""
WITH pii AS ({_PII_INJECT_SQL})
SELECT doc_id, lang,
       CAST(len(regexp_extract_all(t, '{_PII_PATTERNS[0][1]}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(t, '{_PII_PATTERNS[1][1]}')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(t, '{_PII_PATTERNS[2][1]}')) AS BIGINT) AS n_ip,
       regexp_replace(regexp_replace(regexp_replace(t,
          '{_PII_PATTERNS[0][1]}', '{_PII_PATTERNS[0][2]}', 'g'),
          '{_PII_PATTERNS[1][1]}', '{_PII_PATTERNS[1][2]}', 'g'),
          '{_PII_PATTERNS[2][1]}', '{_PII_PATTERNS[2][2]}', 'g') AS clean_text
FROM pii
""",
)
def text_pii_redact(spark, sf_dir):
    """PII scrubbing — the compliance pass every production training
    corpus runs before anything else (emails, phone numbers, IP
    addresses → typed placeholders), with per-document match COUNTS
    so the redaction rate is monitorable per source/lang. The fixture
    text carries no PII, so a deterministic synthetic layer is
    injected first (every 7th doc an email, 11th a phone, 13th an IP
    — same arithmetic in both engines), making the redaction
    verifiable end to end: counts AND the full redacted text are
    hash-pinned cross-engine.

    Regex-dialect discipline: patterns use only the syntax subset
    that java.util.regex (Spark) and RE2 (DuckDB) parse identically —
    character classes, bounded repetition, word boundaries, literal
    dots; no lookaround, no backreferences. Replacement ORDER is part
    of the contract (emails first — their dotted domains must never
    reach the IP pattern; placeholders are digit-free so redactions
    never cascade).

    Scale: one narrow projection — per-row regex work, zero shuffle,
    zero UDF (Spark's regexp_replace/regexp_count are codegen'd JVM
    ops). At 100 TB this is the classic embarrassingly parallel scan;
    the only design decision that matters is keeping it OFF the
    driver and UDF-free, which this is."""
    d = load_table(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact u"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                F.lit(" from 10."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".0."),
                (F.col("doc_id") % 100).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    clean = F.col("t")
    for _, pat, repl in _PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, repl)
    return d.select("doc_id", "lang", t.alias("t")).select(
        "doc_id",
        "lang",
        F.regexp_count("t", F.lit(_PII_PATTERNS[0][1])).cast("long").alias("n_email"),
        F.regexp_count("t", F.lit(_PII_PATTERNS[1][1])).cast("long").alias("n_phone"),
        F.regexp_count("t", F.lit(_PII_PATTERNS[2][1])).cast("long").alias("n_ip"),
        clean.alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# quality_keep_decision (round 11) — THE production keep bit
# ---------------------------------------------------------------------------

@query("quality_keep_decision", section="2.I", oracle=None)
def quality_keep_decision(spark, sf_dir):
    """The FINAL per-document keep decision a production corpus build
    writes — the conjunction of this engine's quality gates with
    per-gate attribution: Gopher heuristics (quality_gopher_filter),
    reference-LM surprisal (quality_surprise_filter), and PII
    presence (text_pii_redact's counts over the synthetic-PII layer;
    a doc carrying PII is quarantined for redaction, not kept as-is).
    One row per doc: each gate's verdict plus final_keep = AND of all
    three — so a filter-debugging session reads WHICH gate killed a
    doc without re-running anything.

    Composition discipline: both sides are BUILT FROM the registered
    pieces — the Spark plan joins the three gate queries' DataFrames;
    the oracle nests the three gates' REGISTERED oracle strings as
    subqueries (see the module-bottom registration) — so this op can
    never drift from its components: any gate fix propagates here by
    construction.

    Scale: three narrow per-doc computations joined on doc_id — the
    gates are zero-shuffle projections or broadcast-LM aggs; the
    join keys are co-partitionable on doc_id."""
    from sparkml_spark.registry import QUERIES

    g = QUERIES["quality_gopher_filter"](spark, sf_dir).select(
        "doc_id", F.col("keep").alias("gopher_keep")
    )
    s = QUERIES["quality_surprise_filter"](spark, sf_dir).select(
        "doc_id", F.col("keep").alias("surprise_keep")
    )
    p = QUERIES["text_pii_redact"](spark, sf_dir).select(
        "doc_id",
        (F.col("n_email") + F.col("n_phone") + F.col("n_ip")).alias("n_pii"),
    )
    return (
        g.join(s, "doc_id")
        .join(p, "doc_id")
        .select(
            "doc_id",
            "gopher_keep",
            "surprise_keep",
            F.col("n_pii").cast("long").alias("n_pii"),
            (
                (F.col("gopher_keep") == 1)
                & (F.col("surprise_keep") == 1)
                & (F.col("n_pii") == 0)
            )
            .cast("int")
            .alias("final_keep"),
        )
    )


def _wire_keep_decision_oracle():
    from sparkml_spark import registry as _r

    g = _r.ORACLES["quality_gopher_filter"].strip().rstrip(";")
    s = _r.ORACLES["quality_surprise_filter"].strip().rstrip(";")
    p = _r.ORACLES["text_pii_redact"].strip().rstrip(";")
    _r.ORACLES["quality_keep_decision"] = f"""
SELECT g.doc_id,
       g.keep AS gopher_keep,
       s.keep AS surprise_keep,
       CAST(p.n_email + p.n_phone + p.n_ip AS BIGINT) AS n_pii,
       CAST(CASE WHEN g.keep = 1 AND s.keep = 1
                  AND p.n_email + p.n_phone + p.n_ip = 0
            THEN 1 ELSE 0 END AS INTEGER) AS final_keep
FROM ({g}) g
JOIN ({s}) s ON s.doc_id = g.doc_id
JOIN ({p}) p ON p.doc_id = g.doc_id
""".strip()
    _r.META["quality_keep_decision"]["tier"] = "ORACLE"


_wire_keep_decision_oracle()


# ---------------------------------------------------------------------------
# text_keyword_topk (round 11) — per-doc top-3 TF-IDF keywords
# ---------------------------------------------------------------------------

@query(
    "text_keyword_topk",
    section="2.I",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token
), df AS (
  SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY token
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.token, CAST(tf.tf AS BIGINT) AS tf,
         CAST(df.df AS BIGINT) AS df,
         round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
)
SELECT doc_id, token, tf, df, tfidf,
       CAST(kw_rank AS BIGINT) AS kw_rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, token ASC) AS kw_rank
  FROM scored
) WHERE kw_rank <= 3
""",
)
def text_keyword_topk(spark, sf_dir):
    """Per-document keyword extraction: the top-3 terms by TF-IDF
    (text_tfidf_sql's exact scoring — 6dp-rounded ln identical on
    both engines, so the sort keys are bit-equal) with token as the
    total-order tiebreak. The per-doc top-k compiles to a
    WindowGroupLimit (rank pushed below the sort), so the limit
    prunes before any full per-doc materialization.

    Scale: tokenize once, vocabulary-sized df broadcast, one doc_id
    shuffle for the window on bounded per-doc groups."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_tokens()).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df = toks.groupBy("token").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    n = F.broadcast(d.agg(F.count(F.lit(1)).alias("n_docs")))
    scored = (
        tf.join(F.broadcast(df), "token")
        .crossJoin(n)
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("kw_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("kw_rank") <= 3)
    )


# ---------------------------------------------------------------------------
# quality_langid_confusion (round 11) — the language-ID eval matrix
# ---------------------------------------------------------------------------

@query(
    "quality_langid_confusion",
    section="2.I",
    oracle=f"""
WITH pred AS (
  SELECT lang,
       CASE
         WHEN {_marker_score_sql(LANG_MARKERS['zh'])} >= greatest(
                {_marker_score_sql(LANG_MARKERS['en'])},
                {_marker_score_sql(LANG_MARKERS['de'])},
                {_marker_score_sql(LANG_MARKERS['es'])},
                {_marker_score_sql(LANG_MARKERS['fr'])}) THEN 'zh'
         WHEN {_marker_score_sql(LANG_MARKERS['fr'])} >= greatest(
                {_marker_score_sql(LANG_MARKERS['en'])},
                {_marker_score_sql(LANG_MARKERS['de'])},
                {_marker_score_sql(LANG_MARKERS['es'])}) THEN 'fr'
         WHEN {_marker_score_sql(LANG_MARKERS['es'])} >= greatest(
                {_marker_score_sql(LANG_MARKERS['en'])},
                {_marker_score_sql(LANG_MARKERS['de'])}) THEN 'es'
         WHEN {_marker_score_sql(LANG_MARKERS['de'])}
              >= {_marker_score_sql(LANG_MARKERS['en'])} THEN 'de'
         ELSE 'en'
       END AS lang_pred
  FROM documents
), cells AS (
  SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
  FROM pred GROUP BY lang, lang_pred
), truth AS (
  SELECT lang, CAST(SUM(n) AS BIGINT) AS n_true FROM cells GROUP BY lang
)
SELECT c.lang, c.lang_pred, c.n,
       round(CAST(c.n AS DOUBLE) / t.n_true, 6) AS row_rate,
       c.lang = c.lang_pred AS is_correct
FROM cells c JOIN truth t ON t.lang = c.lang
""",
)
def quality_langid_confusion(spark, sf_dir):
    """Confusion matrix of the marker-token language identifier
    against the corpus's labeled lang — the EVAL every langid
    deployment runs before trusting the router: per (true, predicted)
    cell, counts and row-normalized rates (recall on the diagonal).
    Reuses text_langid_heuristic's exact scorer and tie cascade;
    the fixture's shared vocabulary makes most predictions collapse
    toward the cascade default — large off-diagonal mass is the
    HONEST readout (the op pins the evaluation algebra; the module
    docstring owns the marker-quality caveat).

    Scale: one scan scoring each doc against 5 constant marker lists
    (codegen'd higher-order functions), then a ≤25-cell histogram."""
    d = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    scores = {k: _marker_score_spark(toks, v) for k, v in LANG_MARKERS.items()}
    pred = (
        F.when(
            scores["zh"]
            >= F.greatest(scores["en"], scores["de"], scores["es"], scores["fr"]),
            "zh",
        )
        .when(scores["fr"] >= F.greatest(scores["en"], scores["de"], scores["es"]), "fr")
        .when(scores["es"] >= F.greatest(scores["en"], scores["de"]), "es")
        .when(scores["de"] >= scores["en"], "de")
        .otherwise("en")
    )
    cells = (
        d.select("lang", pred.alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    truth = cells.groupBy("lang").agg(F.sum("n").cast("long").alias("n_true"))
    return cells.join(F.broadcast(truth), "lang").select(
        "lang",
        "lang_pred",
        "n",
        F.round(F.col("n").cast("double") / F.col("n_true"), 6).alias("row_rate"),
        (F.col("lang") == F.col("lang_pred")).alias("is_correct"),
    )


# ---------------------------------------------------------------------------
# text_heaps_law_fit (round 11) — vocabulary-growth exponent
# ---------------------------------------------------------------------------

@query(
    "text_heaps_law_fit",
    section="2.I",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents
), firsts AS (
  SELECT token, MIN(doc_id) AS fd FROM toks GROUP BY token
), doc_tok AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nt FROM toks GROUP BY doc_id
), cps AS (
  -- FIXED 20-point quantile grid over the id range: cp_k =
  -- (max_id+1)*k DIV 20 - 1. A modulo grid (doc_id %% 25) grows
  -- linearly with the corpus and made the checkpoint cross join
  -- quadratic — caught super-linear (168.9x) by the x100 stress run.
  SELECT ((SELECT MAX(doc_id) + 1 FROM documents) * k.k) // 20 - 1 AS cp
  FROM (SELECT unnest(range(1, 21)) AS k) k
), pts AS (
  SELECT cp,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM firsts WHERE fd <= cp) AS v,
         (SELECT CAST(SUM(nt) AS BIGINT) FROM doc_tok WHERE doc_id <= cp) AS n
  FROM cps
), ll AS (
  SELECT round(ln(n), 9) AS x, round(ln(v), 9) AS y FROM pts
), s AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS m,
         CAST(SUM(CAST(x AS DECIMAL(30,9))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(30,9))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(round(x * y, 9) AS DECIMAL(30,9))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(round(x * x, 9) AS DECIMAL(30,9))) AS DOUBLE) AS sxx
  FROM ll
)
SELECT CAST(m AS BIGINT) AS n_checkpoints,
       round((m * sxy - sx * sy) / (m * sxx - sx * sx), 6) AS heaps_beta,
       round((sy - (m * sxy - sx * sy) / (m * sxx - sx * sx) * sx) / m, 6)
         AS heaps_lnk
FROM s
""",
)
def text_heaps_law_fit(spark, sf_dir):
    """Heaps'-law vocabulary-growth fit: V(N) ≈ K·N^β — the
    corpus-linguistics dual of the Zipf fit (events_power_law_fit),
    and the number that SIZES every vocabulary-bounded structure in
    the engine (BPE tables, df indexes, bucket grids): β ≈ 0.5 means
    vocabulary grows with the square root of token count, which is
    WHY broadcast-vocabulary plans survive 100 TB. Measured at 20
    doc-count checkpoints: V = tokens first seen by then (min-doc_id
    per token — an exact partial agg), N = cumulative token count;
    β/lnK by the 9dp-quantized OLS composition.

    Scale: one tokenize pass for both the first-occurrence and
    per-doc-count aggregates; checkpoints are a fixed ≤20-row
    broadcast crossed with the (vocabulary-sized / doc-grid-sized)
    aggregates — never a second corpus scan."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_tokens()).alias("token"))
    firsts = toks.groupBy("token").agg(F.min("doc_id").alias("fd"))
    doc_tok = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("nt"))
    mx = d.agg((F.max("doc_id") + 1).alias("m1"))
    ks = spark.createDataFrame([(k,) for k in range(1, 21)], "k INT")
    cps = ks.crossJoin(F.broadcast(mx)).select(
        (F.expr("m1 * k DIV 20") - 1).alias("cp")
    )
    v = (
        firsts.crossJoin(F.broadcast(cps))
        .filter(F.col("fd") <= F.col("cp"))
        .groupBy("cp")
        .agg(F.count(F.lit(1)).cast("long").alias("v"))
    )
    n = (
        doc_tok.crossJoin(F.broadcast(cps))
        .filter(F.col("doc_id") <= F.col("cp"))
        .groupBy("cp")
        .agg(F.sum("nt").cast("long").alias("n"))
    )
    ll = v.join(n, "cp").select(
        F.round(F.log("n"), 9).alias("x"), F.round(F.log("v"), 9).alias("y")
    )
    s = ll.agg(
        F.count(F.lit(1)).cast("double").alias("m"),
        F.sum(F.col("x").cast("decimal(30,9)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(30,9)")).cast("double").alias("sy"),
        F.sum(F.round(F.col("x") * F.col("y"), 9).cast("decimal(30,9)"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.round(F.col("x") * F.col("x"), 9).cast("decimal(30,9)"))
        .cast("double")
        .alias("sxx"),
    )
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.select(
        F.col("m").cast("long").alias("n_checkpoints"),
        F.round(num / den, 6).alias("heaps_beta"),
        F.round((F.col("sy") - num / den * F.col("sx")) / F.col("m"), 6).alias(
            "heaps_lnk"
        ),
    )


# ---------------------------------------------------------------------------
# text_char_ngram_profile (round 11) — the langid foundation table
# ---------------------------------------------------------------------------

@query(
    "text_char_ngram_profile",
    section="2.I",
    oracle="""
WITH chars AS (
  SELECT lang, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
  FROM documents
), grams AS (
  SELECT lang, substr(t, i.i, 3) AS g
  FROM chars CROSS JOIN LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) i
), counts AS (
  SELECT lang, g, CAST(COUNT(*) AS BIGINT) AS n FROM grams GROUP BY lang, g
)
SELECT lang, g, n, CAST(rnk AS BIGINT) AS rnk FROM (
  SELECT lang, g, n,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, g ASC) AS rnk
  FROM counts
) WHERE rnk <= 5
""",
)
def text_char_ngram_profile(spark, sf_dir):
    """Per-language character-trigram profile (top-5 by frequency,
    gram text breaking ties) — the foundation table real language
    identifiers rank against [Cavnar & Trenkle 1994's n-gram
    profiles]: where text_langid_heuristic consumes marker WORDS,
    this op builds the sub-word signal that distinguishes languages
    sharing vocabulary. Normalization is the dedup family's
    whitespace collapse, so gram offsets are reproducible.

    Scale: the explode is linear in character count (the honest heavy
    stage, same class as tokenization); counts collapse map-side onto
    the (lang × trigram) grid — alphabet-bounded, broadcastable — and
    the per-lang top-5 is a WindowGroupLimit."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    t = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    chars = d.select("lang", t.alias("t"))
    # r13: explode_OUTER + isnotnull, not plain explode — the inferred
    # size()>0 filter would be pushed below the projection with `t`'s
    # normalization re-inlined into the lambda, re-running the
    # regexp_replace per ELEMENT at the scan (see
    # llm_dedup._shingled3_exploded for the measurement). Exact: gram
    # values are substrings of a non-null t (never null); docs shorter
    # than 3 chars produce an empty array and contributed no rows
    # before.
    grams = chars.select(
        "lang",
        F.explode_outer(
            F.expr("transform(sequence(1, greatest(length(t) - 2, 0)), i -> substring(t, i, 3))")
        ).alias("g"),
    ).filter(F.col("g").isNotNull())
    counts = grams.groupBy("lang", "g").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("g").asc())
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 5)
    )


# ---------------------------------------------------------------------------
# text_tfidf_knn (round 11) — sparse cosine nearest neighbors
# ---------------------------------------------------------------------------

@query(
    "text_tfidf_knn",
    section="2.I",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents
), tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, token
), df AS (
  SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM toks GROUP BY token
), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
w AS (
  SELECT tf.doc_id, tf.token,
         CAST(round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) * 1e6) AS BIGINT)
           AS wm
  FROM tf JOIN df ON df.token = tf.token CROSS JOIN n
  WHERE 10 * df.df <= 9 * n.n_docs
), norms AS (
  SELECT doc_id,
         sqrt(CAST(SUM(CAST(wm * wm AS HUGEINT)) AS DOUBLE)) AS nrm
  FROM w GROUP BY doc_id
), dots AS (
  SELECT a.doc_id AS query_id, b.doc_id AS neighbor_id,
         CAST(SUM(CAST(a.wm * b.wm AS HUGEINT)) AS DOUBLE) AS dot
  FROM w a JOIN w b ON b.token = a.token AND b.doc_id != a.doc_id
  WHERE a.doc_id < 20
  GROUP BY a.doc_id, b.doc_id
), cos AS (
  SELECT d.query_id, d.neighbor_id,
         round(d.dot / (nq.nrm * nc.nrm), 6) AS cosine
  FROM dots d
  JOIN norms nq ON nq.doc_id = d.query_id
  JOIN norms nc ON nc.doc_id = d.neighbor_id
)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rnk FROM (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rnk
  FROM cos
) WHERE rnk <= 3
""",
)
def text_tfidf_knn(spark, sf_dir):
    """Sparse tf-idf cosine nearest neighbors — text similarity
    WITHOUT embeddings, the classical IR retrieval the dense arms
    (sim_*) complement: weights quantized to integer micros (the BM25
    trick — the inverted-index dot products are exact int sums on
    wide accumulators, no float order anywhere before the one final
    cosine division), candidates generated ONLY through the shared-
    token inverted index with the df-cut (a pair scoring requires a
    shared informative token — the jaccard family's skew guard), and
    the 20-query probe contract of sim_topk_bruteforce. Top-3 per
    query by (cosine desc, id).

    Scale: tokenize once; the index join's per-token fanout is
    df-bounded BY the cut; norms and dots are partial-agg folds;
    per-query top-3 is a WindowGroupLimit."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_tokens()).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df = toks.groupBy("token").agg(F.countDistinct("doc_id").cast("long").alias("df"))
    n = F.broadcast(d.agg(F.count(F.lit(1)).alias("n_docs")))
    w = cache(
        tf.join(F.broadcast(df), "token")
        .crossJoin(n)
        # df-cut at 90% here, NOT the family's 50%: the fixture's
        # 31-token vocabulary has 30 tokens above 50% df, which made
        # the first cut vacuous (3 result rows). The threshold is the
        # skew-guard tuning knob — production corpora (Heaps-law
        # vocabularies) run 50%; the plan shape is identical.
        .filter(10 * F.col("df") <= 9 * F.col("n_docs"))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
                * 1e6
            )
            .cast("long")
            .alias("wm"),
        )
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(
            F.sum((F.col("wm") * F.col("wm")).cast("decimal(38,0)")).cast("double")
        ).alias("nrm")
    )
    a = w.filter(F.col("doc_id") < 20).select(
        F.col("doc_id").alias("query_id"), "token", F.col("wm").alias("wq")
    )
    b = w.select(
        F.col("doc_id").alias("neighbor_id"), "token", F.col("wm").alias("wc")
    )
    dots = (
        a.join(b, "token")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.sum((F.col("wq") * F.col("wc")).cast("decimal(38,0)"))
            .cast("double")
            .alias("dot")
        )
    )
    cos = (
        dots.join(
            norms.select(F.col("doc_id").alias("query_id"), F.col("nrm").alias("nq")),
            "query_id",
        )
        .join(
            norms.select(
                F.col("doc_id").alias("neighbor_id"), F.col("nrm").alias("nc")
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("dot") / (F.col("nq") * F.col("nc")), 6).alias("cosine"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        cos.withColumn("rnk", F.row_number().over(wr).cast("long"))
        .filter(F.col("rnk") <= 3)
    )


# ---------------------------------------------------------------------------
# text_type_token_ratio (round 11) — lexical diversity
# ---------------------------------------------------------------------------

@query(
    "text_type_token_ratio",
    section="2.I",
    oracle=f"""
SELECT doc_id,
       CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct({_TOKENS_SQL})) AS BIGINT) AS n_types,
       round(CAST(len(list_distinct({_TOKENS_SQL})) AS DOUBLE)
             / len({_TOKENS_SQL}), 6) AS ttr,
       round(CAST(len(list_distinct({_TOKENS_SQL})) AS DOUBLE)
             / sqrt(2.0 * len({_TOKENS_SQL})), 6) AS root_ttr
FROM documents
""",
)
def text_type_token_ratio(spark, sf_dir):
    """Per-document lexical diversity: the type-token ratio and
    Guiraud's length-corrected Root TTR (types/√(2·tokens) — plain
    TTR shrinks mechanically with length, which is why quality
    filters that threshold raw TTR silently prefer SHORT documents;
    both reported so the correction is auditable). Exact integer
    counts, two exact single divisions (sqrt IEEE-exact).

    Scale: zero-shuffle narrow projection — codegen array algebra
    per document."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n_tok = F.size(toks).cast("long")
    n_typ = F.size(F.array_distinct(toks)).cast("long")
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_typ.alias("n_types"),
        F.round(n_typ.cast("double") / n_tok, 6).alias("ttr"),
        F.round(n_typ.cast("double") / F.sqrt(2.0 * n_tok), 6).alias("root_ttr"),
    )
