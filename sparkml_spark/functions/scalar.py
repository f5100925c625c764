"""§2.H Scalar function families (SURVEY.md).

One demonstrating query per family, all built-in `pyspark.sql.functions`
(JVM codegen — no Python in the data path anywhere in this module).
Cross-engine parity notes that cost real debugging time are documented
inline: regexp_replace global flag, double→int cast semantics,
transcendental libm last-ulp drift (rounded at 6 dp), and float-array
folds (cast to double, fold left-to-right on both sides).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkml_spark.registry import (
    ZERO_VIOLATIONS,
    dot,
    dot_sql,
    dsum,
    dsum_sql,
    query,
    sqnorm,
    sqnorm_sql,
)
from sparkml_spark.sources.loader import load_table


@query(
    "fn_string",
    section="2.H",
    oracle="""
SELECT p_partkey,
       upper(p_name) AS up_name,
       lower(p_brand) AS lo_brand,
       length(p_name) AS name_len,
       substring(p_name, 1, 5) AS name5,
       concat_ws('|', p_brand, p_type) AS brand_type,
       replace(p_type, ' ', '_') AS type_us,
       lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
       trim(p_name) AS name_trim,
       instr(p_name, 'a') AS a_pos,
       len(string_split(p_name, ' ')) AS n_words,
       starts_with(p_type, 'SMALL') AS is_small,
       contains(p_name, 'gold') AS has_gold
FROM part
""",
)
def fn_string(spark, sf_dir):
    """String family: case, slice, concat, pad, search, split."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("up_name"),
        F.lower("p_brand").alias("lo_brand"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name5"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_us"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
        F.trim("p_name").alias("name_trim"),
        F.instr(F.col("p_name"), "a").alias("a_pos"),
        F.size(F.split("p_name", " ")).alias("n_words"),
        F.startswith(F.col("p_type"), F.lit("SMALL")).alias("is_small"),
        F.contains(F.col("p_name"), F.lit("gold")).alias("has_gold"),
    )


@query(
    "fn_regex",
    section="2.H",
    oracle="""
SELECT o_orderkey,
       regexp_extract(o_orderpriority, '^(\\d+)', 1) AS prio_str,
       CAST(regexp_extract(o_orderpriority, '^(\\d+)', 1) AS INT) AS prio_num,
       regexp_replace(o_orderpriority, '[^A-Z]', '', 'g') AS letters,
       regexp_matches(o_orderpriority, '^[12]-') AS is_high
FROM orders
""",
)
def fn_regex(spark, sf_dir):
    """Regex family. DuckDB's regexp_replace is first-match-only by
    default — the 'g' flag is required to mirror Spark's replace-all."""
    o = load_table(spark, sf_dir, "orders")
    prio = F.regexp_extract("o_orderpriority", r"^(\d+)", 1)
    return o.select(
        "o_orderkey",
        prio.alias("prio_str"),
        prio.cast("int").alias("prio_num"),
        F.regexp_replace("o_orderpriority", "[^A-Z]", "").alias("letters"),
        F.col("o_orderpriority").rlike("^[12]-").alias("is_high"),
    )


@query(
    "fn_datetime",
    section="2.H",
    oracle="""
SELECT l_orderkey, l_linenumber,
       year(l_shipdate) AS ship_year,
       month(l_shipdate) AS ship_month,
       day(l_shipdate) AS ship_day,
       CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS ship_month_start,
       CAST(l_shipdate AS DATE) + 30 AS ship_plus30,
       last_day(CAST(l_shipdate AS DATE)) AS ship_month_end,
       date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS ship_delay_days,
       epoch_us(l_shipdate) AS ship_epoch_us
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
""",
)
def fn_datetime(spark, sf_dir):
    """Datetime family: extraction, truncation, date arithmetic, epoch.
    Day deltas use date-cast datediff (whole-day boundary semantics
    agree once both sides are DATE)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_linenumber",
        F.year("l_shipdate").alias("ship_year"),
        F.month("l_shipdate").alias("ship_month"),
        F.dayofmonth("l_shipdate").alias("ship_day"),
        F.date_trunc("month", F.col("l_shipdate")).cast("timestamp_ntz").alias("ship_month_start"),
        F.date_add(F.col("l_shipdate").cast("date"), 30).alias("ship_plus30"),
        F.last_day(F.col("l_shipdate").cast("date")).alias("ship_month_end"),
        F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")).alias(
            "ship_delay_days"
        ),
        F.unix_micros(F.col("l_shipdate").cast("timestamp")).alias("ship_epoch_us"),
    )


@query(
    "fn_math",
    section="2.H",
    oracle="""
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice / 7, 3) AS price_div7,
       CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
       CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
       abs(0 - l_discount) AS disc_abs,
       l_quantity * l_quantity AS qty_sq,
       sqrt(l_extendedprice) AS price_sqrt,
       round(exp(l_discount), 6) AS disc_exp,
       round(ln(l_extendedprice), 6) AS price_ln,
       round(log10(l_extendedprice), 6) AS price_log10,
       CAST(sign(l_discount - 0.05) AS DOUBLE) AS disc_sign,
       greatest(l_tax, l_discount) AS max_rate,
       least(l_tax, l_discount) AS min_rate
FROM lineitem
""",
)
def fn_math(spark, sf_dir):
    """Math family. sqrt is IEEE-correctly-rounded (exact cross-engine);
    exp/ln/log10 are libm-dependent in the last ulp, so they're rounded
    at 6 dp; squares use x*x (pow may route through exp·ln)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") / 7, 3).alias("price_div7"),
        F.floor("l_quantity").alias("qty_floor"),
        F.ceil("l_quantity").alias("qty_ceil"),
        F.abs(F.lit(0) - F.col("l_discount")).alias("disc_abs"),
        (F.col("l_quantity") * F.col("l_quantity")).alias("qty_sq"),
        F.sqrt("l_extendedprice").alias("price_sqrt"),
        F.round(F.exp("l_discount"), 6).alias("disc_exp"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        F.round(F.log10("l_extendedprice"), 6).alias("price_log10"),
        F.signum(F.col("l_discount") - 0.05).alias("disc_sign"),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
        F.least("l_tax", "l_discount").alias("min_rate"),
    )


@query(
    "fn_null",
    section="2.H",
    oracle="""
SELECT c_custkey,
       nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
       coalesce(nullif(c_mktsegment, 'BUILDING'), 'SUPPRESSED') AS seg_coalesced,
       nullif(c_mktsegment, 'BUILDING') IS NULL AS was_building,
       c_mktsegment IS NOT DISTINCT FROM 'BUILDING' AS null_safe_eq
FROM customer
""",
)
def fn_null(spark, sf_dir):
    """Null family: nullif / coalesce / null-safe equality (Spark's <=>
    == DuckDB's IS NOT DISTINCT FROM)."""
    c = load_table(spark, sf_dir, "customer")
    seg_null = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    return c.select(
        "c_custkey",
        seg_null.alias("seg_or_null"),
        F.coalesce(seg_null, F.lit("SUPPRESSED")).alias("seg_coalesced"),
        seg_null.isNull().alias("was_building"),
        F.col("c_mktsegment").eqNullSafe(F.lit("BUILDING")).alias("null_safe_eq"),
    )


@query(
    "fn_hash",
    section="2.H",
    oracle="""
SELECT doc_id,
       md5(text) AS text_md5,
       sha256(text) AS text_sha256,
       md5(lower(trim(text))) AS norm_md5
FROM documents
""",
)
def fn_hash(spark, sf_dir):
    """Content hashing (the dedup primitive): md5 / sha256 agree
    cross-engine; Spark-specific xxhash64/crc32 live in fn_hash_fast."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.sha2("text", 256).alias("text_sha256"),
        F.md5(F.lower(F.trim("text"))).alias("norm_md5"),
    )


@query("fn_hash_fast", section="2.H")
def fn_hash_fast(spark, sf_dir):
    """Spark-native 64-bit hashes (xxhash64 / crc32 / murmur3) — the
    cheap dedup/bucketing keys at 100 TB (ROWS tier: engine-specific)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.xxhash64("text").alias("text_xxh64"),
        F.crc32("text").alias("text_crc32"),
        F.hash("text").alias("text_murmur3"),
    )


@query("fn_hash_fast_bound", section="2.H", oracle=ZERO_VIOLATIONS)
def fn_hash_fast_bound(spark, sf_dir):
    """ORACLE pin for fn_hash_fast (VERDICT r6 #3): the hash values are
    engine-private, but their ALGEBRA is not — each function must be a
    function (every distinct text maps to exactly one hash, so distinct
    hash counts can never exceed distinct texts), and xxhash64's 64-bit
    range makes a fixture-scale collision astronomically unlikely
    (~n²/2⁶⁵ ≈ 1e-11 at sf0.1), so its distinct count must EQUAL the
    distinct text count. crc32 (32-bit) and murmur3 (32-bit) get the
    one-sided ≤ pin only — a birthday collision there is merely
    improbable, not impossible. Oracle pins violations to 0."""
    d = load_table(spark, sf_dir, "documents")
    h = d.select(
        "text",
        F.xxhash64("text").alias("hx"),
        F.crc32("text").alias("hc"),
        F.hash("text").alias("hm"),
    )
    totals = h.agg(
        F.countDistinct("text").alias("n_text"),
        F.countDistinct("hx").alias("n_hx"),
        F.countDistinct("hc").alias("n_hc"),
        F.countDistinct("hm").alias("n_hm"),
    )
    viol = (
        (F.col("n_hx") != F.col("n_text")).cast("bigint")
        + (F.col("n_hc") > F.col("n_text")).cast("bigint")
        + (F.col("n_hm") > F.col("n_text")).cast("bigint")
    )
    return totals.select(viol.alias("n_violations"))


@query(
    "fn_array",
    section="2.H",
    oracle="""
SELECT vec_id,
       len(embedding) AS dim,
       embedding[1] AS first_val,
       embedding[1:3][1] AS head3_1,
       embedding[1:3][2] AS head3_2,
       embedding[1:3][3] AS head3_3,
       list_max(embedding) AS vmax,
       list_min(embedding) AS vmin,
       len(list_distinct(embedding)) AS n_distinct,
       list_contains(embedding, 0.0) AS has_zero
FROM embeddings
""",
)
def fn_array(spark, sf_dir):
    """Array family over the embedding column (1-based slicing on both
    engines; float cells compare exactly — no arithmetic happens).

    The slice's cells are emitted as SCALAR float columns instead of a
    raw array<float>: the driver's canonicalizer pandas-sorts every
    result column and dies on ndarray cells (`unhashable type` —
    CORRECTNESS_r04's agg_collect_sorted_array), and float->string
    serialization would not be engine-portable, so scalar extraction is
    the one representation that is both hashable and exact."""
    e = load_table(spark, sf_dir, "embeddings")
    head3 = F.slice("embedding", 1, 3)
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).alias("first_val"),
        F.element_at(head3, 1).alias("head3_1"),
        F.element_at(head3, 2).alias("head3_2"),
        F.element_at(head3, 3).alias("head3_3"),
        F.array_max("embedding").alias("vmax"),
        F.array_min("embedding").alias("vmin"),
        F.size(F.array_distinct("embedding")).alias("n_distinct"),
        F.array_contains("embedding", F.lit(0.0)).alias("has_zero"),
    )


@query(
    "fn_higher_order",
    section="2.H",
    oracle=f"""
SELECT vec_id,
       round({sqnorm_sql('embedding')}, 6) AS norm_sq,
       len(list_filter(embedding, x -> x > 0.1)) AS n_big,
       len(list_filter(embedding, x -> x > 0.9)) > 0 AS any_huge,
       len(list_filter(embedding, x -> x < 1.0)) = len(embedding) AS all_below_one
FROM embeddings
""",
)
def fn_higher_order(spark, sf_dir):
    """Lambda functions: transform / aggregate(fold) / filter / exists /
    forall. Floats are cast to double BEFORE arithmetic and fold sums
    are rounded at 6 dp (fold order is engine-internal)."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.round(sqnorm("embedding"), 6).alias("norm_sq"),
        F.size(F.filter("embedding", lambda x: x > 0.1)).alias("n_big"),
        F.exists("embedding", lambda x: x > 0.9).alias("any_huge"),
        F.forall("embedding", lambda x: x < 1.0).alias("all_below_one"),
    )


@query(
    "fn_map",
    section="2.H",
    oracle="""
SELECT doc_id,
       array_to_string(['lang', 'source'], ',') AS meta_keys,
       array_to_string([lang, source], ',') AS meta_vals,
       lang AS lang_val
FROM documents
""",
)
def fn_map(spark, sf_dir):
    """Map family: build a map in-query, read keys/values/elements
    back. Key/value arrays are CSV-serialized (array_join) because the
    driver's canonicalizer cannot hash array-valued cells (same fix as
    agg_collect_sorted). Oracle-able because the outputs are scalars
    (Spark create_map preserves insertion order for map_keys/map_values);
    raw MAP columns would not hash cross-engine."""
    d = load_table(spark, sf_dir, "documents")
    m = F.create_map(
        F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source")
    )
    return d.select(
        "doc_id",
        F.array_join(F.map_keys(m), ",").alias("meta_keys"),
        F.array_join(F.map_values(m), ",").alias("meta_vals"),
        F.element_at(m, "lang").alias("lang_val"),
    )


@query(
    "fn_json",
    section="2.H",
    oracle="""
SELECT event_id,
       json_extract_string(props, '$.k') AS k_str,
       CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
       CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod10
FROM events
""",
)
def fn_json(spark, sf_dir):
    """JSON family over events.props (shape {"k": <int>}):
    path extraction + typed parse. from_json/to_json round-trips are
    exercised in fn_json_struct (ROWS)."""
    e = load_table(spark, sf_dir, "events")
    k_str = F.get_json_object("props", "$.k")
    return e.select(
        "event_id",
        k_str.alias("k_str"),
        k_str.cast("int").alias("k_int"),
        (k_str.cast("int") % 10).alias("k_mod10"),
    )


@query(
    "fn_json_struct",
    section="2.H",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INT) AS k_typed,
       to_json(struct_pack(event_type := coalesce(event_type, ''),
                           user_id := coalesce(user_id, -1)))
         AS evt_json
FROM events
""",
)
def fn_json_struct(spark, sf_dir):
    """Schema-full JSON: from_json into a typed struct and back with
    to_json. Both engines emit the same compact serialization
    ({"k":v,...}, no spaces), so the round-trip hashes cross-engine.
    Fields are coalesced on BOTH sides before serializing: Spark's
    to_json OMITS null struct fields while DuckDB emits "key":null, so
    without the coalesce, parity would silently depend on the fixture
    never containing nulls (ADVICE r4, low)."""
    e = load_table(spark, sf_dir, "events")
    parsed = F.from_json("props", "k INT")
    evt = F.struct(
        F.coalesce(F.col("event_type"), F.lit("")).alias("event_type"),
        F.coalesce(F.col("user_id"), F.lit(-1)).alias("user_id"),
    )
    return e.select(
        "event_id",
        parsed.getField("k").alias("k_typed"),
        F.to_json(evt).alias("evt_json"),
    )


@query(
    "fn_vector",
    section="2.H",
    oracle=f"""
SELECT a.vec_id AS vec_id,
       round({sqnorm_sql('a.embedding')}, 6) AS norm_sq,
       round({dot_sql('a.embedding', 'b.embedding')}, 6) AS dot_next,
       a.label AS label
FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
""",
)
def fn_vector(spark, sf_dir):
    """Vector math as SQL expressions: squared L2 norm (≈1, unit
    vectors) and dot product with the next vector, through
    `registry.sqnorm`/`registry.dot` (embeddings are unit-norm so
    dot ≡ cosine). The folds are built-in higher-order functions, not
    UDFs, but they run interpreted (`CodegenFallback`, registry.py)."""
    e = load_table(spark, sf_dir, "embeddings")
    a = e.select(
        F.col("vec_id"), F.col("embedding").alias("emb_a"), F.col("label")
    )
    b = e.select((F.col("vec_id") - 1).alias("prev_id"), F.col("embedding").alias("emb_b"))
    return (
        a.join(b, a.vec_id == b.prev_id)
        .select(
            "vec_id",
            F.round(sqnorm("emb_a"), 6).alias("norm_sq"),
            F.round(dot("emb_a", "emb_b"), 6).alias("dot_next"),
            "label",
        )
    )


# ---------------------------------------------------------------------------
# events_hourly_batch — the batch twin of stream_tumbling_agg (§2.K) and
# BASELINE's q_events_hourly. Kept here with the datetime family since
# date_trunc IS the tumbling window in batch form.
# ---------------------------------------------------------------------------
@query(
    "events_hourly_batch",
    section="2.K",
    oracle=f"""
SELECT date_trunc('hour', ts) AS hour_start,
       event_type,
       COUNT(*) AS n_events,
       {dsum_sql('value')} AS sum_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
""",
)
def events_hourly_batch(spark, sf_dir):
    """Hourly tumbling aggregation over the event stream, batch form."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("hour_start"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
    )


@query(
    "events_sliding_batch",
    section="2.K",
    oracle="""
SELECT win_start, event_type, COUNT(*) AS n_events
FROM (
  SELECT event_type,
         make_timestamp((epoch_us(ts) // 900000000 - k) * 900000000)
           AS win_start
  FROM events, LATERAL unnest(range(0, 4)) AS t(k)
)
GROUP BY win_start, event_type
""",
)
def events_sliding_batch(spark, sf_dir):
    """Sliding-window aggregation (1 h window, 15 min slide) in batch
    form — the ORACLE twin of stream_sliding_agg. Spark's F.window
    assigns each event to the 4 epoch-aligned overlapping windows; the
    oracle reproduces that with explicit epoch arithmetic (floor to the
    15-min grid, back-shift k slides). Equality with the streamed run
    is asserted in tests/test_streaming.py."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("win"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").cast("timestamp_ntz").alias("win_start"),
            "event_type",
            "n_events",
        )
    )


@query(
    "fn_bitwise",
    section="2.H",
    oracle="""
SELECT event_id,
       event_id & 255 AS low_byte,
       event_id | 15 AS with_low_bits,
       xor(event_id, 255) AS xored,
       event_id << 2 AS shifted_left,
       event_id >> 3 AS shifted_right,
       bit_count(event_id) AS pop_count
FROM events
""",
)
def fn_bitwise(spark, sf_dir):
    """Bitwise family on event ids: and/or/xor, shifts, popcount —
    the primitives under SimHash banding and hash bucketing."""
    e = load_table(spark, sf_dir, "events")
    ev = F.col("event_id")
    return e.select(
        "event_id",
        ev.bitwiseAND(F.lit(255)).alias("low_byte"),
        ev.bitwiseOR(F.lit(15)).alias("with_low_bits"),
        ev.bitwiseXOR(F.lit(255)).alias("xored"),
        F.shiftleft(ev, 2).alias("shifted_left"),
        F.shiftright(ev, 3).alias("shifted_right"),
        F.bit_count(ev).alias("pop_count"),
    )


@query(
    "fn_url",
    section="2.H",
    oracle="""
SELECT doc_id,
       'https://' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR)
         || '?lang=' || lang AS url,
       source || '.example.com' AS url_host,
       '/docs/' || CAST(doc_id AS VARCHAR) AS url_path,
       'lang=' || lang AS url_query,
       lang AS url_lang_param
FROM documents
""",
)
def fn_url(spark, sf_dir):
    """URL family — the web-corpus staple: build a canonical URL from
    document attributes, then take it apart again with Spark's
    parse_url (HOST / PATH / QUERY / QUERY:lang). The oracle composes
    the expected parts directly from the attributes, so the check
    verifies parse_url's decomposition against ground truth rather
    than against another parser. Pure per-row scalar work — pipelined
    in the scan stage, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
    )
    return d.select(
        "doc_id",
        url.alias("url"),
        F.parse_url(url, F.lit("HOST")).alias("url_host"),
        F.parse_url(url, F.lit("PATH")).alias("url_path"),
        F.parse_url(url, F.lit("QUERY")).alias("url_query"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("url_lang_param"),
    )


@query(
    "fn_json_array",
    section="2.H",
    oracle="""
WITH built AS (
  SELECT event_id,
         to_json([user_id % 10, CAST(json_extract_string(props, '$.k') AS BIGINT)])
           AS arr_json
  FROM events
)
SELECT event_id, arr_json,
       CAST(json_extract(arr_json, '$[0]') AS BIGINT)
         + CAST(json_extract(arr_json, '$[1]') AS BIGINT) AS parsed_sum,
       len(CAST(arr_json AS JSON)::BIGINT[]) AS n_elems
FROM built
""",
)
def fn_json_array(spark, sf_dir):
    """JSON array round-trip: build a JSON array string from typed
    columns (to_json), parse it back (from_json to array<bigint>),
    aggregate the parsed elements — the schema-carrying path for
    array payloads in event streams. Compact rendering ('[a,b]', no
    spaces) is byte-identical across engines, so the STRING is
    oracle-checked too, not just the parsed values."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    arr_json = F.to_json(F.array(F.col("user_id") % 10, k))
    parsed = F.from_json(arr_json, "array<bigint>")
    return e.select(
        "event_id",
        arr_json.alias("arr_json"),
        (F.element_at(parsed, 1) + F.element_at(parsed, 2)).alias("parsed_sum"),
        F.size(parsed).alias("n_elems"),
    )


@query(
    "fn_variant",
    section="2.H",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INT) AS k_typed,
       CAST(json_extract_string(props, '$.k') AS BIGINT) % 7 AS k_mod7
FROM events
""",
)
def fn_variant(spark, sf_dir):
    """VARIANT (Spark 4's open semi-structured type): parse_json into
    a variant column, typed extraction with variant_get — unlike
    string JSON-path probing (fn_json), variant stores a parsed
    binary form, so repeated extraction skips re-parsing (the
    semi-structured scan pattern at 100 TB; columnar shredding lands
    on top of it). Oracle extracts the same typed values from the
    raw JSON text."""
    e = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "int")
    return e.select(
        "event_id",
        k.alias("k_typed"),
        (F.variant_get(v, "$.k", "bigint") % 7).alias("k_mod7"),
    )


@query(
    "fn_try_family",
    section="2.H",
    oracle="""
SELECT event_id,
       CASE WHEN (event_id % 5) = 0 THEN NULL
            ELSE value / (event_id % 5) END AS safe_div,
       TRY_CAST(event_type AS BIGINT) AS bad_cast,
       TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS good_cast
FROM events
""",
)
def fn_try_family(spark, sf_dir):
    """Error-safe arithmetic/casts (try_divide / try_cast): malformed
    input yields NULL instead of killing the job — at 10^6 tasks,
    fail-on-one-row is an outage, so hot paths use try_* and count
    the NULLs (the quarantine discipline of scan_csv_malformed at
    expression level). Oracle mirrors with guarded CASE / TRY_CAST."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.try_divide(F.col("value"), F.col("event_id") % 5).alias("safe_div"),
        F.try_to_number(F.col("event_type"), F.lit("999")).cast("bigint").alias("bad_cast"),
        F.get_json_object("props", "$.k").try_cast("bigint").alias("good_cast"),
    )


@query(
    "fn_struct",
    section="2.H",
    oracle="""
SELECT doc_id,
       lang AS meta_lang,
       n_chars AS meta_chars,
       n_chars > 500 AS meta_is_long,
       lang || ':' || CAST(n_chars AS VARCHAR) AS meta_key
FROM documents
""",
)
def fn_struct(spark, sf_dir):
    """Struct build + nested access + star expansion: columns packed
    into a struct (the nested-record shape parquet stores natively),
    fields read back by path and expanded with `.*`. Catalyst prunes
    UNREAD struct fields down to the scan the same way it prunes
    columns — nesting costs nothing it doesn't have to. Output is the
    flattened projection, so the oracle is flat SQL."""
    d = load_table(spark, sf_dir, "documents")
    meta = F.struct(
        F.col("lang").alias("lang"),
        F.col("n_chars").alias("chars"),
        (F.col("n_chars") > 500).alias("is_long"),
    )
    nested = d.select("doc_id", meta.alias("meta"))
    return nested.select(
        "doc_id",
        F.col("meta.lang").alias("meta_lang"),
        F.col("meta.chars").alias("meta_chars"),
        F.col("meta.is_long").alias("meta_is_long"),
        F.concat_ws(":", F.col("meta.lang"), F.col("meta.chars").cast("string")).alias(
            "meta_key"
        ),
    )


# ---------------------------------------------------------------------------
# fn_date_interval_clamp (round 11) — calendar-arithmetic parity pins
# ---------------------------------------------------------------------------

@query(
    "fn_date_interval_clamp",
    section="2.H",
    oracle="""
WITH d AS (
  SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders
)
SELECT d,
       CAST(d + INTERVAL 1 MONTH AS DATE) AS plus_1m,
       CAST(d + INTERVAL 13 MONTH AS DATE) AS plus_13m,
       last_day(d) AS eom,
       d + 90 AS plus_90d,
       CAST(quarter(d) AS BIGINT) AS q,
       CAST(weekofyear(d) AS BIGINT) AS iso_week,
       CAST(isodow(d) AS BIGINT) AS iso_dow
FROM d
""",
)
def fn_date_interval_clamp(spark, sf_dir):
    """Calendar-arithmetic semantics pins — the corner cases that
    silently differ between engines if either deviates from the
    standard: month addition CLAMPS to month end (Jan 31 + 1 month =
    Feb 29 in a leap year, never Mar 2), last_day, day addition
    across month/year boundaries, quarter, ISO-8601 week numbers
    (week 1 = the week containing the first Thursday — both engines'
    weekofyear), and ISO day-of-week (Monday=1; Spark's weekday is
    Monday=0, so +1 — pinned here so a future engine swap can't
    silently revert to Sunday-first dayofweek). Every distinct order
    date in the fixture exercises the pins, including leap-February
    2024 and year-crossing ISO weeks.

    Scale: zero-shuffle beyond one distinct on the date column —
    semantics coverage, not throughput."""
    o = load_table(spark, sf_dir, "orders")
    d = o.select(F.col("o_orderdate").cast("date").alias("d")).distinct()
    return d.select(
        "d",
        F.add_months("d", 1).alias("plus_1m"),
        F.add_months("d", 13).alias("plus_13m"),
        F.last_day("d").alias("eom"),
        F.date_add("d", 90).alias("plus_90d"),
        F.quarter("d").cast("long").alias("q"),
        F.weekofyear("d").cast("long").alias("iso_week"),
        (F.weekday("d") + 1).cast("long").alias("iso_dow"),
    )


# ---------------------------------------------------------------------------
# fn_table_checksum (round 11) — order-insensitive integrity digest
# ---------------------------------------------------------------------------

@query(
    "fn_table_checksum",
    section="2.H",
    oracle="""
WITH rh AS (
  SELECT ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '|'
                             || CAST(l_linenumber AS VARCHAR) || '|'
                             || CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                                     AS VARCHAR) || '|'
                             || l_returnflag), 1, 15))::BIGINT AS h
  FROM lineitem
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(h AS HUGEINT)) % 9007199254740881 AS BIGINT) AS checksum_sum,
       CAST(bit_xor(h) AS BIGINT) AS checksum_xor
FROM rh
""",
)
def fn_table_checksum(spark, sf_dir):
    """Order-insensitive table checksum — the migration/replication
    integrity primitive (compare a table across systems without
    sorting either side): per-row md5 of a canonical key projection
    (keys, cents-grid money, flag — pipe-delimited so field
    boundaries can't alias), folded two independent ways: a modular
    SUM (commutative, order-free; the modulus is the largest prime
    below 2^53 so the running value stays double-exact too) and a
    bitwise XOR (catches swaps a sum misses when paired with it).
    60-bit row digests (15 hex chars) keep the per-row value exact
    int64 with headroom for the sum.

    Scale: pure map-side fold — one scan, two commutative
    accumulators, zero shuffle beyond the final 1-row combine; a
    100 TB integrity check is scan-speed."""
    li = load_table(spark, sf_dir, "lineitem")
    row = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        F.round(F.col("l_extendedprice") * 100).cast("long").cast("string"),
        F.col("l_returnflag"),
    )
    h = F.conv(F.substring(F.md5(row), 1, 15), 16, 10).cast("long")
    return li.select(h.alias("h")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        # decimal accumulator: 60-bit digests overflow an int64 SUM
        # within ~8k rows; the wide sum is exact and both engines take
        # the identical modulo of the identical integer
        (F.sum(F.col("h").cast("decimal(38,0)")) % F.lit(9007199254740881))
        .cast("long")
        .alias("checksum_sum"),
        F.expr("bit_xor(h)").cast("long").alias("checksum_xor"),
    )


# ---------------------------------------------------------------------------
# fn_stable_id_mint (round 11) — content-addressed id minting
# ---------------------------------------------------------------------------

@query(
    "fn_stable_id_mint",
    section="2.H",
    oracle="""
WITH h AS (
  SELECT doc_id, md5('docns:' || lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
           AS hx
  FROM documents
)
SELECT doc_id,
       substr(hx, 1, 8) || '-' || substr(hx, 9, 4) || '-3'
         || substr(hx, 14, 3) || '-' || substr(hx, 17, 4) || '-'
         || substr(hx, 21, 12) AS stable_id,
       ('0x' || substr(hx, 1, 15))::BIGINT AS stable_id_int60
FROM h
""",
)
def fn_stable_id_mint(spark, sf_dir):
    """Content-addressed stable-id minting — the primitive behind
    "same document ⇒ same id on every system, forever": a namespaced
    md5 of the dedup-normalized text rendered both as a UUIDv3-shaped
    string (8-4-4-4-12 with the version nibble pinned to 3) and as a
    60-bit integer key for range-partitioned storage. Ids survive
    re-crawls, re-shards and engine swaps because they derive from
    CONTENT under the same normalization the dedup family keys on —
    the id two systems mint independently for one document is equal
    by construction, which is what makes cross-corpus joins on
    stable_id sound.

    Scale: zero-shuffle narrow projection; pure codegen string
    algebra."""
    d = load_table(spark, sf_dir, "documents")
    hx = F.md5(
        F.concat(
            F.lit("docns:"),
            F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))),
        )
    )
    h = d.select("doc_id", hx.alias("hx"))
    return h.select(
        "doc_id",
        F.concat(
            F.substring("hx", 1, 8),
            F.lit("-"),
            F.substring("hx", 9, 4),
            F.lit("-3"),
            F.substring("hx", 14, 3),
            F.lit("-"),
            F.substring("hx", 17, 4),
            F.lit("-"),
            F.substring("hx", 21, 12),
        ).alias("stable_id"),
        F.conv(F.substring("hx", 1, 15), 16, 10).cast("long").alias(
            "stable_id_int60"
        ),
    )
