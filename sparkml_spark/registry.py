"""Query/oracle registry — the spine of the driver contract.

Every operator from SURVEY.md §2 registers here via the `@query`
decorator; `__spark_entry__.py` simply re-exports the two dicts.

- QUERIES[name] -> Callable[(SparkSession, sf_dir) -> DataFrame]
- ORACLES[name] -> DuckDB SQL string (omitted for ROWS-tier ops)

Parity rules baked into helpers here (SURVEY.md §7.4):
- every computed column aliased identically on both sides;
- floating aggregates made *exactly* reproducible where possible by
  summing DECIMAL-cast inputs (aggregation-order independent) and
  casting the exact sum back to double — see `dsum` / `dsum_sql`;
- deterministic tie-breakers everywhere order matters.

Each cross-engine convention is defined once, here, as a Spark helper
beside its DuckDB twin, so the two sides cannot drift: exact sums and
means (`dsum`, `lsum`, `davg` and their `_sql` twins; `nano`/`nano_sum`
for 9dp weights), the md5 hex-slice bucket (`md5_chunk16`), the
whitespace tokenizer (`tokens`/`TOKENS_SQL`), the duplicate-detection
content hash (`norm_hash`/`NORM_HASH_SQL`), n-gram start positions
(`gram_idx`), the vector conventions (the int8 grid `q8` with its
rounding contract, the exact int64 folds `idot` and `isqdist`, the
double folds `dot` and `sqnorm`, each with an `_sql` twin),
window-free global ranks (`rank_two_phase`, `ntile_two_phase`) and the
`*_bound` pin (`ZERO_VIOLATIONS`). No other module spells the
tokenizer, the content hash, the int8 grid or a vector product fold
(tests/test_conventions.py).
"""

from __future__ import annotations

from collections.abc import Callable
from decimal import Decimal
from typing import Dict

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: Dict[str, str] = {}
#: Optional per-query metadata (tier, survey section) for reporting.
META: Dict[str, dict] = {}

#: Shared oracle for *_bound pin queries: the Spark side computes an
#: invariant-violation count over engine-private output (sketch error
#: bands, RNG seed-stability, hash injectivity) and the oracle pins it
#: to exactly 0 — hash-checkable without the oracle re-deriving the
#: engine-private values. Anchored on region (always 5 rows) so the
#: SQL references a fixture view like every other oracle.
ZERO_VIOLATIONS = "SELECT CAST(0 AS BIGINT) AS n_violations FROM region LIMIT 1"


def query(name: str, oracle: str | None = None, section: str = "", doc: str = ""):
    """Register an operator query; `oracle=None` => ROWS-tier check."""

    def deco(fn):
        if name in QUERIES:
            raise ValueError(f"duplicate query id: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle.strip()
        META[name] = {
            "tier": "ORACLE" if oracle is not None else "ROWS",
            "section": section,
            "doc": doc or (fn.__doc__ or "").strip().splitlines()[:1],
        }
        return fn

    return deco


# ---------------------------------------------------------------------------
# Float-parity helpers (SURVEY.md §7.4 trap #3)
#
# Double summation order differs between engines (and between Spark
# runs, since partial aggregation order is nondeterministic), so a raw
# SUM(double) can drift in the last ulps — enough to flip a round() at a
# boundary and break the driver's value hash. Instead we cast each
# input to a DECIMAL before summing: per-row double arithmetic is
# IEEE-deterministic and identical across engines, double->decimal
# rounding is well-defined, and decimal summation is exact and
# order-independent. Casting the exact decimal sum back to double is
# again deterministic. Net: bit-identical aggregates with no rounding
# slop, at ~zero extra cost (decimal sum is still a JVM codegen path).
# ---------------------------------------------------------------------------

DEC = "decimal(27,6)"  # 21 integer digits — no overflow risk at 100 TB scale


def dsum(col: Column | str) -> Column:
    """Order-independent, engine-exact sum of a double column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double")


def dsum_sql(expr: str) -> str:
    """DuckDB twin of `dsum`."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(27,6))) AS DOUBLE)"


def md5_chunk16(col: Column, j: int = 0) -> Column:
    """16-bit non-negative integer from hex chars [4j+1 .. 4j+4] of
    md5(col) — THE cross-engine hash-parse convention, single-sourced
    so a chunk-width or offset tweak cannot drift from the DuckDB
    twins: Spark `conv(hex_slice, 16, 10)` equals DuckDB
    `('0x' || hex_slice)::BIGINT` for lowercase md5 hex (both engines
    emit lowercase). Consumers: deterministic keep-filters
    (llm_pipeline domain/token/epoch mixes, j=0) and the SimHash
    signature chunks (llm_dedup, j=0..3)."""
    return F.conv(F.substring(F.md5(col), 1 + 4 * j, 4), 16, 10).cast("long")


def tokens() -> Column:
    """THE whitespace tokenizer: `text` trimmed, lower-cased and split
    on whitespace runs. DuckDB twin: `TOKENS_SQL`. Select the array into
    a column before a lambda reads it: a split() in a lambda body runs
    again per element (llm_dedup._shingled3)."""
    return F.split(F.lower(F.trim(F.col("text"))), r"\s+")


#: DuckDB twin of `tokens`.
TOKENS_SQL = "string_split_regex(lower(trim(text)), '\\s+')"


def norm_hash() -> Column:
    """THE duplicate-detection content hash: md5 of `text` with each
    whitespace run collapsed to one space, trimmed and lower-cased.
    DuckDB twin: `NORM_HASH_SQL` (its 'g' flag replaces every run)."""
    return F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))


#: DuckDB twin of `norm_hash`.
NORM_HASH_SQL = "md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))"


# ---------------------------------------------------------------------------
# Vector conventions: the int8 grid and the per-row folds over arrays.
#
# Spark's helpers are higher-order functions. `ArrayTransform`,
# `ZipWith` and `ArrayAggregate` all implement `CodegenFallback` in
# spark-catalyst 4.1.2, so each runs interpreted inside an otherwise
# codegen'd stage: a 64-d zip_with + aggregate fold measured ~21 µs
# per pair (dedup_embedding_cosine / SemDeDup, r13), which is why the
# all-pairs paths score blocks in one Arrow call instead. The DuckDB
# twins are list folds (`list_transform` / `list_zip` / `list_sum`).
# Pairwise folds need arrays of equal length: on unequal lengths Spark's
# fold is NULL while DuckDB's list_sum skips the zip's NULL padding.
# ---------------------------------------------------------------------------

#: The int8 grid: a unit-vector component x maps to floor(x*127 + 0.5).
Q8_SCALE = 127


def q8(col: Column | str) -> Column:
    """THE int8 grid of a float vector: each component x becomes
    `floor(double(x) * 127 + 0.5)` as a long. DuckDB twin: `q8_sql`.

    Rounding contract (every integer vector op rests on it):
    - round half up on the DOUBLE: x is widened to double first, and
      IEEE multiply, add and floor are identical in both engines, so
      a tie x*127 = k.5 lands on k+1 in both (-k.5 on -k);
    - unit vectors have |x| <= 1, so components lie in [-127, 127]
      and a 64-d dot or squared distance is far inside int64;
    - int64 products and sums are exact and independent of order, so
      `idot`/`isqdist` need no decimal accumulator and their DuckDB
      twins stay plain list sums."""
    return F.transform(
        col,
        lambda x: F.floor(x.cast("double") * F.lit(float(Q8_SCALE)) + F.lit(0.5)).cast(
            "long"
        ),
    )


def q8_sql(v: str) -> str:
    """DuckDB twin of `q8`."""
    return (
        f"list_transform({v}, x -> CAST(floor(CAST(x AS DOUBLE) * {float(Q8_SCALE)} "
        "+ 0.5) AS BIGINT))"
    )


def _fold(a: Column | str, b: Column | str, term, zero: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, term), zero, lambda acc, v: acc + v)


def idot(a: Column | str, b: Column | str) -> Column:
    """Exact int64 dot product of two `q8` vectors (or equal-length
    slices of them). DuckDB twin: `idot_sql`."""
    return _fold(a, b, lambda x, y: x * y, F.lit(0).cast("long"))


def idot_sql(a: str, b: str) -> str:
    """DuckDB twin of `idot`."""
    return f"CAST(list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2])) AS BIGINT)"


def isqdist(a: Column | str, b: Column | str) -> Column:
    """Exact int64 squared L2 distance of two `q8` vectors. DuckDB
    twin: `isqdist_sql`."""
    return _fold(a, b, lambda x, y: (x - y) * (x - y), F.lit(0).cast("long"))


def isqdist_sql(a: str, b: str) -> str:
    """DuckDB twin of `isqdist`."""
    return (
        f"CAST(list_sum(list_transform(list_zip({a}, {b}), "
        "p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)"
    )


def dot(a: Column | str, b: Column | str) -> Column:
    """Double dot product: each component widened to double, the
    products added left to right from 0.0. DuckDB twin: `dot_sql`,
    the same per-row operation sequence. Callers round the result
    (6 dp, or integer micros) before hashing or ranking on it."""
    return _fold(a, b, lambda x, y: x.cast("double") * y.cast("double"), F.lit(0.0))


def dot_sql(a: str, b: str) -> str:
    """DuckDB twin of `dot`."""
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )


def sqnorm(v: Column | str) -> Column:
    """Double squared L2 norm, built like `dot`. DuckDB twin:
    `sqnorm_sql`."""
    return F.aggregate(
        F.transform(v, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, s: acc + s,
    )


def sqnorm_sql(v: str) -> str:
    """DuckDB twin of `sqnorm`."""
    return f"list_sum(list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"


def gram_idx(toks: Column, n: int) -> Column:
    """Ascending n-gram start positions 1..size-(n-1), EMPTY for docs
    shorter than n tokens. DuckDB twin: `range(1, len(t) - n + 2)`.
    Spark's bare sequence(1, size-(n-1)) DESCENDS (default step -1)
    below n tokens, and element_at then throws INVALID_INDEX_OF_ZERO /
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT under the default ANSI mode."""
    upper = F.size(toks) - (n - 1)
    return F.when(upper >= 1, F.sequence(F.lit(1), upper)).otherwise(
        F.array().cast("array<int>")
    )


def lsum(col: Column | str) -> Column:
    """Exact 1e-6-grid sum as TWO primitive LONG sums (floor + frac).

    Same grid and same engine-exactness contract as `dsum`, ~40%
    faster end-to-end on the flagship (measured at sf0.1: 1.04-1.20s
    decimal vs 0.70-0.76s split-long fresh-plan e2e): both partial
    sums stay in whole-stage-codegen primitive long adds, no decimal
    arithmetic anywhere in the hot loop.

    Overflow safety at 100 TB (why the value is SPLIT instead of one
    `sum(round(v*1e6) as long)`): the single-long form scales the
    magnitude by 1e6, overflowing 2^63 near 1e11 rows/group at money
    magnitudes. Split bounds are independent of the grid:
      hi  <= n_rows * max|v|   (TPC-H charge ~1.1e5 -> safe to ~8e13
                                rows per group; 100 TB TPC-H has 6e11)
      frac <= n_rows * 1e6     (safe to ~9.2e12 rows per group)
    Beyond those bounds use `dsum` (decimal accumulator, 1e21 ceiling).

    GRID-EXACTNESS bound (tighter than the overflow bound, ADVICE r7):
    the final `.cast("double")` of each long partial is exact only
    while the long fits in double's 53-bit mantissa — past 2^53
    (~9e15; at TPC-H charge magnitudes ~8e10 rows/group for hi) the
    recombined value rounds and the result stops being exact on the
    1e-6 grid. CROSS-ENGINE DETERMINISM survives far beyond that
    (both engines apply the identical int64->double rounding to the
    identical long sums), so the oracle pin is unaffected — but if
    grid exactness itself is required past ~1e10 rows/group, use
    `dsum`, whose decimal accumulator never leaves exact arithmetic.

    Exactness: floor(v) and v-floor(v) are IEEE-deterministic, the
    frac is quantized with the same round-half-up both engines apply,
    and long addition is exact and order-independent — the recombine
    `hi + frac/1e6` is one deterministic double expression on both
    sides. Values need not be grid-aligned; quantization is part of
    the (documented) contract exactly as in `dsum`."""
    c = F.col(col) if isinstance(col, str) else col
    hi = F.sum(F.floor(c).cast("long")).cast("double")
    frac = F.sum(F.round((c - F.floor(c)) * F.lit(1e6)).cast("long")).cast("double")
    return hi + frac / F.lit(1e6)


def lsum_sql(expr: str) -> str:
    """DuckDB twin of `lsum` — identical expression structure."""
    return (
        f"(CAST(SUM(CAST(floor({expr}) AS BIGINT)) AS DOUBLE) + "
        f"CAST(SUM(CAST(round((({expr}) - floor({expr})) * 1e6) AS BIGINT)) AS DOUBLE) / 1e6)"
    )


def nano(col: Column | str) -> Column:
    """Exact int64 count of 1e-9 units of a value on the 9dp grid.

    The value goes through the same `decimal(30,9)` cast a decimal sum
    of it would apply, so `nano_sum(nano(v))` equals
    `sum(v.cast("decimal(30,9)"))` digit for digit. Apply it once per
    row of the SMALL side of a broadcast (a weight table), never per
    row of the stream it is joined onto: the decimal multiply here is
    the BigDecimal work that `nano_sum` keeps out of the hot loop.

    Overflow: |v| * 1e9 must fit in a long, i.e. |v| < ~9.2e9; a log
    weight (|v| <~ 30, 3e10 nano-units) is far inside that."""
    c = F.col(col) if isinstance(col, str) else col
    return (c.cast("decimal(30,9)") * 10**9).cast("long")


def nano_sum(col: Column | str) -> Column:
    """Exact sum of `nano` units, as the `decimal(38,9)` that the
    decimal sum of the 9dp values gives (same value, same type).

    Exactness: long addition is exact and order-independent, so the
    partial aggregates stay primitive long adds; the rescale to 1e-9
    units is one exact decimal multiply per GROUP, not per row.
    (Dividing a `decimal(38,0)` by 1e9 instead types at scale 6 and
    rounds.)

    Overflow: the long sum must stay below 2^63 ~ 9.2e18. At the
    log-weight magnitude of its callers (|nano| <~ 3e10) that is about
    3e8 rows per group; beyond it use a decimal sum (`dsum`'s
    accumulator, 1e21 ceiling)."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c).cast("decimal(19,0)") * F.lit(Decimal("1E-9"))).cast(
        "decimal(38,9)"
    )


def davg(col: Column | str) -> Column:
    """Exact-sum average: deterministic double = exact_sum / count."""
    c = F.col(col) if isinstance(col, str) else col
    return dsum(c) / F.count(c)


def davg_sql(expr: str) -> str:
    return f"{dsum_sql(expr)} / COUNT({expr})"


def rank_two_phase(df, bucket: Column, order_cols, bucket_ascending=True, out="r"):
    """Global 1-based row rank WITHOUT a corpus-wide window — the
    decomposition that removed ml_lift_gain_table's 54× single-
    partition NTILE sort (×100 stress, r11): rank = (prefix count of
    coarser buckets) + (row_number within the bucket).

    `bucket` must be a MONOTONE coarsening of the primary order column
    in the same direction (day-of-timestamp, dollar band, the value
    itself when its domain is bounded): then bucket order is total
    across buckets and the within-bucket window refines it. The ONLY
    single-partition window left runs on the bucket GRID (bounded by
    construction — pick the coarsening so it is), and the per-bucket
    windows are hash-partitioned bounded groups. `order_cols` must be
    a total order (include a tiebreak) or ranks are nondeterministic."""
    from pyspark.sql import Window

    dfb = df.withColumn("__b", bucket)
    grid = dfb.groupBy("__b").agg(F.count(F.lit(1)).alias("__cnt"))
    ob = F.col("__b").asc() if bucket_ascending else F.col("__b").desc()
    wg = Window.orderBy(ob).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pre = grid.select(
        "__b", (F.sum("__cnt").over(wg) - F.col("__cnt")).alias("__before")
    )
    win = Window.partitionBy("__b").orderBy(*order_cols)
    return (
        dfb.join(pre, "__b")
        .withColumn(out, (F.col("__before") + F.row_number().over(win)).cast("long"))
        .drop("__b", "__before")
    )


def ntile_grid_prefix(dfb, b: str, bucket_ascending=True):
    """Bucket grid of `dfb[b]` with, per bucket: the count of rows in
    all STRICTLY EARLIER buckets (`__before`) and the grand total
    (`__n_all`). Both windows run over grid rows only — bounded by
    the caller's choice of coarsening — so the single-partition
    window is never corpus-sized."""
    from pyspark.sql import Window

    grid = dfb.groupBy(b).agg(F.count(F.lit(1)).alias("__cnt"))
    ob = F.col(b).asc() if bucket_ascending else F.col(b).desc()
    wg = Window.orderBy(ob).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.orderBy(ob).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return grid.select(
        b,
        (F.sum("__cnt").over(wg) - F.col("__cnt")).alias("__before"),
        F.sum("__cnt").over(wall).alias("__n_all"),
    )


def ntile_rank_expr(n: int) -> Column:
    """NTILE(n) of global rank `__r` given total count `__n_all` —
    the engine's exact remainder arithmetic (the first n_all % n
    tiles get one extra row)."""
    return F.expr(
        f"CASE WHEN __n_all DIV {n} = 0 THEN __r "
        f"WHEN __r <= (__n_all % {n}) * (__n_all DIV {n} + 1) "
        f"THEN (__r - 1) DIV (__n_all DIV {n} + 1) + 1 "
        f"ELSE (__n_all % {n}) + (__r - (__n_all % {n}) * (__n_all DIV {n} + 1) - 1) "
        f"DIV (__n_all DIV {n}) + 1 END"
    )


def ntile_two_phase(df, n: int, bucket: Column, order_cols,
                    bucket_ascending=True, out="ntile"):
    """Exact NTILE(n) via the rank_two_phase decomposition + NTILE's
    remainder arithmetic — bit-identical to the engine NTILE over the
    same total order, proven by hash matches against DuckDB's genuine
    NTILE in ml_lift_gain_table / events_rfm_segmentation.

    The total row count rides on the bucket grid (one extra window
    aggregate over grid rows, which are bounded by construction)
    instead of a separate `df.agg(count)` + crossJoin: the old shape
    evaluated the entire upstream plan a third time per call — for
    chained callers that recompute compounded multiplicatively
    (guide §2.4, r13)."""
    from pyspark.sql import Window

    dfb = df.withColumn("__b", bucket)
    pre = ntile_grid_prefix(dfb, "__b", bucket_ascending)
    win = Window.partitionBy("__b").orderBy(*order_cols)
    ranked = dfb.join(pre, "__b").withColumn(
        "__r", (F.col("__before") + F.row_number().over(win)).cast("long")
    )
    return (
        ranked.withColumn(out, ntile_rank_expr(n).cast("int"))
        .drop("__b", "__before", "__r", "__n_all")
    )
