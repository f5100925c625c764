"""§2.K Structured Streaming operators over the events stream (SURVEY.md).

Execution pattern for every query here: file-source `readStream` over
the events parquet (bounded replay), transformations, memory sink,
`Trigger.AvailableNow` — run to completion, return the sink table.
Deterministic on the fixture; the SAME logical plan runs unbounded in
production by swapping source/sink and trigger.

Round 12 — cross-batch state is EXERCISED, not assumed: every
stateful op (windowed aggs, session windows, dedup, OHLC, chained
windows, HLL rollup, stream-stream join, applyInPandasWithState, and
the foreachBatch twins) consumes its feed as >=2 micro-batches (a
time- or key-split multi-file feed, `_multi_batch_feed` /
`_event_stream_2batch`, batch count asserted), so window/session/join
state genuinely crosses micro-batch boundaries while each op keeps
its exact one-shot oracle (time-ordered splits make the final
watermark — and therefore append-mode emission — identical to a
single-batch replay). Deliberately single-batch: stream_output_modes
(its update-mode row-count oracle is per-batch by definition),
stream_foreach_batch_sink (oracle pins batch_id=0),
stream_checkpoint_recovery (manages its own kill/restart batching),
stream_source_files / stream_source_kafka (source-mechanics ops).

Semantics pinning: bounded AvailableNow replay of a deterministic
fixture makes most ops' final output a pure function of the input, so
they carry DuckDB oracles DIRECTLY (ORACLE tier) — complete-mode aggs
equal the plain batch aggregation; append-mode ops equal the batch
aggregation restricted to windows whose end precedes the final
watermark (max event time - delay; pinned empirically, r6). Only
genuinely engine-specific state machines stay ROWS tier:
applyInPandasWithState / transformWithStateInPandas (per-batch update
emission) and the HLL sketch rollup. tests/test_streaming.py
additionally asserts stream == batch-twin equality in-process.

100 TB notes: every stateful op carries a watermark (unbounded state
is an outage, SURVEY §4.3); at scale the state store moves to RocksDB
(`spark.sql.streaming.stateStore.providerClass`) and the file source
becomes Kafka — both config swaps, not code changes.
"""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from sparkml_spark.registry import ZERO_VIOLATIONS, query
from sparkml_spark.sources.loader import load_table


def _event_stream(spark, sf_dir):
    """Bounded replay of events.parquet as a stream (same dtype-gated
    ts repair as the batch loader: NANOS fixtures arrive as bigint and
    need DIV 1000; MICROS fixtures arrive as timestamp_ntz).

    Source-path shape: the streaming file source REQUIRES a directory
    ("Option 'basePath' must be a directory"), so a single-file
    fixture streams from the parent dir with a pathGlobFilter, while
    a directory-shaped events.parquet (e.g. the scale-up harness's
    multi-part build) streams from the directory itself — a
    pathGlobFilter on the parent would silently match ZERO of the
    directory's part files (code-review r6)."""
    import os

    path = f"{sf_dir}/events.parquet"
    raw_schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        stream = spark.readStream.schema(raw_schema).parquet(path)
    else:
        stream = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    # Keep LTZ here (session TZ pinned to UTC): watermarks/event-time
    # require TIMESTAMP, not TIMESTAMP_NTZ. Window bounds are cast to
    # NTZ at output so results line up with the batch twins.
    if dict(stream.dtypes).get("ts") == "bigint":
        return stream.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


#: Feed dirs written by _multi_batch_feed and not yet deleted. Each
#: holds a full copy of a fixture table, so leaving them to the OS
#: tempdir reaper accumulates ~14 table copies per sim pass (ADVICE
#: r12). They are reaped by _reap_feed_dirs() once the consuming
#: query has terminated (every consumer is an AvailableNow bounded
#: replay, so termination == feed fully ingested; the memory sink /
#: collected handler output holds the results, never the feed files),
#: with an atexit backstop for a run that dies mid-query.
_FEED_DIRS: list = []
_FEED_ATEXIT = [False]


def _reap_feed_dirs() -> None:
    """Delete every pending feed dir. Call ONLY after the consuming
    streaming query has terminated (the contract: feeds are created
    immediately before their one consuming query starts, and no op
    reuses a feed dir across two query runs — _run_to_memory and the
    foreachBatch ops reap in their own aftermath)."""
    import shutil

    while _FEED_DIRS:
        shutil.rmtree(_FEED_DIRS.pop(), ignore_errors=True)


def _multi_batch_feed(spark, sf_dir, table, splits):
    """Replay one fixture table as a MULTI-micro-batch stream: write
    each (name, predicate) split of the batch-loaded table as a single
    parquet file in a fresh temp dir with ascending mtimes (the file
    source processes oldest-first under latestFirst=false), then read
    the dir with maxFilesPerTrigger=1 so AvailableNow delivers exactly
    one file — one micro-batch — per split, in split order. This is
    the harness for the cross-batch-state contracts below: a
    single-file fixture can only ever produce one micro-batch, which
    leaves the state carry between batches untested.

    The splits are written from the REPAIRED batch loader output, so
    the streamed rows are dtype-identical to the batch twin's input
    (ts arrives as timestamp_ntz regardless of the fixture's physical
    NANOS/MICROS encoding). Returns (stream_df, n_splits)."""
    import glob as _glob
    import os
    import shutil
    import tempfile
    import time as _time

    src = load_table(spark, sf_dir, table)
    feed = tempfile.mkdtemp(prefix=f"feed_{table}_")
    _FEED_DIRS.append(feed)
    if not _FEED_ATEXIT[0]:
        import atexit

        atexit.register(_reap_feed_dirs)
        _FEED_ATEXIT[0] = True
    now = _time.time()
    for i, (name, pred) in enumerate(splits):
        part_dir = os.path.join(feed, f"_{name}")
        src.filter(pred).coalesce(1).write.mode("overwrite").parquet(part_dir)
        part = _glob.glob(os.path.join(part_dir, "part-*.parquet"))[0]
        dest = os.path.join(feed, f"{i:02d}_{name}.parquet")
        shutil.move(part, dest)
        shutil.rmtree(part_dir)
        os.utime(dest, (now + 30 * i, now + 30 * i))
    schema = spark.read.parquet(os.path.join(feed, "00_*.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed)
    )
    return stream, len(splits)


def _event_stream_2batch(spark, sf_dir):
    """The events feed as TWO time-ordered micro-batches (first/second
    half of the event-time range — the day-partitioned arrival shape):
    the cross-batch-state harness for the windowed/stateful §2.K ops.
    Windows and sessions that straddle the midpoint accumulate partial
    state in batch 1 and finish in batch 2, so the state store's carry
    is genuinely exercised; because the split is time-ordered, the
    watermark after batch 1 (max(batch-1 ts) - delay < midpoint) can
    never drop a batch-2 row, and the FINAL watermark equals the
    single-batch replay's — append-mode emission sets and complete-mode
    results are unchanged, so every op keeps its exact oracle. Callers
    pass min_nonempty_batches=2 to _run_to_memory to assert the feed
    really delivered two batches."""
    mid = (
        load_table(spark, sf_dir, "events")
        .agg(
            F.timestamp_micros(
                (
                    (F.unix_micros(F.min("ts").cast("timestamp"))
                     + F.unix_micros(F.max("ts").cast("timestamp"))) / 2
                ).cast("long")
            ).alias("mid")
        )
        .collect()[0]["mid"]
    )
    raw, _ = _multi_batch_feed(
        spark, sf_dir, "events",
        [
            ("early", F.col("ts").cast("timestamp") < F.lit(mid)),
            ("late", F.col("ts").cast("timestamp") >= F.lit(mid)),
        ],
    )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


#: State-store partition count for every streaming query in this
#: module. A streaming job's state partitioning is a DELIBERATE,
#: checkpoint-baked choice (Spark freezes it at the first batch) —
#: inheriting whatever batch shuffle setting the session happens to
#: run (8 in our configs, 200 in a stock cluster session) is wrong in
#: both directions: too few caps stream parallelism at scale, too many
#: drowns small-state jobs in per-partition store overhead (the r11
#: cluster-config canary measured stream_stream_join at 59.6 s under
#: shuffle.partitions=200 vs well under the 30 s smoke budget pinned
#: here). Sized for the fixture streams; a production deployment sets
#: this to its own state-scale choice ONCE and keeps it for the
#: checkpoint's lifetime.
_STATE_PARTITIONS = "8"


def _run_to_memory(
    df, name_prefix: str, output_mode: str = "append",
    min_nonempty_batches: int | None = None,
):
    """Execute with AvailableNow into a memory sink; return the result
    as a (batch) DataFrame. The state partition count is pinned (see
    _STATE_PARTITIONS) for the duration of the run.

    min_nonempty_batches: for multi-batch-feed contracts, assert the
    run actually consumed that many data-carrying micro-batches (from
    the query's progress log) — a silently-coalesced feed would pass
    every value check while testing nothing about cross-batch state."""
    name = f"{name_prefix}_{uuid.uuid4().hex[:8]}"
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", _STATE_PARTITIONS)
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if min_nonempty_batches is not None:
            n = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
            if n < min_nonempty_batches:
                raise RuntimeError(
                    f"{name_prefix}: feed delivered {n} non-empty "
                    f"micro-batches, contract requires >= {min_nonempty_batches}"
                )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        # The run's feed dirs (if any) are fully ingested once the
        # AvailableNow query terminates — the memory sink holds the
        # results, so the table copies on disk are dead weight now.
        _reap_feed_dirs()
    return spark.table(name)


@query(
    "stream_tumbling_agg",
    section="2.K",
    oracle="""
SELECT date_trunc('hour', ts) AS hour_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST((value) AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
""",
)
def stream_tumbling_agg(spark, sf_dir):
    """Per-hour tumbling counts/sums by event_type (watermarked).
    Batch twin: events_hourly_batch (ORACLE) — equality asserted in
    tests/test_streaming.py. Output mode `complete` so windows still
    open at end-of-replay are emitted too (append would hold back
    anything newer than the final watermark). Round 12: the feed is
    TWO time-ordered micro-batches (asserted) — hour windows straddling
    the midpoint accumulate partial counts/sums in the state store
    across the batch boundary and must still equal the one-shot
    aggregation the oracle computes."""
    s = _event_stream_2batch(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").cast("timestamp_ntz").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return _run_to_memory(agg, "tumbling", "complete", min_nonempty_batches=2)


@query(
    "stream_sliding_agg",
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
def stream_sliding_agg(spark, sf_dir):
    """1-hour window sliding every 15 minutes — each event lands in 4
    overlapping windows. Batch twin: events_sliding_batch (ORACLE) —
    equality asserted in tests/test_streaming.py. 2-batch time-split
    feed (round 12): overlapping windows spanning the midpoint carry
    partial counts across the batch boundary."""
    s = _event_stream_2batch(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").cast("timestamp_ntz").alias("win_start"),
            "event_type",
            "n_events",
        )
    )
    return _run_to_memory(agg, "sliding", "complete", min_nonempty_batches=2)


@query(
    "stream_session_window",
    section="2.K",
    oracle="""
WITH lagged AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), sess AS (
  SELECT user_id, ts,
         SUM(CASE WHEN prev_ts IS NULL
                    OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM lagged
)
SELECT user_id,
       MIN(ts) AS sess_start,
       MAX(ts) + INTERVAL 30 MINUTE AS sess_end,
       COUNT(*) AS n_events
FROM sess GROUP BY user_id, sid
""",
)
def stream_session_window(spark, sf_dir):
    """Gap-based session windows (30 min) per user — the native
    streaming form of win_sessionize_batch (cross-checked in tests:
    same session count per user). ORACLE-tier: Spark merges an event
    into the open session iff its gap to the previous event is AT
    MOST the 30-min gap — an exactly-30:00.000000 gap still merges
    (pinned by a synthetic probe in tests/test_streaming.py) — so the
    oracle's new-session predicate is `gap > 30 min` (micro-exact);
    session end = last event + gap. 2-batch time-split feed (round
    12): sessions OPEN at the midpoint live in the state store between
    batches and must merge with their batch-2 tail — the strongest
    cross-batch case a session window has."""
    s = _event_stream_2batch(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("sess"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sess.start").cast("timestamp_ntz").alias("sess_start"),
            F.col("sess.end").cast("timestamp_ntz").alias("sess_end"),
            "n_events",
        )
    )
    return _run_to_memory(agg, "session", "complete", min_nonempty_batches=2)


@query(
    "stream_watermark_late",
    section="2.K",
    oracle="""
WITH w AS (
  SELECT time_bucket(INTERVAL 15 MINUTE, ts) AS win_start, COUNT(*) AS n_events
  FROM events GROUP BY 1
), m AS (SELECT max(ts) - INTERVAL 10 MINUTE AS wm FROM events)
SELECT win_start, n_events FROM w, m
WHERE win_start + INTERVAL 15 MINUTE <= wm
""",
)
def stream_watermark_late(spark, sf_dir):
    """Tight 10-minute watermark before a windowed agg — the
    late-data-drop configuration (fixture events arrive in order, so
    bounded replay drops nothing; the plan carries the state-eviction
    contract that matters unbounded). ORACLE-tier: append mode emits
    exactly the windows whose end precedes the final watermark
    (max ts - 10 min) — the oracle applies that cutoff to the batch
    aggregation (boundary pinned empirically, r6). 2-batch
    time-split feed (round 12): the first batch's closing advances the
    watermark mid-stream, so append emission happens ACROSS batches —
    the final emitted set must still be exactly the final-watermark
    cutoff the oracle applies."""
    s = _event_stream_2batch(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "15 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").cast("timestamp_ntz").alias("win_start"), "n_events")
    )
    return _run_to_memory(agg, "late", "append", min_nonempty_batches=2)


@query(
    "stream_dedup",
    section="2.K",
    oracle="SELECT event_type, COUNT(*) AS n_unique FROM events GROUP BY event_type",
)
def stream_dedup(spark, sf_dir):
    """Stateful dedup on event_id within the watermark
    (dropDuplicatesWithinWatermark) — the stream twin of
    win_dedup_latest; counts survivors per event_type. ORACLE-tier:
    event_id is unique on the fixture (canary-pinned), so the
    survivor count per type equals the plain count — which is exactly
    the invariant a dedup must preserve on already-unique input.
    2-batch time-split feed (round 12): the dedup key state carries
    across the batch boundary — a batch-2 replay of a batch-1 id
    would be suppressed by carried state, and unique ids must not be."""
    s = _event_stream_2batch(spark, sf_dir)
    deduped = (
        s.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )
    return _run_to_memory(deduped, "dedup", "complete", min_nonempty_batches=2)


@query("stream_stateful_custom", section="2.K")
def stream_stateful_custom(spark, sf_dir):
    """Arbitrary per-user state via applyInPandasWithState: running
    total of `value` and event count per user (the custom-operator
    escape hatch for streaming — Arrow-batched, watermark-bounded).

    MULTI-micro-batch feed (round 12): the events fixture replays as
    TWO time-ordered micro-batches (first/second half of the event-time
    range, the shape of a day-partitioned arrival), so every user's
    state is genuinely carried by the state store ACROSS batch
    boundaries — users active in both halves accumulate batch-1 totals
    into their batch-2 update. The run asserts >=2 data-carrying
    batches were consumed; stream_stateful_bound pins the FINAL state
    (each user's last update) == the batch groupBy twin, which now
    certifies cross-batch state evolution, not just within-batch
    accumulation. The split is time-ordered, not interleaved, so the
    watermark (max ts - 1h after batch 1) never drops batch-2 rows."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    s = _event_stream_2batch(spark, sf_dir)

    def update(key, pdfs, state: GroupState):
        total, n = state.get if state.exists else (0.0, 0)
        for pdf in pdfs:
            total += float(pdf["value"].sum())
            n += int(len(pdf))
        state.update((total, n))
        yield pd.DataFrame(
            {"user_id": [key[0]], "total_value": [round(total, 4)], "n_events": [n]}
        )

    out = (
        s.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id BIGINT, total_value DOUBLE, n_events BIGINT",
            stateStructType="total DOUBLE, n BIGINT",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return _run_to_memory(out, "stateful", "update", min_nonempty_batches=2)


@query(
    "stream_static_join",
    section="2.K",
    oracle="""
WITH f AS (SELECT user_id, MIN(ts) AS first_seen FROM events GROUP BY user_id)
SELECT e.user_id, f.first_seen, COUNT(*) AS n_events
FROM events e JOIN f ON e.user_id = f.user_id
GROUP BY e.user_id, f.first_seen
""",
)
def stream_static_join(spark, sf_dir):
    """Stream ⋈ static dimension: enrich the event stream with a static
    per-user profile (built from the batch table). Static side is
    broadcast into every micro-batch. ORACLE-tier: the enrichment is a
    deterministic equi join, so the result equals the batch join +
    aggregation. 2-batch time-split feed (round 12): the dimension is
    re-broadcast into each micro-batch and the downstream agg state
    carries across the boundary."""
    s = _event_stream_2batch(spark, sf_dir)
    users = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_seen"))
    )
    joined = (
        s.join(F.broadcast(users), "user_id")
        .groupBy("user_id", "first_seen")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return _run_to_memory(
        joined, "static_join", "complete", min_nonempty_batches=2
    ).select(
        "user_id",
        F.col("first_seen").cast("timestamp_ntz").alias("first_seen"),
        "n_events",
    )


@query(
    "stream_output_modes",
    section="2.K",
    oracle="""
SELECT event_type, COUNT(*) AS n,
       CAST((SELECT COUNT(DISTINCT event_type) FROM events) AS BIGINT)
         AS update_mode_rows
FROM events GROUP BY event_type
""",
)
def stream_output_modes(spark, sf_dir):
    """Same aggregation under complete vs update output modes (memory
    sink); returns the complete-mode result with the update-mode row
    count attached — exercising the mode semantics side by side.
    ORACLE-tier: single-batch AvailableNow replay makes update mode
    emit each changed group exactly once, so its row count equals the
    number of distinct groups."""
    s1 = _event_stream(spark, sf_dir)
    agg1 = s1.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    complete = _run_to_memory(agg1, "mode_complete", "complete")
    s2 = _event_stream(spark, sf_dir)
    agg2 = s2.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    update = _run_to_memory(agg2, "mode_update", "update")
    n_update = update.count()
    return complete.select(
        "event_type", "n", F.lit(n_update).alias("update_mode_rows")
    )


@query(
    "stream_foreach_batch_sink",
    section="2.K",
    oracle="""
SELECT CAST(0 AS INTEGER) AS batch_id, event_type, COUNT(*) AS n
FROM events GROUP BY event_type
""",
)
def stream_foreach_batch_sink(spark, sf_dir):
    """foreachBatch sink: per-micro-batch handler appends aggregates to
    an accumulator list (stand-in for an arbitrary batch-integration
    sink — JDBC/parquet/upsert); returns the captured rows.
    ORACLE-tier: the one-file bounded replay is a single micro-batch
    (batch_id 0) whose complete-mode aggregate is the batch GROUP BY."""
    s = _event_stream(spark, sf_dir)
    agg = s.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    captured: list = []

    def handle(batch_df, batch_id: int):
        for r in batch_df.collect():
            captured.append((int(batch_id), r["event_type"], int(r["n"])))

    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(handle)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.createDataFrame(
        captured, "batch_id INT, event_type STRING, n BIGINT"
    )


@query(
    "stream_source_files",
    section="2.K",
    oracle="SELECT event_id, ts, user_id, event_type FROM events",
)
def stream_source_files(spark, sf_dir):
    """The file-source replay itself (§2.A stream_source_files): raw
    bounded stream of events → append sink, proving source semantics
    (schema enforcement, nanos repair) independent of any aggregation.
    ORACLE-tier: a pure pass-through must deliver the table
    byte-exactly."""
    s = _event_stream(spark, sf_dir)
    out = s.select(
        "event_id", F.col("ts").cast("timestamp_ntz").alias("ts"), "user_id", "event_type"
    )
    return _run_to_memory(out, "source_files", "append")


@query(
    "stream_stream_join",
    section="2.K",
    oracle="""
SELECT p.event_id AS purchase_event_id,
       p.user_id AS user_id,
       p.ts AS purchase_ts,
       c.ts AS click_ts
FROM events p JOIN events c ON p.user_id = c.user_id
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
  AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
""",
)
def stream_stream_join(spark, sf_dir):
    """Stream⋈stream interval join: each purchase joined to clicks of
    the same user within the preceding hour — BOTH sides are streams
    with watermarks, so the join state is bounded on both sides (the
    canonical funnel-attribution shape). ORACLE-tier: bounded replay
    flushes every matched pair exactly once at termination (verified
    r6: stream row set == batch interval join), so the oracle is the
    batch interval join itself. 2-batch time-split feed on BOTH sides
    (round 12): a batch-1 click matching a batch-2 purchase is joined
    out of carried join state — and state eviction under the advancing
    watermark may only evict clicks no future purchase can reach."""
    # r13: ONE two-batch feed, self-joined. The r12 shape called
    # _event_stream_2batch once per side — two full fixture-table
    # copies written to temp feed dirs and two midpoint collects for
    # identical data. A stream self-join over the same file source
    # delivers byte-identical micro-batches to both branches (same
    # files, same trigger), so the join state, watermarks and output
    # are unchanged; the feed build cost and the smoke-budget
    # pressure (inherited flaky 34 s vs 30 s budget) halve.
    raw = _event_stream_2batch(spark, sf_dir)
    purchases = (
        raw.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_ev"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        raw.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts <= p_ts"
        ),
    ).select(
        F.col("p_ev").alias("purchase_event_id"),
        F.col("p_user").alias("user_id"),
        F.col("p_ts").cast("timestamp_ntz").alias("purchase_ts"),
        F.col("c_ts").cast("timestamp_ntz").alias("click_ts"),
    )
    # stream-stream joins emit in APPEND mode only (each matched pair
    # exactly once, once both watermarks pass it).
    return _run_to_memory(joined, "ss_join", "append", min_nonempty_batches=2)


@query("stream_stateful_bound", section="2.K", oracle=ZERO_VIOLATIONS)
def stream_stateful_bound(spark, sf_dir):
    """ORACLE pin for stream_stateful_custom/_tws (VERDICT r6 #3): the
    per-batch emission cadence is engine-private, but the FINAL state
    is not — after a bounded replay, each user's last update (the
    max-n_events row; the running totals are monotone in n_events)
    must equal the batch groupBy: n_events exactly, total_value within
    1.1e-4. Tolerance derivation: BOTH sides round their float64 sum
    to 4dp, but they sum in different orders — when the true sum sits
    within an ulp of a 0.00005 rounding boundary the two rounds can
    legitimately land one 1e-4 grid step apart, so the pin must admit
    one grid step (plus slack); anything beyond that is a real state
    divergence (the smallest event value is ~0.01). A user present on
    only one side is also a violation. Oracle pins 0."""
    from pyspark.sql.window import Window

    stream = stream_stateful_custom(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = (
        stream.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", "total_value", "n_events")
    )
    e = load_table(spark, sf_dir, "events")
    batch = e.groupBy("user_id").agg(
        F.round(F.sum("value"), 4).alias("b_total"),
        F.count(F.lit(1)).alias("b_n"),
    )
    j = final.join(batch, "user_id", "full_outer")
    viol = (
        F.col("n_events").isNull()
        | F.col("b_n").isNull()
        | (F.col("n_events") != F.col("b_n"))
        | (F.abs(F.col("total_value") - F.col("b_total")) > 1.1e-4)
    )
    return j.agg(F.count_if(viol).alias("n_violations"))


@query("stream_stateful_tws", section="2.K")
def stream_stateful_tws(spark, sf_dir):
    """Arbitrary stateful processing via the Spark 4.x
    transformWithStateInPandas API (StatefulProcessor with explicit
    ValueState): per-user running value total + event count — the
    newer, state-schema-first twin of stream_stateful_custom.

    ENV GATE — conclusively pinned (VERDICT r9 #6): this sandbox's
    PySpark 4.1.2 CANNOT run transformWithStateInPandas, independent of
    any state-store-provider (RocksDB) setting, because the TWS
    Python<->JVM state-server protocol is protobuf-based and every
    client module hard-imports the generated messages:

        pyspark/sql/streaming/value_state_client.py (+ list/map peers)
          -> import pyspark.sql.streaming.proto.StateMessage_pb2
        StateMessage_pb2.py line 23
          -> from google.protobuf import descriptor ...
          -> ModuleNotFoundError: No module named 'google'

    The generated file declares "Protobuf Python Version: 6.33.0" and
    calls runtime_version.ValidateProtobufRuntimeVersion, so the env
    requirement is the google.protobuf runtime >= 6.33 (plus, on the
    JVM side, the RocksDB state store provider TWS requires). The
    container has no `google` package at all and installs are not
    permitted, so the gate trips before any Spark code runs. When the
    dependency is unavailable the op falls back to the
    applyInPandasWithState implementation — same semantics, older API —
    so the query stays runnable everywhere; the TWS branch is exercised
    wherever protobuf exists."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        return stream_stateful_custom(spark, sf_dir)
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    state_schema = StructType(
        [StructField("total", DoubleType(), True), StructField("n", LongType(), True)]
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.state = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            total, n = (self.state.get() or (0.0, 0)) if self.state.exists() else (0.0, 0)
            for pdf in rows:
                total += float(pdf["value"].sum())
                n += int(len(pdf))
            self.state.update((total, n))
            yield pd.DataFrame(
                {"user_id": [key[0]], "total_value": [round(total, 4)], "n_events": [n]}
            )

        def close(self) -> None:
            pass

    s = _event_stream_2batch(spark, sf_dir)
    out = (
        s.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .transformWithStateInPandas(
            RunningTotals(),
            outputStructType="user_id BIGINT, total_value DOUBLE, n_events BIGINT",
            outputMode="Update",
            timeMode="None",
        )
    )
    return _run_to_memory(out, "tws", "update", min_nonempty_batches=2)


@query("stream_sketch_rollup", section="2.K")
def stream_sketch_rollup(spark, sf_dir):
    """Streaming distinct-user sketch rollup: hourly tumbling windows
    aggregate `approx_count_distinct(user_id)` under a watermark,
    bounded-replayed with AvailableNow into a memory sink. The
    pattern at 100 TB: the stream maintains per-window HLL state
    (fixed memory per window, mergeable across micro-batches) instead
    of exact distinct state that grows with cardinality. ROWS tier
    (sketch runtime); the exact batch twin is one groupBy away and the
    test suite compares them within HLL error. 2-batch time-split feed
    (round 12): the per-window HLL registers are MERGED across the
    batch boundary — the mergeability the 100 TB pattern relies on,
    now exercised rather than assumed."""
    e = _event_stream_2batch(spark, sf_dir)
    agg = (
        e.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.approx_count_distinct("user_id", 0.02).alias("approx_users"))
        .select(F.col("win.start").alias("hour_start"), "event_type", "approx_users")
    )
    return _run_to_memory(agg, "stream_sketch_rollup", output_mode="complete",
                          min_nonempty_batches=2)


@query("stream_sketch_rollup_bound", section="2.K", oracle=ZERO_VIOLATIONS)
def stream_sketch_rollup_bound(spark, sf_dir):
    """ORACLE pin for stream_sketch_rollup (VERDICT r6 #3, the
    agg_approx_distinct_bound pattern lifted to streaming): replay the
    stream, then full-outer-join its per-(window, type) HLL estimates
    against the exact batch distinct-user counts. Violations: a
    (window, type) key present on only one side (the complete-mode
    replay must cover exactly the batch key set), or an estimate off by
    more than max(10% of exact, 3) — the relative band is 5x the rsd=2%
    sketch, and the absolute floor absorbs HLL++'s small-range
    granularity (hourly windows here hold single-digit distinct users,
    where an off-by-one is 25% relative but entirely in-spec).
    Oracle pins 0."""
    stream = stream_sketch_rollup(spark, sf_dir)
    e = load_table(spark, sf_dir, "events")
    exact = e.groupBy(
        F.date_trunc("hour", "ts").alias("hour_start"), "event_type"
    ).agg(F.countDistinct("user_id").alias("exact_users"))
    j = stream.join(exact, ["hour_start", "event_type"], "full_outer")
    viol = (
        F.col("approx_users").isNull()
        | F.col("exact_users").isNull()
        | (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            > F.greatest(0.10 * F.col("exact_users"), F.lit(3.0))
        )
    )
    return j.agg(F.count_if(viol).alias("n_violations"))


@query(
    "stream_ohlc",
    section="2.K",
    oracle="""
WITH b AS (
  SELECT event_type,
         date_trunc('hour', ts) AS hour_start,
         arg_min(value, strftime(ts,'%Y%m%d%H%M%S%f') || lpad(CAST(event_id AS VARCHAR),12,'0')) AS bar_open,
         MAX(value) AS bar_high,
         MIN(value) AS bar_low,
         arg_max(value, strftime(ts,'%Y%m%d%H%M%S%f') || lpad(CAST(event_id AS VARCHAR),12,'0')) AS bar_close,
         COUNT(*) AS n_events
  FROM events GROUP BY event_type, date_trunc('hour', ts)
), m AS (SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM events)
SELECT event_type, hour_start, bar_open, bar_high, bar_low, bar_close, n_events
FROM b, m WHERE hour_start + INTERVAL 1 HOUR <= wm
""",
)
def stream_ohlc(spark, sf_dir):
    """Streaming OHLC bars: per (event_type, 1h tumbling window) open/
    high/low/close with min_by/max_by over the event-time+id key —
    the stream twin of ts_downsample_ohlc (timeseries.py; identical
    key recipe, so bar values line up with the batch op). Watermarked
    1h; in production the same query runs unbounded from Kafka with
    RocksDB state — the window state per bar is four scalars, not the
    events. 2-batch time-split feed (round 12): bars straddling the
    midpoint accumulate open/high/low/close across the boundary; the
    min_by/max_by tie-break key must survive the state round-trip."""
    s = _event_stream_2batch(spark, sf_dir)
    key = F.concat(
        F.date_format("ts", "yyyyMMddHHmmssSSSSSS"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    bars = (
        s.withWatermark("ts", "1 hour")
        .groupBy("event_type", F.window("ts", "1 hour").alias("win"))
        .agg(
            F.min_by("value", key).alias("bar_open"),
            F.max("value").alias("bar_high"),
            F.min("value").alias("bar_low"),
            F.max_by("value", key).alias("bar_close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "event_type",
            F.col("win.start").cast("timestamp_ntz").alias("hour_start"),
            "bar_open",
            "bar_high",
            "bar_low",
            "bar_close",
            "n_events",
        )
    )
    return _run_to_memory(bars, "ohlc", "append", min_nonempty_batches=2)


@query(
    "stream_chained_windows",
    section="2.K",
    oracle="""
WITH h AS (
  SELECT event_type, time_bucket(INTERVAL 6 HOUR, ts) AS block_start,
         COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
), m AS (SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM events)
SELECT block_start, event_type, n_events FROM h, m
WHERE block_start + INTERVAL 6 HOUR <= wm
""",
)
def stream_chained_windows(spark, sf_dir):
    """Chained time-window aggregations in ONE streaming query
    (Spark 3.4+): hourly event counts re-aggregated into 6-hour
    blocks — window-over-window without an intermediate sink. Two
    stateful stages share the pipeline; the second groups on the
    FIRST's window struct. Batch equivalence asserted in
    tests/test_streaming.py. At scale this halves the storage round
    trip of the classic bronze->hourly->daily chain. 2-batch
    time-split feed (round 12): BOTH stateful stages carry partial
    state across the boundary — stage 1's open hour windows and stage
    2's open 6-hour blocks."""
    s = _event_stream_2batch(spark, sf_dir)
    hourly = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w1"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    six_hourly = (
        hourly.groupBy(
            F.window(F.col("w1"), "6 hours").alias("w6"), "event_type"
        ).agg(F.sum("n").alias("n_events"))
    ).select(
        F.col("w6.start").cast("timestamp_ntz").alias("block_start"),
        "event_type",
        "n_events",
    )
    return _run_to_memory(six_hourly, "chained", "append", min_nonempty_batches=2)


@query(
    "stream_checkpoint_recovery",
    section="2.K",
    oracle="SELECT event_type, COUNT(*) AS n_events FROM events GROUP BY event_type",
)
def stream_checkpoint_recovery(spark, sf_dir):
    """Checkpointed restart — the exactly-once operational story: the
    same file-stream aggregation is started TWICE against one
    checkpoint directory (fresh per invocation). Run 1 processes the
    fixture; run 2 recovers from the checkpoint, finds every input
    file already committed in the source log, and processes ZERO new
    rows (asserted in-op) — a crashed-and-restarted job neither
    drops nor double-counts. Returns run 1's counts. In production
    the memory sink becomes an idempotent/transactional sink and the
    checkpoint lives on DFS; the recovery contract is identical."""
    import shutil
    import tempfile

    ckpt = tempfile.mkdtemp(prefix="sparkml_ckpt_")
    try:
        s = _event_stream(spark, sf_dir)
        agg = s.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))

        def run(name):
            q = (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return q

        name1 = f"ckpt_run1_{uuid.uuid4().hex[:8]}"
        run(name1)
        result = spark.table(name1).collect()  # pin run-1 output
        q2 = run(f"ckpt_run2_{uuid.uuid4().hex[:8]}")
        reprocessed = sum(
            int(p["numInputRows"]) for p in (q2.recentProgress or [])
        )
        assert reprocessed == 0, f"restart reprocessed {reprocessed} rows"
        return spark.createDataFrame(result, schema="event_type string, n_events long")
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


# ---------------------------------------------------------------------------
# Kafka transport (round 2, VERDICT r01 "What's missing" #4). The
# sandbox has no network and no spark-sql-kafka connector jar, so the
# source cannot be EXERCISED here — but the code path now exists: real
# reader/writer builders plus the wire-format parse pipeline, which IS
# exercised (the registered query serializes fixture events to the
# exact Kafka value layout and runs the same parse + aggregation).
# ---------------------------------------------------------------------------

#: JSON layout of an event on the Kafka wire (value column).
EVENT_WIRE_SCHEMA = (
    "event_id BIGINT, ts STRING, user_id BIGINT, event_type STRING, value DOUBLE"
)


def kafka_source(spark, bootstrap: str, topic: str, starting: str = "earliest"):
    """Kafka source stream: `format("kafka")` with the standard options.
    Deploy requirement (config, not code): the connector package
    `org.apache.spark:spark-sql-kafka-0-10_<scala>:<spark-version>` on
    the classpath (`spark.jars.packages`). Returns the raw stream with
    Kafka's fixed schema (key/value binary, topic, partition, offset,
    timestamp). Parallelism at 100 TB/day comes from topic partitions —
    one Spark task per partition; `minPartitions` can oversplit."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", starting)
        .load()
    )


def kafka_sink(df, bootstrap: str, topic: str, checkpoint: str):
    """Kafka sink: expects a `value` (string/binary) column — use
    `to_kafka_wire` to build it — and writes with exactly-once-per-key
    semantics delegated to the checkpoint + idempotent producer."""
    return (
        df.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
    )


def to_kafka_wire(events):
    """events columns -> (key, value) Kafka wire layout: key = user_id
    (keeps a user's events in one partition, ordered), value = JSON."""
    return events.select(
        F.col("user_id").cast("string").alias("key"),
        F.to_json(
            F.struct("event_id", "ts", "user_id", "event_type", "value")
        ).alias("value"),
    )


def parse_kafka_events(raw):
    """Kafka wire -> typed event columns: the downstream half every
    Kafka job shares. from_json against EVENT_WIRE_SCHEMA, timestamp
    revived from the ISO string. Works identically on the real source's
    binary `value` and the simulated wire (cast handles both)."""
    return (
        raw.select(F.from_json(F.col("value").cast("string"), EVENT_WIRE_SCHEMA).alias("e"))
        .select("e.*")
        .withColumn("ts", F.to_timestamp("ts"))
    )


@query(
    "stream_source_kafka",
    section="2.K",
    oracle="""
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       COUNT(*) AS n_events, 'simulated_wire' AS transport
FROM events GROUP BY date_trunc('hour', ts), event_type
""",
)
def stream_source_kafka(spark, sf_dir):
    """Kafka-transport pipeline, env-gated: try the real
    `format("kafka")` source first; in this sandbox (no connector jar,
    no network) Spark rejects it at source resolution, and the op falls
    back to replaying fixture events SERIALIZED TO THE EXACT KAFKA WIRE
    FORMAT (key = user_id, value = JSON via to_kafka_wire). Either way
    the shared parse pipeline (parse_kafka_events) and the hourly
    aggregation run unchanged — swapping transport really is the config
    change the 100 TB note promises, and the parse path is exercised
    for real on every run. `transport` column records which path ran."""
    transport = "kafka"
    try:
        raw = kafka_source(spark, "localhost:9092", "events")
        raw = raw.selectExpr("CAST(key AS STRING) key", "CAST(value AS STRING) value")
    except Exception:  # connector absent (expected here) — simulate the wire
        transport = "simulated_wire"
        events = _event_stream(spark, sf_dir).withColumn(
            "ts", F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        )
        raw = to_kafka_wire(events)
    parsed = parse_kafka_events(raw).withWatermark("ts", "1 hour")
    hourly = (
        parsed.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("hour_start"),
            "event_type",
            "n_events",
            F.lit(transport).alias("transport"),
        )
    )
    return _run_to_memory(hourly, "kafka_pipe", "complete")


@query(
    "stream_drift_monitor",
    section="2.K",
    oracle="""
WITH hc AS (
  SELECT date_trunc('hour', ts) AS h,
         CAST(floor(value / 25.0) AS BIGINT) AS b,
         COUNT(*) AS c
  FROM events GROUP BY 1, 2
), nh AS (SELECT h, CAST(SUM(c) AS BIGINT) AS n_hour FROM hc GROUP BY h),
   g  AS (SELECT b, CAST(SUM(c) AS BIGINT) AS gn FROM hc GROUP BY b),
   ng AS (SELECT CAST(SUM(c) AS BIGINT) AS n_g FROM hc),
   grid AS (SELECT h, n_hour, b, gn, n_g FROM nh CROSS JOIN g CROSS JOIN ng),
   j AS (
     SELECT grid.h, grid.n_hour, COALESCE(hc.c, 0) AS c, grid.gn, grid.n_g
     FROM grid LEFT JOIN hc ON grid.h = hc.h AND grid.b = hc.b
   )
SELECT h AS hour_start, n_hour,
       CAST(SUM(ABS(c * 1000000 // n_hour - gn * 1000000 // n_g)) AS BIGINT)
         AS tvd_ppm_x2
FROM j GROUP BY h, n_hour
""",
)
def stream_drift_monitor(spark, sf_dir):
    """Streaming distribution-drift monitor: the STREAM maintains a
    per-hour histogram of `value` over fixed 25-wide buckets (the only
    stateful piece). State bound (ADVICE r9 correction): this query
    replays in COMPLETE output mode, where the watermark never evicts
    aggregation state — so the precise bound is ALL-hours x #buckets
    (~20 rows/hour), which is finite here because the replay fixture
    is finite. A genuinely continuous production run would use
    append/update mode, where the 1-hour watermark does evict closed
    windows and state really is #open-windows x #buckets.
    Each hour's distribution is then scored against the corpus-
    lifetime mixture as an integer-ppm total-variation distance — the
    same engine-exact TVD contract as quality_drift_tvd (no ln(), no
    float shares), so alert thresholds mean the same thing in the
    batch and streaming monitors. The reference is the lifetime
    mixture of the streamed histogram itself (self-referential
    baseline), so no second source or scan exists anywhere.

    Scale: the streamed state is a (window, bucket) count — 20-ish
    rows per open hour regardless of event rate, the cheapest possible
    stateful shape; the scoring pass runs on the HISTOGRAM (hours x
    buckets, ~20 rows/hour), where the hour-grid cross join is
    explicitly bounded (#hours x #buckets — linear in wall-clock time,
    constant in data rate) and both global attachments are 1-row/
    20-row broadcasts. Replay protocol: AvailableNow into a memory
    sink (complete mode), like every 2.K oracle. 2-batch time-split
    feed (round 12): per-(hour, bucket) counts straddling the midpoint
    accumulate across the batch boundary before the scoring pass."""
    s = _event_stream_2batch(spark, sf_dir)
    hist = (
        s.withWatermark("ts", "1 hour")
        .groupBy(
            F.window("ts", "1 hour").alias("win"),
            F.floor(F.col("value") / 25.0).cast("long").alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            F.col("win.start").cast("timestamp_ntz").alias("h"), "b", "c"
        )
    )
    hc = _run_to_memory(hist, "drift", "complete", min_nonempty_batches=2)
    nh = hc.groupBy("h").agg(F.sum("c").alias("n_hour"))
    g = hc.groupBy("b").agg(F.sum("c").alias("gn"))
    ng = g.agg(F.sum("gn").alias("n_g"))
    grid = nh.crossJoin(F.broadcast(g)).crossJoin(F.broadcast(ng))
    # grid and hc share lineage (nh/g are aggregates OF hc), so the
    # equi keys are renamed on the probe side to keep resolution
    # unambiguous in the self-join.
    hc2 = hc.select(
        F.col("h").alias("h2"), F.col("b").alias("b2"), F.col("c")
    )
    j = grid.join(
        hc2,
        (F.col("h") == F.col("h2")) & (F.col("b") == F.col("b2")),
        "left",
    ).select("h", "n_hour", F.coalesce("c", F.lit(0)).alias("c"), "gn", "n_g")
    ppm = F.expr("abs(c * 1000000 DIV n_hour - gn * 1000000 DIV n_g)")
    return (
        j.groupBy("h", "n_hour")
        .agg(F.sum(ppm).alias("tvd_ppm_x2"))
        .select(F.col("h").alias("hour_start"), "n_hour", "tvd_ppm_x2")
    )


@query(
    "stream_observe_metrics",
    section="2.K",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value,
       CAST(MIN(user_id) AS BIGINT) AS min_user,
       CAST(MAX(user_id) AS BIGINT) AS max_user
FROM events
""",
)
def stream_observe_metrics(spark, sf_dir):
    """Streaming pipeline observability via Dataset.observe(): exact
    per-micro-batch metrics (row count, decimal-exact value sum,
    user-id extrema) collected from the query's progress events and
    merged across batches — the zero-extra-pass canary a production
    stream exports to its metrics system (an extra aggregation query
    would re-read the stream; observe rides the existing plan).

    ORACLE tier, deliberately: observed metrics are EXACT aggregates,
    so the merged totals must hash-match the batch SQL — any drift
    means the observation missed rows or a batch's metrics were
    dropped. Counts/sums merge by addition, extrema by min/max; the
    decimal(27,6) sum keeps the merge order-independent (registry
    dsum discipline), cast to double only at output.

    Scale: observe() is a streaming-safe accumulator on the existing
    plan — no second scan, no state store, constant memory per
    metric. The noop sink isolates the cost to the metrics
    themselves. 2-batch time-split feed (round 12): the merge loop
    below genuinely combines metrics from >=2 micro-batches (asserted)
    — counts/sums by addition, extrema by min/max — instead of
    passing through a single batch's row."""
    import decimal

    s = _event_stream_2batch(spark, sf_dir)
    obs = s.observe(
        "canary",
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(27,6)")).alias("sum_value"),
        F.min("user_id").alias("min_user"),
        F.max("user_id").alias("max_user"),
    )
    # recentProgress is a RING BUFFER of the last
    # spark.sql.streaming.numRecentProgressUpdates entries (default
    # 100): a >100-micro-batch run would silently drop early batches'
    # observed metrics and break the exactness claim. Raise the
    # retention for this query and HARD-FAIL if the run ever reaches
    # it — a wrong answer must be an error, never a quiet undercount.
    _retention = 100_000
    prev = spark.conf.get("spark.sql.streaming.numRecentProgressUpdates")
    spark.conf.set(
        "spark.sql.streaming.numRecentProgressUpdates", str(_retention)
    )
    try:
        q = (
            obs.writeStream.format("noop")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progress = list(q.recentProgress)
    finally:
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", prev)
    if len(progress) >= _retention:
        raise RuntimeError(
            "stream_observe_metrics: progress buffer saturated "
            f"({len(progress)} >= {_retention}); early batches' observed "
            "metrics may have been evicted — raise the retention"
        )
    n, sv, mn, mx = 0, decimal.Decimal(0), None, None
    n_contributing = 0
    for prog in progress:
        row = (prog.get("observedMetrics") or {}).get("canary")
        if row is None:
            continue
        n_contributing += 1
        n += row["n_events"]
        if row["sum_value"] is not None:
            sv += decimal.Decimal(str(row["sum_value"]))
        if row["min_user"] is not None:
            mn = row["min_user"] if mn is None else min(mn, row["min_user"])
        if row["max_user"] is not None:
            mx = row["max_user"] if mx is None else max(mx, row["max_user"])
    if n_contributing < 2:
        raise RuntimeError(
            f"stream_observe_metrics: {n_contributing} micro-batches "
            "contributed observed metrics; the cross-batch merge contract "
            "requires >= 2"
        )
    out = spark.createDataFrame(
        [(n, sv, mn, mx)],
        "n_events long, sum_value decimal(27,6), min_user long, max_user long",
    )
    return out.select(
        "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
        "min_user",
        "max_user",
    )


# ---------------------------------------------------------------------------
# stream_incremental_refresh (round 11) — the daily-append as a stream
# ---------------------------------------------------------------------------

@query("stream_incremental_refresh", section="2.K", oracle=None)
def stream_incremental_refresh(spark, sf_dir):
    """pipeline_incremental_refresh executed as an ACTUAL Structured
    Streaming job over a MULTI-micro-batch feed (round 12 — the
    >1-batch cross-batch-state contract): the documents feed replays
    as TWO mtime-ordered micro-batches, the production lifecycle of a
    daily append. Batch 1 (the standing corpus) BOOTSTRAPS the state:
    it builds the digest index and stages the corpus-side replay rows
    — and emits nothing. Batch 2 (the arriving day) assembles the
    day's batch (its new docs + the staged replays + its own replay
    seeds) and runs the shared chain (refresh_manifest_incr: digest
    dedup against the STANDING index from batch 1 → quality gates →
    BPE budget mix → next-fit pack), emitting the manifest. Because
    the index the daily batch probes was built in a PRIOR micro-batch,
    the run exercises genuine state carry; because the decomposition
    reassembles exactly the one-shot chain's inputs, the manifest
    hash-matches the batch twin's DuckDB oracle while the feed is
    genuinely 2 micro-batches (asserted).

    Scale: foreachBatch gives every micro-batch the full batch
    engine — the same broadcast-probed digest lookups and sharded
    packer. The carried index is localCheckpoint here; in production
    it is the maintained bucketed digest table, appended (not
    rebuilt) with each day's accepted digests."""
    from sparkml_spark.functions.subword import refresh_manifest_incr
    from sparkml_spark.operators.llm_dedup import _norm
    from sparkml_spark.session import CheckpointChain
    from sparkml_spark.sources.loader import load_table as _lt

    chain = CheckpointChain(spark)
    stream, n_files = _multi_batch_feed(
        spark, sf_dir, "documents",
        [("corpus", F.col("doc_id") % 10 != 3),
         ("arriving", F.col("doc_id") % 10 == 3)],
    )
    lang_map = _lt(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("base_id"), "lang"
    )
    # Cross-batch state: the standing digest index and the corpus-side
    # replay rows the bootstrap batch contributes to the daily batch.
    state: dict = {"index": None, "replays": None}
    out_rows: list = []
    n_batches = [0]

    def handle(batch_df, _bid):
        from sparkml_spark.operators.llm_dedup import _DUP_OFFSET

        n_batches[0] += 1
        d = batch_df.select("doc_id", "text")
        if n_batches[0] == 1:
            # Index-bootstrap batch (the corpus file arrives first —
            # mtime-ordered feed). Build the standing digest index and
            # stage the corpus replay rows for the daily batch.
            if d.filter(F.col("doc_id") % 10 == 3).limit(1).count() > 0:
                raise RuntimeError(
                    "stream_incremental_refresh: first micro-batch "
                    "contains arriving-day rows — the feed's mtime "
                    "ordering did not deliver the corpus file first"
                )
            state["index"] = chain.step(d.select(_norm().alias("h")))
            state["replays"] = chain.step(
                d.filter(F.col("doc_id") % 20 == 0)
                .select((F.col("doc_id") + _DUP_OFFSET).alias("doc_id"), "text")
            )
            return
        # Daily-append batch: assemble the arriving day (new docs +
        # staged corpus replays + the day's own replay seeds) and run
        # the shared chain against the STANDING index from batch 1.
        incr = d.unionByName(state["replays"]).unionByName(
            d.filter(F.col("doc_id") % 50 == 3).select(
                (F.col("doc_id") + 2 * _DUP_OFFSET).alias("doc_id"), "text"
            )
        )
        out_rows.extend(
            refresh_manifest_incr(
                incr, state["index"], lang_map, ckpt=chain.step
            ).collect()
        )

    q = (
        stream.writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # The manifest was COLLECTED inside the handler (out_rows), so
    # every carried checkpoint block and the feed's table copy are
    # dead — free them now (ADVICE r12) rather than at session end.
    chain.close()
    _reap_feed_dirs()
    if n_batches[0] != n_files:
        raise RuntimeError(
            f"stream_incremental_refresh: feed delivered {n_batches[0]} "
            f"micro-batches, contract requires the split's {n_files} "
            "(index bootstrap and daily append must be separate batches)"
        )
    return spark.createDataFrame(
        [(r["doc_id"], r["lang"], r["shard"], r["n_tokens"], r["bin_id"]) for r in out_rows],
        "doc_id long, lang string, shard long, n_tokens long, bin_id long",
    )


from sparkml_spark import registry as _registry2  # noqa: E402

def _wire_stream_refresh_oracle():
    # Import the batch twin's module first so its oracle registration
    # (subword.py bottom) has run even when this module is imported
    # standalone; subword never imports streaming, so no cycle.
    import sparkml_spark.functions.subword  # noqa: F401
    from sparkml_spark.registry import ORACLES as _O

    if "pipeline_incremental_refresh" not in _O:
        # Happens only when a caller enters the package through
        # functions.subword directly: its module body is mid-flight
        # (oracle registration at the bottom not yet reached) when the
        # operators package pulls this module in, so the bare KeyError
        # is misleading. The supported entry point is
        # `import sparkml_spark.operators`.
        raise ImportError(
            "stream_incremental_refresh oracle wiring ran before "
            "functions.subword finished initializing — import "
            "sparkml_spark.operators (the package entry point) instead "
            "of sparkml_spark.functions.subword directly"
        )
    _O["stream_incremental_refresh"] = _O["pipeline_incremental_refresh"]
    _registry2.META["stream_incremental_refresh"]["tier"] = "ORACLE"

_wire_stream_refresh_oracle()


# ---------------------------------------------------------------------------
# stream_ab_monitor (round 11) — the experiment readout as a stream
# ---------------------------------------------------------------------------

@query("stream_ab_monitor", section="2.K", oracle=None)
def stream_ab_monitor(spark, sf_dir):
    """events_ab_test_ztest executed as a Structured Streaming job
    over a MULTI-micro-batch feed (round 12 — the >1-batch
    cross-batch-state contract): the events feed replays as TWO
    micro-batches split by event_id parity, so a user's events are
    deliberately SCATTERED across batches. foreachBatch carries the
    MERGEABLE half of the shared chain as state — the per-user
    conversion flag (ab_user_converted), whose cross-batch merge is
    max(), so partials over any batch decomposition fold to the
    one-shot value — and the non-mergeable tail (arm assignment +
    two-proportion z, ab_ztest_finalize) runs once over the final
    state. The streamed readout therefore hash-matches the batch
    twin's DuckDB oracle exactly while the feed is genuinely 2
    micro-batches (asserted). This partial/finalize split is the
    production monitor: each poll merges a batch-sized partial into
    the experiment's lakehouse state table and re-emits the readout.

    Scale: state is user-count-sized (never collected; carried via
    localCheckpoint, in production a MERGE target); per batch one
    user-keyed partial agg over the ARRIVING rows + one equi merge;
    the finalize is a 2-row fold."""
    from sparkml_spark.operators.funnels import ab_user_converted, ab_ztest_finalize
    from sparkml_spark.session import CheckpointChain

    chain = CheckpointChain(spark)
    stream, n_files = _multi_batch_feed(
        spark, sf_dir, "events",
        [("even", F.col("event_id") % 2 == 0),
         ("odd", F.col("event_id") % 2 == 1)],
    )
    state: list = [None]
    n_batches = [0]

    def handle(batch_df, _bid):
        n_batches[0] += 1
        partial = ab_user_converted(batch_df)
        s = state[0]
        if s is None:
            merged = partial
        else:
            merged = (
                s.withColumnRenamed("converted", "c_prev")
                .join(partial.withColumnRenamed("converted", "c_new"),
                      "user_id", "full_outer")
                .select(
                    "user_id",
                    F.greatest(
                        F.coalesce(F.col("c_prev"), F.lit(0)),
                        F.coalesce(F.col("c_new"), F.lit(0)),
                    ).alias("converted"),
                )
            )
        # step() materializes `merged` (which read the previous
        # state), so the superseded generation is reapable right away.
        state[0] = chain.step(merged)
        chain.reap()

    q = stream.writeStream.foreachBatch(handle).trigger(availableNow=True).start()
    q.awaitTermination()
    if n_batches[0] != n_files:
        raise RuntimeError(
            f"stream_ab_monitor: feed delivered {n_batches[0]} micro-batches, "
            f"contract requires the split's {n_files} (state carry untested "
            "on a coalesced feed)"
        )
    # The readout is a 1-row global fold — land it driver-side so the
    # final user-count-sized state block and the feed's table copies
    # can be freed NOW (ADVICE r12) instead of living until session
    # end. createDataFrame with the explicit schema keeps the oracle's
    # column types byte-identical.
    readout = ab_ztest_finalize(state[0])
    rows, schema = readout.collect(), readout.schema
    chain.close()
    _reap_feed_dirs()
    return spark.createDataFrame(rows, schema)


def _wire_stream_ab_oracle():
    import sparkml_spark.operators.funnels  # noqa: F401
    from sparkml_spark.registry import META as _M
    from sparkml_spark.registry import ORACLES as _O

    _O["stream_ab_monitor"] = _O["events_ab_test_ztest"]
    _M["stream_ab_monitor"]["tier"] = "ORACLE"


_wire_stream_ab_oracle()


# ---------------------------------------------------------------------------
# stream_cdc_apply (round 11) — CDC compaction as a stream
# ---------------------------------------------------------------------------

@query("stream_cdc_apply", section="2.K", oracle=None)
def stream_cdc_apply(spark, sf_dir):
    """op_cdc_apply_ordered executed as a Structured Streaming job
    over a MULTI-micro-batch change feed (round 12 — the >1-batch
    cross-batch-state contract): the change stream replays as TWO
    micro-batches split by event_id PARITY, i.e. deliberately
    INTERLEAVED in sequence number — each batch carries changes both
    newer and older than the other batch's, the poll-order-vs-
    commit-order skew a real CDC consumer faces. foreachBatch carries
    the merged table as evolving state with the standard CDC metadata
    columns (last applied seq, origin-in-snapshot, tombstone): each
    batch reduces ITS changes to per-key max-seq and merges
    last-writer-wins BY SEQ against the state, so a stale change
    arriving in a later micro-batch can never clobber a newer applied
    one, and a tombstoned key re-inserted by a newer change
    resurrects. Because the merge is seq-aware, the final state after
    ANY batch decomposition equals the one-shot application — the
    batch twin's DuckDB oracle (op_cdc_apply_ordered) stays the exact
    hash pin while the feed is genuinely 2 micro-batches (asserted).

    Scale: state is the lakehouse merge table (never collected; the
    cross-batch carry is localCheckpoint, in production a Delta/
    Iceberg MERGE target); per batch one key-partitioned rank window
    over the ARRIVING changes only + one equi merge — the standard
    CDC-compaction plan (shared cdc_state_init/cdc_merge_step/
    cdc_finalize, reshape.py; the any-split convergence is ALSO
    property-tested over random decompositions in
    tests/test_properties.py). Tombstones retain (key, seq) so the
    state table is snapshot+churn sized, compacted by retention
    policy."""
    from sparkml_spark.operators.reshape import (
        cdc_finalize,
        cdc_merge_step,
        cdc_state_init,
    )
    from sparkml_spark.session import CheckpointChain
    from sparkml_spark.sources.loader import load_table as _lt

    chain = CheckpointChain(spark)
    stream, n_files = _multi_batch_feed(
        spark, sf_dir, "events",
        [("even", F.col("event_id") % 2 == 0),
         ("odd", F.col("event_id") % 2 == 1)],
    )
    snapshot = _lt(spark, sf_dir, "documents")
    state = [chain.step(cdc_state_init(snapshot))]
    n_batches = [0]

    def handle(batch_df, _bid):
        n_batches[0] += 1
        # step() materializes the merge (which read the previous
        # state), so the superseded snapshot-sized generation is
        # reapable immediately (ADVICE r12 — previously every batch
        # pinned one more table-sized checkpoint block for the
        # session's lifetime).
        state[0] = chain.step(cdc_merge_step(state[0], batch_df))
        chain.reap()

    q = stream.writeStream.foreachBatch(handle).trigger(availableNow=True).start()
    q.awaitTermination()
    _reap_feed_dirs()
    if n_batches[0] != n_files:
        raise RuntimeError(
            f"stream_cdc_apply: feed delivered {n_batches[0]} micro-batches, "
            f"contract requires the split's {n_files} (state carry untested "
            "on a coalesced feed)"
        )
    # The FINAL state block stays pinned: cdc_finalize's result is
    # table-sized and returned lazily over it (collecting it here to
    # free the block would be the driver-side-materialization
    # anti-pattern). The chain registered it when step() pinned it, so
    # the sweep-boundary reaper frees it once the result is consumed.
    return cdc_finalize(state[0])


def _wire_stream_cdc_oracle():
    import sparkml_spark.operators.reshape  # noqa: F401
    from sparkml_spark.registry import META as _M2
    from sparkml_spark.registry import ORACLES as _O2

    _O2["stream_cdc_apply"] = _O2["op_cdc_apply_ordered"]
    _M2["stream_cdc_apply"]["tier"] = "ORACLE"


_wire_stream_cdc_oracle()
