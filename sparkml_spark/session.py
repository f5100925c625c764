"""SparkSession construction + the engine's required SQL confs.

Two paths:
- `get_spark()` — build our own session (tests, bench.py).
- `ensure_confs(spark)` — the driver hands us ITS session for
  `entry()`/`queries()`; all confs the engine depends on are
  runtime-settable SQL confs, so we (re)apply them on every loader
  call instead of trusting the builder.

Scale note: these confs are the local[32] test profile. On a real
cluster the same code runs unchanged; only `shuffle.partitions` (or
better, AQE's coalesce with a high initial partition number) and
executor sizing move. Nothing here hard-codes a single-node assumption.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.storagelevel import StorageLevel

#: SQL confs the engine REQUIRES for correctness (SURVEY.md §7.4).
REQUIRED_SQL_CONFS: dict[str, str] = {
    # events.ts is Parquet TIMESTAMP(NANOS); without this flag the scan
    # throws [PARQUET_TYPE_ILLEGAL]. Column then loads as bigint nanos
    # and the loader repairs it (sources/loader.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Pin the session TZ so timestamp repair / date_trunc hash-match the
    # DuckDB oracle regardless of runner TZ.
    "spark.sql.session.timeZone": "UTC",
}

#: Performance confs (safe defaults at any scale; SURVEY.md §7.5).
PERF_SQL_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # 200 default wastes ~1 s/query at local bench scale; AQE coalesces
    # down from this anyway. On a 1000-executor cluster raise it (AQE's
    # initialPartitionNum is the better knob there).
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    # Arrow for the pandas-UDF escape hatches and toPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Case-map non-ASCII strings in the JVM, not through ICU. The first
    # lower() in a JVM loads ICU's case data: a count(lower(text)) stage
    # at sf0.001 took 1.68-1.94 s with ICU and 0.06-0.09 s without
    # (4 cores, fresh JVM).
    # Without ICU, UTF8String keeps its ASCII fast path and maps other
    # strings with String.toLowerCase()/toUpperCase() in the JVM's
    # default locale (UTF8String.toLowerCaseSlow, read with javap). Every
    # string column of the fixtures is pure ASCII, and lower/upper agree
    # on both paths for non-ASCII too; initcap does not, and no query
    # applies it (tests/test_case_mapping.py).
    "spark.sql.icu.caseMappings.enabled": "false",
}


@dataclass
class ContextState:
    """Everything the engine keeps for one SparkContext. PySpark runs
    one SparkContext per process, so when `applicationId` changes the
    old context is stopped and its state is replaced whole: nothing it
    held can be freed or served any more."""

    app_id: str | None
    confs_applied: bool = False
    #: (sf_dir, table) -> the loader's repaired, lazy DataFrame
    tables: dict = field(default_factory=dict)
    #: `session_artifact` key -> memoized artifact
    artifacts: dict = field(default_factory=dict)
    #: checkpoint's block-owning RDD id | cached DataFrame
    pinned: list = field(default_factory=list)


_STATE = ContextState(None)
#: foreachBatch handlers pin blocks on Spark's callback thread.
_STATE_LOCK = threading.RLock()


def context_state(spark: SparkSession) -> ContextState:
    """The live SparkContext's state, replaced whole on a new applicationId."""
    global _STATE
    app_id = spark.sparkContext.applicationId
    with _STATE_LOCK:
        if _STATE.app_id != app_id:
            _STATE = ContextState(app_id)
        return _STATE


def ensure_confs(spark: SparkSession) -> SparkSession:
    """Apply required (and best-effort perf) confs to a live session.

    All keys above are runtime-settable SQL confs, so this works on a
    driver-provided session too. Applied once per SparkContext — the
    loader calls this on every table load, and each conf.set is a Py4J
    round trip we don't want 1000s of.
    """
    state = context_state(spark)
    if state.confs_applied:
        return spark
    for k, v in REQUIRED_SQL_CONFS.items():
        spark.conf.set(k, v)
    for k, v in PERF_SQL_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # perf conf locked by the host — correctness unaffected
    state.confs_applied = True
    return spark


def get_spark(app_name: str = "sparkml_spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's confs."""
    active = SparkSession.getActiveSession()
    if active is not None:
        return ensure_confs(active)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in {**REQUIRED_SQL_CONFS, **PERF_SQL_CONFS}.items():
        builder = builder.config(k, v)
    # Builder-time-only knob (JVM heap can't change after start): the
    # 10x/30x scale-up stress harness needs more than the 1g default.
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem:
        builder = builder.config("spark.driver.memory", mem)
    # Quieter driver logs; harmless if log4j overrides.
    builder = builder.config("spark.ui.enabled", "false")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return ensure_confs(spark)


#: On-disk artifacts (partitioned layouts, index and model dirs) live
#: beside the package, in the checkout that runs it.
ARTIFACTS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".artifacts"
)


def artifact_path(name: str, sf_dir: str) -> str:
    """Path of an artifact written from `sf_dir`'s tables, keyed by the
    scale, so builds at two scales in one checkout never share files."""
    os.makedirs(ARTIFACTS_DIR, exist_ok=True)
    return os.path.join(ARTIFACTS_DIR, f"{name}_{os.path.basename(sf_dir.rstrip('/'))}")


# ---------------------------------------------------------------------------
# Session-scoped artifact sharing. Sibling queries (a base query and the
# *_bound pin that audits it) need the same DETERMINISTIC artifacts:
# seeded MLlib fits and the on-disk index paths written from them.
# `session_artifact` builds each once per SparkContext. Only
# deterministic artifacts belong here: the memoized object equals the
# rebuild it replaces, so no output depends on which sibling ran first.
#
# - Artifacts live in the live context's `ContextState`, so a fresh
#   process or session always rebuilds them from the parquet inputs.
# - Fitted models go through `operators/ml.py::_shared_fit`, whose key
#   is derived from the inputs: the estimator's class and param map plus
#   the training frame's analyzed-plan semanticHash, checked with
#   sameResult on every hit. A builder that drifts gets a refit, never
#   a model fit on other data.
# - A memo entry can own blocks for the session's life that no registry
#   holds and no reap frees: a DistributedLDAModel keeps its GraphX
#   graph and an ALS model its userFactors/itemFactors RDDs
#   (tests/test_reaper.py checks these are the only blocks standing).
# - The two on-disk path memos (IVF index, LSH model) keep explicit keys
#   of (artifact name, realpath(sf_dir)): their builders write files,
#   which no plan describes.
# ---------------------------------------------------------------------------

def session_artifact(spark: SparkSession, key: tuple, build):
    """Return the live context's artifact for `key`, building it with
    `build()` on first use in this session."""
    memo = context_state(spark).artifacts
    if key not in memo:
        memo[key] = build()
    return memo[key]


# ---------------------------------------------------------------------------
# Pinned blocks and sweep-boundary reaping.
#
# The lifetime rule: only this module pins blocks. `cache(df)`,
# `checkpoint(df)` and `CheckpointChain.step` register each block when
# they pin it, so every pinned block can be freed by `reap_registered`
# and no caller has to remember to register anything
# (tests/test_reaper.py fails on a `.cache(`, `.persist(` or
# `.localCheckpoint(` call anywhere else in the package).
#
# A checkpoint is registered by the id of the one RDD that owns its
# blocks, read from the checkpointed frame's `LogicalRDD`. Nothing is
# inferred from which RDDs happen to be persistent, so a reap cannot
# free a block that another query or thread pinned. Only the id is
# kept, not the frame, so for a driver that never reaps the
# ContextCleaner still frees the block once the frame is
# garbage-collected (`DataFrame.unpersist()` is a silent no-op for
# checkpoint blocks). A cache is registered as its DataFrame and
# unpersisted through the cache manager.
#
# Safety: a reaped checkpoint cannot recompute (localCheckpoint
# truncates lineage), so `reap_registered` may only run once no
# registered frame will be executed again. Sweep harnesses that control
# execution order (driver_sim, op_timing_census, perfbench) call it
# after fully consuming each query's result, holding the standing
# count at O(1); a driver that interleaves builds and executions never
# reaps and keeps the GC backstop.
# ---------------------------------------------------------------------------

def _pin(df, entry):
    """Register `entry` in `df`'s context state and return `df`."""
    with _STATE_LOCK:
        context_state(df.sparkSession).pinned.append(entry)
    return df


def _block_rdd_id(df) -> int:
    """Id of the RDD that owns a checkpointed frame's blocks: the
    analyzed plan of a localCheckpoint (eager or lazy, at any storage
    level) is the `LogicalRDD` wrapping it."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.nodeName() != "LogicalRDD":
        raise TypeError(f"not a checkpointed frame: analyzed plan is {plan.nodeName()}")
    return int(plan.rdd().id())


def _free_rdds(sc, rids) -> int:
    """Unpersist each id's RDD that is still persistent; return how
    many were."""
    jmap = sc._jsc.getPersistentRDDs()
    n = 0
    for rid in rids:
        jrdd = jmap.get(rid)
        if jrdd is not None:
            jrdd.unpersist(False)
            n += 1
    return n


def cache(df):
    """`df.cache()`, registered for the sweep-boundary reaper. A cache
    can always recompute, so freeing it is safe at any query boundary;
    the registration makes the free deterministic instead of never."""
    return _pin(df.cache(), df)


def checkpoint(df):
    """Lazy DISK_ONLY local checkpoint of a multi-consumer intermediate,
    registered for the sweep-boundary reaper. It materializes at the
    first action (plan construction stays action-free) and truncates
    lineage. Memory levels put the whole materialized stream on the
    executor heap, which at ×100 fixture scale (≈45M shingle rows)
    drove the JVM into GCLocker allocation storms on a default-memory
    driver; DISK_ONLY gives the checkpoint the same I/O profile as a
    shuffle write — linear, off-heap, spill-free — at the cost of
    re-reading from local disk, which is exactly what every shuffle
    consumer does anyway.

    Fault-tolerance caveat: localCheckpoint TRUNCATES lineage into
    executor-local blocks — on a real cluster, losing any executor
    that holds blocks (crash, spot preemption, or a dynamic-allocation
    decommission) makes the checkpointed stream unrecoverable and
    fails the query, because the cut lineage can't recompute them.
    Fine on local[k] and on static on-demand clusters; production
    100 TB runs should use a RELIABLE checkpoint dir (spark.checkpoint
    after setCheckpointDir on HDFS/object storage) or persist +
    shuffle-reuse instead, and must disable executor decommissioning
    of storage blocks."""
    out = df.localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    return _pin(out, _block_rdd_id(out))


def reap_registered(spark: SparkSession) -> int:
    """Free every block registered for the live session and clear the
    registry. Returns the number of checkpoint RDDs actually freed plus
    the number of registered caches. ONLY call between queries, after
    the previous query's result is fully consumed (see the comment
    above)."""
    with _STATE_LOCK:
        state = context_state(spark)
        mine, state.pinned = state.pinned, []
    n = _free_rdds(spark.sparkContext, [e for e in mine if isinstance(e, int)])
    for df in mine:
        if not isinstance(df, int):
            df.unpersist(False)
            n += 1
    return n


def persistent_rdd_count(spark: SparkSession) -> int:
    """Current number of persistent RDDs in the live context — the
    standing-block metric VERIFY_r14 records around sweeps."""
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


class CheckpointChain:
    """Checkpoint hygiene for iterative DataFrame algorithms.

    localCheckpoint storage lives in the RDD registry, NOT the cache
    manager, so `DataFrame.unpersist()` on a superseded iteration is a
    silent no-op and every iteration pins one state-sized RDD forever
    (measured: the BPE trainer held 13 RDDs after 12 merges; the CC
    loop pins one NODE-sized set per round). The fix is the ALS/GraphX
    pattern: materialize the new checkpoint, then free the superseded
    blocks by their RDD id.

    Usage:
        chain = CheckpointChain(spark)
        state = chain.step(initial_state_df)      # checkpoint + record
        for ...:
            new = chain.step(f(state))            # checkpoint + record
            ... last read of `state` ...          # e.g. convergence diff
            chain.reap()                          # free all but `new`
            state = new
        chain.close()     # free everything — ONLY if `state` is done;
                          # skip when the caller consumes the result.

    reap() is separate from step() because freeing is only safe after
    the LAST read of the superseded frame: checkpointing truncates
    lineage, so an unpersisted checkpoint cannot be recomputed — a
    read-after-free is a job failure, not a slowdown. Every generation
    is also registered with the sweep-boundary reaper as it is created,
    so a final state that outlives the query (the returned frame reads
    it) is freed by `reap_registered`.
    """

    def __init__(self, spark: SparkSession) -> None:
        self._sc = spark.sparkContext
        self._generations: list[int] = []

    def step(self, df):
        """Eagerly localCheckpoint `df`, recording the one RDD that owns
        its blocks as the newest generation. Does NOT free anything —
        call reap()."""
        out = df.localCheckpoint(eager=True)
        rid = _block_rdd_id(out)
        self._generations.append(rid)
        return _pin(out, rid)

    def reap(self, keep: int = 1) -> None:
        """Free every recorded generation except the newest `keep`."""
        stale = self._generations[: max(0, len(self._generations) - keep)]
        _free_rdds(self._sc, stale)
        del self._generations[: len(stale)]

    def close(self) -> None:
        """Free ALL recorded generations (the final state included)."""
        self.reap(keep=0)
