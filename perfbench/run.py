"""Fresh-plan benchmark of the engine's public query surface.

    python3 perfbench/run.py --workload ml_pipeline --seed 1 --seconds 10 --trace 0

Runs one workload (see workloads.py) through
`sparkml_spark.registry.QUERIES[qid](spark, sf_dir)` over the read-only
sf0.1 fixtures: one Python process, one client, queries in sequence.
Every query's DataFrame is built fresh and executed exactly once into
Python (`toPandas`), so every stage of its plan runs. The process starts
the JVM several times to time its set-up; each pass runs in a freshly
started JVM, so no pass is served from artifacts memoized by an earlier
one. The seed only permutes the order of the mix's units within each
pass.

With `--trace 0` the last line reports the end-to-end metrics; with
`--trace 1` every pass is traced and it reports the per-layer metrics,
each the median over passes of its per-pass total. `trace.wall_s` over
an untraced run's `wall_s`, minus 1, is the tracing overhead. Exit code
2 means the program or its fixtures are missing.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from collections import defaultdict  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
CHECK_CACHE = ROOT / ".perfbench_cache"
#: Fixture scale the passes read; the others sit beside it.
SCALE = "sf0.1"
#: Every pass's JVM runs this on the smallest fixtures, untimed, so it
#: has run a job before anything is timed.
SETUP_QUERY = ("agg_groupby_multi", "sf0.001")
#: setup_s is the median of at least this many set-ups, each with its
#: own JVM start.
MIN_SETUPS = 3
#: Nominal time of one pass; with `--seconds` it sets how many passes a
#: run makes, so every run takes the same number of samples.
PASS_S = 15.0
#: A tail percentile needs this many samples beyond it.
TAIL_BEYOND = 10

E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "correct_frac": "fraction",
    "rss_peak_mb": "MB",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "session.artifact_lookups": "count",
    "session.artifact_builds": "count",
    "session.artifact_hit_ratio": "ratio",
    "session.artifact_build_s": "s",
    "session.reaped_rdds": "count",
    "session.standing_rdds": "count",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "codegen.compiles": "count",
    "sources.scan_ms": "ms",
    "sources.files_read": "count",
    "sources.bytes_read": "bytes",
    "sources.rows_read": "rows",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages_run": "count",
    "exec.stages_skipped": "count",
    "exec.tasks": "count",
    "exec.agg_ms": "ms",
    "exec.pipeline_ms": "ms",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_write_ms": "ms",
    "exec.spill_bytes": "bytes",
    "exec.result_rows": "rows",
    "python.total_ms": "ms",
    "python.boot_ms": "ms",
    "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes",
    "trace.wall_s": "s",
}


def sf_dir(scale: str = SCALE) -> str:
    """Fixture directory of `scale`, beside the engine's default one
    (`SPARK_GRAFT_SF_DIR`). Call after `_isolate`."""
    from sparkml_spark.sources.loader import DEFAULT_SF_DIR

    return str(Path(DEFAULT_SF_DIR).parent / scale)


def _missing_program() -> list[str]:
    need = [ROOT / "sparkml_spark" / "registry.py", ROOT / "scripts" / "driver_sim.py"]
    return [str(p) for p in need if not p.exists()]


def _missing_fixtures() -> list[str]:
    need = [Path(sf_dir(scale)) / "lineitem.parquet" for scale in (SCALE, "sf0.001")]
    return [str(p) for p in need if not p.exists()]


def _isolate() -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    the checkout, and pin the clock zone the oracle compare assumes."""
    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "local").mkdir(parents=True)
    os.environ.update(
        TMPDIR=str(WORK),
        SPARK_LOCAL_DIRS=str(WORK / "local"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        TZ="UTC",
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={WORK} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-Djava.io.tmpdir={WORK} -XX:-UsePerfData' "
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={WORK / 'warehouse'} pyspark-shell"
        ),
    )
    time.tzset()
    sys.path[:0] = [str(ROOT), str(ROOT / "scripts")]


def _quantile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile of a non-empty sample."""
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> int:
    """Highest whole percentile with at least TAIL_BEYOND samples of `n`
    beyond it, but never below the median."""
    return max(50, (100 * (n - TAIL_BEYOND)) // n) if n else 50


class Bench:
    def __init__(self, workload, seed: int, seconds: int, trace: bool) -> None:
        from checks import Checker
        from layers import ArtifactCounter

        self.workload = workload
        self.rng = random.Random(seed)
        self.passes = max(1, round(seconds / PASS_S))
        self.trace = trace
        self.checker = Checker(sf_dir(), ROOT / "sparkml_spark", CHECK_CACHE)
        self.artifacts = ArtifactCounter()
        self.artifacts.install()
        self.setups: list[float] = []
        self.session_starts: list[float] = []
        self.latencies: list[float] = []
        self.walls: list[float] = []
        self.layers: list[dict[str, float]] = []
        self.invalid: list[str] = []
        self.attempted = 0

    def _setup(self, registration_s: float):
        """Start a JVM and a session with the engine's confs, after
        stopping the previous JVM: ready to take queries. A sample is
        the time from the JVM launch plus the process's one-off imports
        and operator registration, so it is process start to ready
        without the harness's own start-up."""
        from sparkml_spark.session import get_spark

        if self.setups:
            _stop_jvm()
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        self.session_starts.append(time.perf_counter() - t0)
        spark.sparkContext.setLogLevel("ERROR")
        self.setups.append(self.session_starts[-1] + registration_s)
        print(f"set-up {len(self.setups)}: {self.setups[-1]:.3f} s", flush=True)
        return spark

    def _warm(self, spark) -> None:
        """Untimed: the set-up query and the workload's `warm` queries."""
        from sparkml_spark.registry import QUERIES
        from sparkml_spark.session import reap_registered

        for qid, scale in (SETUP_QUERY, *self.workload.warm):
            QUERIES[qid](spark, sf_dir(scale)).toPandas()
            reap_registered(spark)

    def run(self, registration_s: float) -> None:
        setups = max(MIN_SETUPS, self.passes)
        for i in range(setups):
            spark = self._setup(registration_s)
            index = i - (setups - self.passes)
            if index >= 0:
                self._warm(spark)
                self._pass(spark, index)

    def _pass(self, spark, index: int) -> None:
        from checks import digest
        from layers import QueryTrace
        from sparkml_spark.registry import QUERIES
        from sparkml_spark.session import persistent_rdd_count, reap_registered

        traced = self.trace
        sc = spark.sparkContext
        units = list(self.workload.units)
        self.rng.shuffle(units)
        order = [*self.workload.lead, *(qid for unit in units for qid in unit)]
        layer: dict[str, float] = defaultdict(float)
        art0 = self.artifacts.snapshot()
        run_stages: set = set()
        executed = []  # keeps each executed DataFrame alive: ids stay unique
        wall = 0.0
        for n, qid in enumerate(order):
            self.attempted += 1
            groups = (f"p{index}q{n}-build", f"p{index}q{n}-exec")
            qt = None
            if traced:
                qt = QueryTrace(sc, run_stages)
                sc.setJobGroup(groups[0], qid)
            try:
                t0 = time.perf_counter()
                df = QUERIES[qid](spark, sf_dir())
                t1 = time.perf_counter()
                if traced:
                    sc.setJobGroup(groups[1], qid)
                if any(df is d for d in executed):
                    raise RuntimeError("query function returned an already executed DataFrame")
                executed.append(df)
                t2 = time.perf_counter()
                pdf = df.toPandas()
                t3 = time.perf_counter()
                result = digest(qid, pdf)
            except Exception as exc:  # counted as a failed query
                self.checker.record(qid, exc)
                layer["session.reaped_rdds"] += reap_registered(spark)
                continue
            self.checker.record(qid, result)
            print(
                f"  {qid}: build {t1 - t0:.3f} s, exec {t3 - t2:.3f} s, "
                f"{len(pdf)} rows, hash {result.hash[:10]}",
                flush=True,
            )
            latency = (t1 - t0) + (t3 - t2)
            self.latencies.append(latency)
            wall += latency
            if traced:
                layer["operators.build_s"] += t1 - t0
                layer["exec.s"] += t3 - t2
                layer["exec.result_rows"] += len(pdf)
                for key, value in qt.finish(groups[0], groups[1], df._jdf).items():
                    layer[key] += value
            layer["session.reaped_rdds"] += reap_registered(spark)
        self.walls.append(wall)
        standing = persistent_rdd_count(spark)
        lookups, builds, build_s = (a - b for a, b in zip(self.artifacts.snapshot(), art0))
        print(
            f"pass {index}{' traced' if traced else ''}: wall {wall:.3f} s, "
            f"artifact builds {builds}/{lookups} lookups, "
            f"reaped {int(layer['session.reaped_rdds'])}, standing_rdds {standing}",
            flush=True,
        )
        if lookups and not builds:
            self.invalid.append(f"pass {index} built no session artifact: memo served across passes")
        if traced:
            layer["session.standing_rdds"] = standing
            layer["session.artifact_lookups"] = lookups
            layer["session.artifact_builds"] = builds
            layer["session.artifact_build_s"] = build_s
            layer["session.artifact_hit_ratio"] = 1 - builds / lookups if lookups else 0.0
            self.layers.append(layer)

    def e2e_metrics(self, correct_frac: float, rss_mb: float) -> dict[str, float]:
        n = len(self.latencies)
        pct = tail_percentile(n)
        print(f"query_tail_s is p{pct} of n={n} query latencies", flush=True)
        return {
            "setup_s": statistics.median(self.setups),
            "wall_s": statistics.median(self.walls),
            "query_p50_s": statistics.median(self.latencies),
            "query_tail_s": _quantile(self.latencies, pct),
            "correct_frac": correct_frac,
            "rss_peak_mb": rss_mb,
        }

    def layer_metrics(self) -> dict[str, float]:
        out = {}
        for key in LAYER_UNITS:
            values = [layer.get(key, 0.0) for layer in self.layers]
            out[key] = statistics.median(values)
        out["session.start_s"] = statistics.median(self.session_starts)
        out["trace.wall_s"] = statistics.median(self.walls)
        return out


def _stop_jvm(wait_pids=()) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM and for
    `wait_pids` (its Python workers) to end. The next `get_spark` then
    launches a new JVM."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    if SparkSession._instantiatedSession is not None:
        SparkSession._instantiatedSession.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{pid}") for pid in wait_pids):
        time.sleep(0.1)


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = _missing_program()
    if not missing:
        _isolate()
        missing = _missing_fixtures()
    if missing:
        shutil.rmtree(WORK, ignore_errors=True)
        print(f"perfbench: missing program or fixtures: {', '.join(missing)}", file=sys.stderr)
        return 2
    import sparkml_spark.operators  # noqa: F401  (registers every query)

    registration_s = time.perf_counter() - T_PROCESS
    from layers import RssSampler

    bench = Bench(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace))
    try:
        with RssSampler() as sampler:
            try:
                bench.run(registration_s)
            finally:
                _stop_jvm(sampler.seen_pids)
        failures = bench.checker.failures()
    finally:
        shutil.rmtree(WORK, ignore_errors=True)

    for line in failures + bench.invalid:
        print(f"FAILED {line}", flush=True)
    failed = len(failures)
    attempted = max(bench.attempted, 1)
    correct_frac = 1 - failed / attempted
    print(f"failed_frac {failed / attempted:.4f} fraction ({failed} of {attempted})")
    if args.trace:
        metrics, units = bench.layer_metrics(), LAYER_UNITS
    else:
        metrics, units = bench.e2e_metrics(correct_frac, sampler.peak_bytes / 2**20), E2E_UNITS
    for key, value in metrics.items():
        print(f"{key} {value:.6g} {units[key]}")
    print(
        json.dumps(
            {
                "correct": failed == 0 and not bench.invalid,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
