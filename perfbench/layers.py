"""Per-layer measurement from outside the program.

Nothing here changes the engine. Layer numbers come from timing calls
into public functions and from what Spark already records: the status
tracker (jobs, stages, tasks per job group), each execution's
QueryExecution (Catalyst phase times, the SQL metrics of the final
adaptive plan) and the JVM-wide codegen counter.
"""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict

#: Python-runner nodes report these (PythonSQLMetrics).
_PYTHON_METRICS = {
    "pythonTotalTime": "python.total_ms",
    "pythonBootTime": "python.boot_ms",
    "pythonDataSent": "python.bytes_sent",
    "pythonDataReceived": "python.bytes_received",
}
_EXEC_METRICS = {
    "aggTime": "exec.agg_ms",
    "pipelineTime": "exec.pipeline_ms",
    "shuffleBytesWritten": "exec.shuffle_write_bytes",
    "shuffleWriteTime": "exec.shuffle_write_ms",
    "spillSize": "exec.spill_bytes",
}
#: File scans are the nodes that carry `numFiles`.
_SCAN_METRICS = {
    "scanTime": "sources.scan_ms",
    "numFiles": "sources.files_read",
    "filesSize": "sources.bytes_read",
    "numOutputRows": "sources.rows_read",
}
_PHASES = {
    "analysis": "catalyst.analysis_ms",
    "optimization": "catalyst.optimization_ms",
    "planning": "catalyst.planning_ms",
}


def _metric_value(metric) -> float:
    """SQLMetric value in the unit its layer name states (ms for times)."""
    value = float(metric.value())
    if metric.metricType() == "nsTiming":
        return value / 1e6
    return value


def _scala_items(scala_map):
    it = scala_map.iterator()
    while it.hasNext():
        pair = it.next()
        yield pair._1(), pair._2()


def plan_metrics(jdf) -> dict[str, float]:
    """Sum the SQL metrics of interest over the executed plan of `jdf`.

    Walks through the final adaptive plan into every query stage and
    subquery. Reused exchanges are skipped: their metrics belong to the
    exchange they reuse, which the walk already counts. `plan_stages`
    counts the query stages of the final adaptive plan: the stages a
    fresh execution runs."""
    out: dict[str, float] = defaultdict(float)
    stack = [jdf.queryExecution().executedPlan()]
    seen = set()
    while stack:
        node = stack.pop()
        if node.id() in seen:
            continue
        seen.add(node.id())
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if name.startswith("Reused"):
            continue
        if name.endswith("QueryStage"):
            out["plan_stages"] += 1
            stack.append(node.plan())
            continue
        metrics = dict(_scala_items(node.metrics()))
        table = _SCAN_METRICS if "numFiles" in metrics else {**_EXEC_METRICS, **_PYTHON_METRICS}
        for key, layer in table.items():
            if key in metrics:
                out[layer] += _metric_value(metrics[key])
        for seq in (node.children(), node.subqueries()):
            it = seq.iterator()
            while it.hasNext():
                stack.append(it.next())
    return out


def catalyst_phases(jdf) -> dict[str, float]:
    phases = jdf.queryExecution().tracker().phases()
    out = {}
    for phase, layer in _PHASES.items():
        opt = phases.get(phase)
        out[layer] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


class ArtifactCounter:
    """Counts `sparkml_spark.session.session_artifact` lookups and builds.

    Every caller imports `session_artifact` at call time, so replacing
    the module attribute sees every lookup without touching the engine.
    Build time is counted for the outermost build only, so an artifact
    built inside another is not counted twice."""

    def __init__(self) -> None:
        self.lookups = 0
        self.builds = 0
        self.build_s = 0.0
        self._depth = 0

    def install(self) -> None:
        import sparkml_spark.session as session

        original = session.session_artifact

        def counted(spark, key, build):
            self.lookups += 1

            def timed_build():
                self.builds += 1
                self._depth += 1
                t0 = time.perf_counter()
                try:
                    return build()
                finally:
                    self._depth -= 1
                    if self._depth == 0:
                        self.build_s += time.perf_counter() - t0

            return original(spark, key, timed_build)

        session.session_artifact = counted

    def snapshot(self) -> tuple[int, int, float]:
        return self.lookups, self.builds, self.build_s


class QueryTrace:
    """Layer numbers of one query execution, read after it completes.

    `build_group` and `exec_group` are the job groups the harness set
    around the build call and the execution; `run_stages` holds the
    stage ids that already ran in this SparkContext. A stage of the final
    plan that this execution did not run was served from output an
    earlier execution left behind, and counts as skipped."""

    def __init__(self, sc, run_stages: set) -> None:
        self._sc = sc
        self._run_stages = run_stages
        jvm = sc._jvm
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self.compiles0 = self._codegen.getCount()

    def finish(self, build_group: str, exec_group: str, jdf) -> dict[str, float]:
        sc = self._sc
        # Job and stage ends reach the status store through the listener
        # bus; drain it so the tracker has this execution's final counts.
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = sc.statusTracker()
        out: dict[str, float] = defaultdict(float)
        out["codegen.compiles"] = float(self._codegen.getCount() - self.compiles0)
        out["operators.build_jobs"] = float(len(st.getJobIdsForGroup(build_group)))
        for jid in st.getJobIdsForGroup(build_group):
            self._run_stages.update(_ran(st, jid))
        exec_jobs = st.getJobIdsForGroup(exec_group)
        out["exec.jobs"] = float(len(exec_jobs))
        ran = set()
        for jid in exec_jobs:
            ran.update(_ran(st, jid))
        ran -= self._run_stages
        self._run_stages.update(ran)
        out["exec.stages_run"] = float(len(ran))
        out["exec.tasks"] = float(sum(st.getStageInfo(s).numCompletedTasks for s in ran))
        out.update(catalyst_phases(jdf))
        for layer, value in plan_metrics(jdf).items():
            out[layer] += value
        out["exec.stages_skipped"] = max(0.0, out.pop("plan_stages", 0.0) - len(ran))
        return out


def _ran(st, jid) -> set:
    """Stage ids of job `jid` that completed at least one task."""
    info = st.getJobInfo(jid)
    if info is None:
        return set()
    out = set()
    for sid in info.stageIds:
        stage = st.getStageInfo(sid)
        if stage is not None and stage.numCompletedTasks > 0:
            out.add(sid)
    return out


class RssSampler:
    """Peak resident memory of this process and every process below it
    (the driver JVM and its Python workers), sampled every 0.2 s."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.peak_bytes = 0
        self.seen_pids: set[int] = set()
        self._interval = interval_s
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self._interval)

    def descendants(self) -> list[int]:
        parent = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            # The command name may hold spaces; fields resume after ')'.
            parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
        tree, frontier = [], [os.getpid()]
        while frontier:
            pid = frontier.pop()
            tree.append(pid)
            frontier.extend(c for c, p in parent.items() if p == pid)
        return tree

    def sample(self) -> None:
        total = 0
        for pid in self.descendants():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
            if pid != os.getpid():
                self.seen_pids.add(pid)
        self.peak_bytes = max(self.peak_bytes, total)
