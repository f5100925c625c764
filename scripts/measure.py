"""The one clock of `scripts/` and `bench.py`.

Every timed DataFrame execution goes through `execute`, which runs a new
QueryExecution each time. Collecting a DataFrame that was already
executed re-runs its old physical plan: AQE serves the finished shuffle
stages from the first run and only the last stage runs, so the time
leaves out the scan and every map side. `df.select("*")` is a new
Dataset over the same logical plan and is planned again, so all of its
stages run (`tests/test_measure.py` counts them). A noop write plans a
new command each time.

`warm_runs` is the repeat protocol: one untimed warm-up (JIT, codegen,
file listing), then `REPS` timed runs. The first timed run is the
"warm second execution" of BASELINE.md; the minimum is the steady
number. `timed` times one call of anything else: a plan build, a
training loop, a DuckDB query.
"""

from __future__ import annotations

import time

#: Timed runs after the warm-up in `warm_runs`.
REPS = 3


def execute(df, sink: str = "collect"):
    """Run every stage of `df` again. sink='collect' returns the rows
    (result rows cross to the driver); sink='noop' writes them to
    Spark's noop source on the executors and returns None."""
    if sink == "noop":
        df.write.format("noop").mode("overwrite").save()
        return None
    return df.select("*").collect()


def timed(run):
    """(result, seconds) of one call of `run`."""
    t0 = time.perf_counter()
    out = run()
    return out, time.perf_counter() - t0


def warm_runs(target, sink: str = "collect") -> list[float]:
    """Seconds of `REPS` runs of `target` after one untimed warm-up.
    `target` is a DataFrame, run through `execute(target, sink)`, or a
    callable, called as it is."""
    run = target if callable(target) else (lambda: execute(target, sink))
    run()
    return [timed(run)[1] for _ in range(REPS)]
