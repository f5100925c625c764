"""Cross-round bench regression gate (VERDICT r7 #4, reworked per
VERDICT r9 #1 into a structural A/B control).

Runs bench.py once and passes its output through untouched. bench.py
itself times fresh plans (scripts/measure.py, every stage runs) of HEAD
and of the commit the change sits on (HEAD while the engine has
uncommitted changes, HEAD^ once they are committed; a `git archive`
export), each in its own worker JVMs, INTERLEAVED query-by-query in
the same wall-clock session — the `ab` field of its JSON line, whose
`ratio` is the median of adjacent head/prev pairs. This gate fails
when any query's ratio exceeds 1.25 AND the median delta exceeds 30 ms, so
it sees one change's regression instead of the sum of every change
since the last committed round. The ratio against that round
(`ab.round`) is printed, not gated.

Why ratio, not absolute seconds: round 9's suite ran +53% over round
8 purely on a machine-level shift, and the old 1.5x/+150 ms absolute
gate let a real-looking 2.8x move (q_regional_join5, +104 ms) pass
unattributed under the same "environment band" narrative. Interleaved
measurement makes the environment hit both series identically, so
the ratio isolates code. The 30 ms delta floor only absorbs
single-task scheduler jitter on ~50 ms queries; it is 5x tighter than
the slack that masked the r9 move.

Fallback: if the A/B control is unavailable (no git history, no
prior BENCH file), fall back to the old absolute comparison of the
re-collect `queries` against the latest committed BENCH_r{N}.json
(1.5x AND +150 ms) with a warning — weaker (last stages only, and
environment drift uncontrolled), but round-1/export still gets a gate.

Usage: python scripts/bench_gate.py   (exit 1 on regression)
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys

AB_RATIO_TOL = 1.25
AB_DELTA_S = 0.030
REL_TOL = 1.5  # fallback mode only
ABS_TOL_S = 0.150  # fallback mode only

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _latest_committed_bench() -> tuple[str, dict] | tuple[None, None]:
    rounds = []
    for path in glob.glob(os.path.join(_HERE, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if m:
            rounds.append((int(m.group(1)), path))
    for _, path in sorted(rounds, reverse=True):
        with open(path) as f:
            rec = json.load(f)
        parsed = rec.get("parsed") or {}
        if parsed.get("queries"):
            return path, parsed
    return None, None


def main() -> int:
    proc = subprocess.run(
        [sys.executable, os.path.join(_HERE, "bench.py")],
        capture_output=True,
        text=True,
        timeout=1800,
    )
    sys.stdout.write(proc.stdout)
    sys.stderr.write(proc.stderr)
    if proc.returncode != 0:
        print(f"bench_gate: bench.py exited {proc.returncode}")
        return proc.returncode
    cur = None
    for line in proc.stdout.splitlines():
        line = line.strip()
        if line.startswith('{"metric"'):
            cur = json.loads(line)
    if cur is None:
        print("bench_gate: no JSON metric line in bench output")
        return 1

    ab = cur.get("ab")
    if ab and ab.get("ratio"):
        failures = []
        for q, ratio in ab["ratio"].items():
            delta = ab["head"][q] - ab["prev"][q]
            if ratio > AB_RATIO_TOL and delta > AB_DELTA_S:
                failures.append(
                    f"{q}: head {ab['head'][q]:.3f}s vs prev {ab['prev'][q]:.3f}s "
                    f"interleaved (ratio {ratio:.2f} > {AB_RATIO_TOL}, "
                    f"delta +{delta * 1000:.0f}ms)"
                )
        missing = set(cur["queries"]) - set(ab["ratio"])
        base = f"{ab['prev_ref']} @ {ab['prev_commit'][:12]}"
        rnd = ab.get("round")
        if rnd and rnd.get("ratio"):
            print(
                f"bench_gate: vs {rnd['bench']} @ {rnd['commit'][:12]} (not gated): "
                f"worst head/prev ratio {max(rnd['ratio'].values()):.2f}"
            )
        if failures:
            print(f"bench_gate: A/B REGRESSION vs {base}:")
            for f_ in failures:
                print(f"  {f_}")
            return 1
        worst = max(ab["ratio"].values())
        note = f" (new queries without a prev series: {sorted(missing)})" if missing else ""
        print(
            f"bench_gate: A/B control vs {base} — worst head/prev ratio "
            f"{worst:.2f} <= {AB_RATIO_TOL}{note}"
        )
        return 0

    # ---- fallback: absolute comparison against last committed round ----
    print(
        "bench_gate: WARNING — A/B control unavailable, falling back to "
        "absolute comparison (weaker: environment drift not controlled)"
    )
    path, prev = _latest_committed_bench()
    if prev is None:
        print("bench_gate: no committed BENCH_r*.json to compare against — pass")
        return 0
    failures = []
    for q, prev_s in prev["queries"].items():
        cur_s = cur["queries"].get(q)
        if cur_s is None:
            failures.append(f"{q}: present in {os.path.basename(path)} but missing now")
        elif cur_s > prev_s * REL_TOL and cur_s > prev_s + ABS_TOL_S:
            failures.append(
                f"{q}: steady {cur_s:.3f}s vs {prev_s:.3f}s last round "
                f"(>{REL_TOL}x and >+{ABS_TOL_S * 1000:.0f}ms)"
            )
    if failures:
        print(f"bench_gate: STEADY REGRESSION vs {os.path.basename(path)}:")
        for f_ in failures:
            print(f"  {f_}")
        return 1
    print(
        f"bench_gate: steady suite {cur['value']:.3f}s vs "
        f"{prev['value']:.3f}s in {os.path.basename(path)} — within tolerance"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
