#!/usr/bin/env bash
# One-shot full verification: internal test suite, the driver's t2
# protocol at every fixture scale, and the headline bench. Prints the
# summary so far and exits non-zero at the FIRST red gate (a failed
# pytest must not burn 30 minutes of sims); every Spark step runs
# under a hard timeout so a hang can't block the one-shot forever.
#
# Usage: bash scripts/verify_all.sh [--quick]
#   --quick: fit-memo pair, ALS, reaper, timing, case-mapping,
#            weight-sum plan, convention, vector-twin and artifact-scale
#            tests
#            + sf0.01 sim + bench only (skips the rest of pytest and the
#            other scales)
set -u
cd "$(dirname "$0")/.."

quick=0
[ "${1:-}" = "--quick" ] && quick=1

summary=()

finish() {
  echo
  echo "== verify_all summary =="
  for line in "${summary[@]}"; do echo "$line"; done
}

run() { # name, cmd...
  local name=$1; shift
  local t0=$SECONDS out rc
  out=$("$@" 2>&1); rc=$?
  local dt=$((SECONDS - t0))
  local tail_line
  tail_line=$(printf '%s\n' "$out" | tail -1)
  if [ $rc -ne 0 ]; then
    summary+=("FAIL  ${name} (${dt}s, rc=${rc}): ${tail_line}")
    printf '%s\n' "$out" | tail -30
    finish
    exit 1
  fi
  summary+=("ok    ${name} (${dt}s): ${tail_line}")
}

# Evidence-staleness gate (VERDICT r12 #2): fail fast if any id's
# driver evidence is older than the rotation's steady-state bound or
# a never-checked id would miss the next slate — registration growth
# must never silently outrun driver re-verification. Cheap (no JVM).
run "evidence age gate" timeout 120 python scripts/evidence_age.py --gate

if [ $quick -eq 0 ]; then
  # 2400s: the full suite measured 1662s at r12 HEAD (666 tests incl.
  # the 2-batch streaming feeds); the old 1200s cap was sized for the
  # r7-era suite and started killing healthy runs at ~43%.
  run "pytest" timeout 2400 python -m pytest tests/ -q -x
else
  # Fitted-model sharing: every *_bound sibling must reuse its base
  # queries' fits (tests/test_memo.py), so a memo-key regression shows
  # up without the full suite; and every fit goes through ml._fit, which
  # drops training summaries (static gate, no JVM).
  run "memo pairs" timeout 900 python -m pytest tests/test_memo.py \
    tests/test_reaper.py::test_only_ml_fit_fits -q -x \
    -k "memo_pair or only_ml_fit" -p no:cacheprovider
  # ALS blocking follows the input's partitions and matches MLlib's
  # default-block fit row for row.
  run "als blocks" timeout 600 python -m pytest tests/test_ml.py -q -x \
    -k als -p no:cacheprovider
  # Block lifetimes: every pinned block is registered when it is
  # pinned and freed by the sweep-boundary reaper (sf0.001).
  run "reaper" timeout 600 python -m pytest tests/test_reaper.py -q -x \
    -p no:cacheprovider
  # Timing: only scripts/measure.py reads a clock in scripts/ and
  # bench.py (static), and its timed runs execute every stage of an
  # already-collected frame (sf0.001).
  run "fresh-plan timing" timeout 600 python -m pytest tests/test_measure.py \
    -q -x -p no:cacheprovider
  # String and weight-sum layers: case mapping runs without ICU and
  # agrees with it, the fixtures are ASCII, and DSIR's and NB's
  # per-token weight sums add longs in the executed plan (sf0.001).
  run "case mapping + long sums" timeout 600 python -m pytest \
    tests/test_case_mapping.py \
    tests/test_plans.py::test_broadcast_weight_sums_are_long \
    -q -x -p no:cacheprovider
  # Text and vector conventions: no module but registry.py spells the
  # tokenizer, the content hash, the int8 grid or a vector product fold
  # (static); each vector helper equals its DuckDB twin row for row
  # (sf0.001 + hand-built ties); artifacts written at two scales in one
  # session never share a path (sf0.001 + sf0.01).
  run "conventions + artifact scale" timeout 600 python -m pytest \
    tests/test_conventions.py tests/test_vector_twins.py \
    tests/test_operators.py::test_artifacts_are_keyed_by_scale \
    -q -x -p no:cacheprovider
fi
run "sim sf0.01" timeout 1800 python scripts/driver_sim.py
if [ $quick -eq 0 ]; then
  run "sim sf0.001" timeout 1800 python scripts/driver_sim.py --sf-dir /root/testdata/sf0.001
  # Standing multi-file-layout t2 (VERDICT r11 #3): the full oracle
  # sweep over a 4-file rebuild of sf0.01 — different parquet merge
  # order => different float summation order; the strongest structural
  # canary the repo owns, now in the per-round gate.
  run "sim sf0.01 multifile" timeout 3000 python scripts/partitioned_verify.py
  # 4800s: the sf0.1 sim measured 864s at r7 HEAD, >1500s at r9 (315
  # queries), 1622s at r11 (348), 2780s at the r13 441-query seal —
  # and r13 additionally measured the BOX drifting ~1.4x slower on
  # identical code within a day (OPTIMIZATION_r13.md census control;
  # the 900s sf0.01 cap killed two healthy runs at the 441-query
  # tail). All sim caps now carry ~70% slack over the latest healthy
  # measurement so host drift can't fail a green protocol.
  run "sim sf0.1" timeout 4800 python scripts/driver_sim.py --sf-dir /root/testdata/sf0.1
  # Cheap scale gate (VERDICT r6 #6): headline suite at x10-of-sf0.01,
  # fresh plans, fail on any super-linear ratio (measured 1.0-2.1x on
  # 4 cores; 10 = linear is the rot alarm).
  run "stress x10" timeout 1500 python scripts/stress_scale.py --k 10 \
    --sf-dir /root/testdata/sf0.01 --fail-ratio 10
fi
# BPE OOV-drift contract at the LARGE scale (VERDICT r9 #4): the
# fertility/char-fallback ceilings must hold at sf0.1 — x100 the
# vocabulary the merge table was trained on. Runs in quick mode too:
# it is the cheapest large-scale canary in the suite (~25s).
run "bpe fertility bound sf0.1" timeout 300 python scripts/driver_sim.py \
  --sf-dir /root/testdata/sf0.1 quality_bpe_fertility_bound
# bench + A/B regression gate (VERDICT r9 #1): bench.py times fresh
# plans of HEAD interleaved with the commit the change sits on (HEAD
# while the engine is uncommitted, else HEAD^); the gate fails any
# query whose head/prev ratio exceeds 1.25 (30ms delta floor).
run "bench" timeout 1500 python scripts/bench_gate.py

finish
exit 0
