#!/usr/bin/env bash
# Round-end gate: the same four signals every round, one PASS/FAIL line.
#
#   bash tools/round_gate.sh [sfDir] [outDir]
#
# Signals (each independently PASS/FAIL, all must pass):
#   1. correctness — graft.Verify at sfDir + tools/compare.py (strict
#      exact-value DuckDB compare) AND tools/manifest_check.py (the
#      fingerprint reconstruction path the driver can fall back to)
#   2. tests       — sbt test (full ScalaTest suite)
#   3. perfbench   — cd perfbench && sbt test: compiles the benchmark
#      against the current program APIs and runs its specs
#   4. scale gate  — tools/ratio_table.py --gate against the recorded
#      decade base, IF a fresh scaled-run artifact is supplied via
#      GATE_SCALED_JSON (skipped otherwise: the decade sweep is hours,
#      not a per-commit cost)
#
# Documented in BASELINE.md §"Round gate".
set -u
SF_DIR="${1:-/root/testdata/sf0.01}"
OUT_DIR="${2:-/tmp/round_gate_verify}"
cd "$(dirname "$0")/.."

declare -a RESULTS=()
fail=0

echo "[round_gate] 1/4 correctness: Verify @ $SF_DIR -> $OUT_DIR"
if sbt -batch "runMain graft.Verify $SF_DIR $OUT_DIR" > /tmp/round_gate_verify.log 2>&1 \
   && python3 tools/compare.py "$SF_DIR" "$OUT_DIR" > /tmp/round_gate_compare.log 2>&1 \
   && python3 tools/manifest_check.py "$SF_DIR" "$OUT_DIR" > /tmp/round_gate_manifest.log 2>&1; then
  RESULTS+=("correctness=PASS($(tail -1 /tmp/round_gate_compare.log | tr -d '\n'); $(tail -1 /tmp/round_gate_manifest.log | tr -d '\n'))")
else
  RESULTS+=("correctness=FAIL(see /tmp/round_gate_{verify,compare,manifest}.log)")
  fail=1
fi

echo "[round_gate] 2/4 tests: sbt test"
if sbt -batch test > /tmp/round_gate_test.log 2>&1; then
  RESULTS+=("tests=PASS($(grep -Eo 'Tests: succeeded [0-9]+' /tmp/round_gate_test.log | tail -1))")
else
  RESULTS+=("tests=FAIL(see /tmp/round_gate_test.log)")
  fail=1
fi

echo "[round_gate] 3/4 perfbench: cd perfbench && sbt test"
if (cd perfbench && sbt -batch test) > /tmp/round_gate_perfbench.log 2>&1; then
  RESULTS+=("perfbench=PASS($(grep -Eo 'Tests: succeeded [0-9]+' /tmp/round_gate_perfbench.log | tail -1))")
else
  RESULTS+=("perfbench=FAIL(see /tmp/round_gate_perfbench.log)")
  fail=1
fi

if [ -n "${GATE_SCALED_JSON:-}" ]; then
  echo "[round_gate] 4/4 scale gate: ratio drift vs recorded decade base"
  BASE="${GATE_BASE_JSON:-bench_artifacts_r14/bench_full_sf01_swept.json}"
  REF="${GATE_REF_JSON:-bench_artifacts_r14/b_sf1_r14_swept.json}"
  if python3 tools/ratio_table.py --gate "$BASE" "$REF" "$GATE_SCALED_JSON" \
       > /tmp/round_gate_scale.log 2>&1; then
    RESULTS+=("scale=PASS")
  else
    RESULTS+=("scale=FAIL(see /tmp/round_gate_scale.log)")
    fail=1
  fi
else
  RESULTS+=("scale=SKIPPED(set GATE_SCALED_JSON to a fresh scaled-run artifact)")
fi

status=PASS; [ "$fail" -ne 0 ] && status=FAIL
echo "ROUND_GATE $status ${RESULTS[*]}"
exit $fail
