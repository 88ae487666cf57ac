#!/usr/bin/env bash
# Round-end gate: the same eight signals every round, one PASS/FAIL line.
#
#   bash tools/round_gate.sh [sfDir] [outDir]
#
# Signals (each independently PASS/FAIL, all must pass):
#   1. correctness — graft.Verify at sfDir + tools/compare.py (strict
#      exact-value DuckDB compare) AND tools/manifest_check.py (the
#      fingerprint reconstruction path the driver can fall back to)
#   2. bench smoke — graft.Bench on w2_zscore, 1 rep, at sfDir: the last
#      stdout line parses as JSON and bench_full.json's
#      exec.w2_zscore[0].jobs > 0 (the execution-metrics listener ran)
#   3. lifecycle smoke — graft.QcLifecycle over the sf0.01 tables (the
#      paper's whole QC chain): its exec.jobs is at most LIFECYCLE_MAX_JOBS
#      and its flag_hist equals LIFECYCLE_FLAG_HIST, both recorded below
#      (skipped when sfDir is not an sf0.01 directory)
#   4. stream smoke — graft.StreamBench over the sf0.01 tables in 2
#      AvailableNow passes (QcMain.runFrom per micro-batch): every staged
#      row reaches the sink (qc.sink_rows == qc.rows) and qc.exec.jobs > 0
#      (skipped when sfDir is not an sf0.01 directory)
#   5. tests       — sbt test (full ScalaTest suite): exits 0 and its
#      "Tests: succeeded N" is at least TESTS_MIN_SUCCEEDED, recorded
#      below (a refactor that drops suites fails here)
#   6. perfbench   — cd perfbench && sbt test: compiles the benchmark
#      against the current program APIs and runs its specs
#   7. scale gate  — tools/ratio_table.py --gate against the recorded
#      decade base, IF a fresh scaled-run artifact is supplied via
#      GATE_SCALED_JSON (skipped otherwise: the decade sweep is hours,
#      not a per-commit cost)
#   8. spec-only defs — tools/spec_only_defs.py: its --self-test passes,
#      then the scan reports no src/main definition (object, class or
#      trait member, or type) that no entry point reaches (only specs,
#      comments or nothing refer to it), no default-valued parameter of
#      a reached public def that no reached call sets, and finds
#      tools/spec_only_defs.allow well-formed
#
# Documented in BASELINE.md §"Round gate".
set -u
SF_DIR="${1:-/root/testdata/sf0.01}"
OUT_DIR="${2:-/tmp/round_gate_verify}"
cd "$(dirname "$0")/.."

# QcLifecycle at sf0.01: 23 jobs while the kinematics ran as two
# branches, 19 once it became one; the flag histogram is the one
# every version of the chain has produced
LIFECYCLE_MAX_JOBS=19
LIFECYCLE_FLAG_HIST='{"1":4330,"4":5670}'
# sbt test's succeeded count once every oracle text is pinned by
# digest: 473, less StaSourceSpec's `$select` compilation test, plus
# OracleDigestSpec's two tests (7 more cancel without their fixtures);
# plus StaHttpSpec's five specs of the overlapped HTTP round trips;
# less the 31 tests deleted with the spec-only defs they exercised;
# less the 3 tests of the knobs and the spec-only resize that went once
# the scan covered parameters and class members
TESTS_MIN_SUCCEEDED=445

declare -a RESULTS=()
fail=0

echo "[round_gate] 1/8 correctness: Verify @ $SF_DIR -> $OUT_DIR"
if sbt -batch "runMain graft.Verify $SF_DIR $OUT_DIR" > /tmp/round_gate_verify.log 2>&1 \
   && python3 tools/compare.py "$SF_DIR" "$OUT_DIR" > /tmp/round_gate_compare.log 2>&1 \
   && python3 tools/manifest_check.py "$SF_DIR" "$OUT_DIR" > /tmp/round_gate_manifest.log 2>&1; then
  RESULTS+=("correctness=PASS($(tail -1 /tmp/round_gate_compare.log | tr -d '\n'); $(tail -1 /tmp/round_gate_manifest.log | tr -d '\n'))")
else
  RESULTS+=("correctness=FAIL(see /tmp/round_gate_{verify,compare,manifest}.log)")
  fail=1
fi

echo "[round_gate] 2/8 bench smoke: Bench w2_zscore, 1 rep @ $SF_DIR"
SMOKE_OUT=/tmp/round_gate_bench_full.json
rm -f "$SMOKE_OUT"
if SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_GRAFT_BENCH_ONLY=w2_zscore \
     SPARK_GRAFT_BENCH_REPS=1 SPARK_GRAFT_BENCH_OUT="$SMOKE_OUT" \
     sbt -batch "runMain graft.Bench" > /tmp/round_gate_bench.log 2>/tmp/round_gate_bench.err \
   && python3 - "$SMOKE_OUT" /tmp/round_gate_bench.log > /tmp/round_gate_bench_check.log 2>&1 <<'EOF'
import json, sys
full = json.load(open(sys.argv[1]))
lines = [l for l in open(sys.argv[2]).read().splitlines() if l.strip()]
json.loads(lines[-1])
jobs = full["exec"]["w2_zscore"][0]["jobs"]
assert jobs > 0, f"exec.w2_zscore[0].jobs = {jobs}"
print(f"w2_zscore jobs={jobs}")
EOF
then
  RESULTS+=("bench=PASS($(tail -1 /tmp/round_gate_bench_check.log | tr -d '\n'))")
else
  RESULTS+=("bench=FAIL(see /tmp/round_gate_bench{,_check}.log)")
  fail=1
fi

if [ "$(basename "$SF_DIR")" = "sf0.01" ]; then
  echo "[round_gate] 3/8 lifecycle smoke: QcLifecycle @ $SF_DIR"
  LC_OUT=/tmp/round_gate_qc_lifecycle.json
  rm -f "$LC_OUT"
  if sbt -batch "runMain graft.QcLifecycle $SF_DIR $LC_OUT" > /tmp/round_gate_lifecycle.log 2>&1 \
     && python3 - "$LC_OUT" "$LIFECYCLE_MAX_JOBS" "$LIFECYCLE_FLAG_HIST" \
          > /tmp/round_gate_lifecycle_check.log 2>&1 <<'EOF'
import json, sys
line = json.load(open(sys.argv[1]))
jobs, hist = line["exec"]["jobs"], line["flag_hist"]
assert jobs <= int(sys.argv[2]), f"exec.jobs = {jobs} > {sys.argv[2]}"
assert hist == json.loads(sys.argv[3]), f"flag_hist = {hist}"
print(f"jobs={jobs} flag_hist={json.dumps(hist, separators=(',', ':'))}")
EOF
  then
    RESULTS+=("lifecycle=PASS($(tail -1 /tmp/round_gate_lifecycle_check.log | tr -d '\n'))")
  else
    RESULTS+=("lifecycle=FAIL(see /tmp/round_gate_lifecycle{,_check}.log)")
    fail=1
  fi
else
  RESULTS+=("lifecycle=SKIPPED(pinned at sf0.01)")
fi

if [ "$(basename "$SF_DIR")" = "sf0.01" ]; then
  echo "[round_gate] 4/8 stream smoke: StreamBench, 2 passes @ $SF_DIR"
  SB_OUT=/tmp/round_gate_stream_bench.json
  rm -f "$SB_OUT"
  if sbt -batch "runMain graft.StreamBench $SF_DIR 2 $SB_OUT" > /tmp/round_gate_stream.log 2>&1 \
     && python3 - "$SB_OUT" > /tmp/round_gate_stream_check.log 2>&1 <<'EOF'
import json, sys
qc = json.load(open(sys.argv[1]))["qc"]
rows, sunk, jobs = qc["rows"], qc["sink_rows"], qc["exec"]["jobs"]
assert sunk == rows, f"qc.sink_rows = {sunk} != qc.rows = {rows}"
assert jobs > 0, f"qc.exec.jobs = {jobs}"
print(f"rows={rows} sink_rows={sunk} jobs={jobs}")
EOF
  then
    RESULTS+=("stream=PASS($(tail -1 /tmp/round_gate_stream_check.log | tr -d '\n'))")
  else
    RESULTS+=("stream=FAIL(see /tmp/round_gate_stream{,_check}.log)")
    fail=1
  fi
else
  RESULTS+=("stream=SKIPPED(pinned at sf0.01)")
fi

echo "[round_gate] 5/8 tests: sbt test"
if sbt -batch test > /tmp/round_gate_test.log 2>&1; then
  succeeded=$(grep -Eo 'Tests: succeeded [0-9]+' /tmp/round_gate_test.log | tail -1 | grep -Eo '[0-9]+$')
  if [ "${succeeded:-0}" -ge "$TESTS_MIN_SUCCEEDED" ]; then
    RESULTS+=("tests=PASS(Tests: succeeded $succeeded)")
  else
    RESULTS+=("tests=FAIL(Tests: succeeded ${succeeded:-none} < $TESTS_MIN_SUCCEEDED)")
    fail=1
  fi
else
  RESULTS+=("tests=FAIL(see /tmp/round_gate_test.log)")
  fail=1
fi

echo "[round_gate] 6/8 perfbench: cd perfbench && sbt test"
if (cd perfbench && sbt -batch test) > /tmp/round_gate_perfbench.log 2>&1; then
  RESULTS+=("perfbench=PASS($(grep -Eo 'Tests: succeeded [0-9]+' /tmp/round_gate_perfbench.log | tail -1))")
else
  RESULTS+=("perfbench=FAIL(see /tmp/round_gate_perfbench.log)")
  fail=1
fi

if [ -n "${GATE_SCALED_JSON:-}" ]; then
  echo "[round_gate] 7/8 scale gate: ratio drift vs recorded decade base"
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

echo "[round_gate] 8/8 spec-only defs: tools/spec_only_defs.py --self-test, then the scan"
if python3 tools/spec_only_defs.py --self-test > /tmp/round_gate_spec_only.log 2>&1 \
   && python3 tools/spec_only_defs.py >> /tmp/round_gate_spec_only.log 2>&1; then
  RESULTS+=("spec_only=PASS($(tail -1 /tmp/round_gate_spec_only.log | tr -d '\n'))")
else
  RESULTS+=("spec_only=FAIL(see /tmp/round_gate_spec_only.log)")
  fail=1
fi

status=PASS; [ "$fail" -ne 0 ] && status=FAIL
echo "ROUND_GATE $status ${RESULTS[*]}"
exit $fail
