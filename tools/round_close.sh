#!/usr/bin/env bash
# Round-close artifact gate (VERDICT r10 item 9, hardened r12): accuracy
# artifacts must never be OLDER than the code they certify. Regenerates
# recall_report.json from the current build, then enforces mtime ordering:
# every certifying artifact must postdate the newest file in src/main.
# regime_boundary.json is frozen evidence (its generator is gone) and is
# not gated.
#
# Usage: tools/round_close.sh          # recall + freshness gates only
#        tools/round_close.sh --full   # + sbt test, sf0.01 verify vs the
#                                      #   DuckDB oracle, one sf0.1 bench —
#                                      #   non-zero exit on ANY gate, so a
#                                      #   round cannot close on stale or
#                                      #   unchecked evidence by accident
# Run AFTER the last code change of a round.
set -euo pipefail
cd "$(dirname "$0")/.."

FULL=0
[[ "${1:-}" == "--full" ]] && FULL=1

# sbt's exit status must gate the run — a crash AFTER the report file is
# written is indistinguishable from success by mtime alone (ADVICE r11).
# The status is captured on the sbt command itself, BEFORE any display
# filtering: a `... | grep || true` tail would reset PIPESTATUS to the
# `true`, silently disarming the gate (caught in round-12 review).
run_sbt() {  # run_sbt <logfile> <sbt args...>
  local log="$1"; shift
  local rc=0
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-16}" sbt -batch "$@" > "$log" 2>&1 || rc=$?
  grep -E "\[recall\]|all_pass|Tests:|error\]|FAILED" "$log" || true
  if [[ $rc -ne 0 ]]; then
    echo "GATE FAIL: sbt $* exited $rc (log: $log)"; exit "$rc"
  fi
}

if [[ $FULL -eq 1 ]]; then
  echo "=== [full] sbt test ==="
  run_sbt /tmp/round_close_test.log test
fi

echo "=== recall report ==="
run_sbt /tmp/round_close_recall.log \
  "runMain graft.RecallReport /root/testdata/sf0.01 recall_report.json"

if [[ $FULL -eq 1 ]]; then
  echo "=== [full] sf0.01 verify + DuckDB oracle ==="
  rm -rf /tmp/round_close_verify
  run_sbt /tmp/round_close_verify.log \
    "runMain graft.Verify /root/testdata/sf0.01 /tmp/round_close_verify"
  python3 tools/check_oracle.py /root/testdata/sf0.01 /tmp/round_close_verify
  echo "=== [full] one sf0.1 bench (read vs BASELINE medians; storms self-adjudicate in bench_last.json) ==="
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
    run_sbt /tmp/round_close_bench.log "runMain graft.Bench"
  python3 - <<'EOF'
import json
d = json.load(open('bench_last.json'))
if d['errors']:
    raise SystemExit(f"GATE FAIL: bench errors: {d['errors']}")
print(f"bench total {d['value']:.1f}s, storms: {d.get('storm_windows', [])}")
EOF
fi

python3 - <<'EOF'
import json, os, sys
newest_src, newest_f = max(
    (os.path.getmtime(os.path.join(r, f)), os.path.join(r, f))
    for r, _, fs in os.walk('src/main') for f in fs)
problems = []
rr = json.load(open('recall_report.json'))
if not rr.get('all_pass', False):
    problems.append('recall_report.json is not all_pass')
if os.path.getmtime('recall_report.json') < newest_src:
    problems.append(f'recall_report.json predates {newest_f}')
if problems:
    print('GATE FAIL:')
    for p in problems: print('  ' + p)
    sys.exit(1)
print('GATE OK: recall_report.json fresh (newest src: %s) and all_pass' % newest_f)
EOF
