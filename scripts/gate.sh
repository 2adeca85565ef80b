#!/usr/bin/env bash
# Pre-commit gate: NEVER commit query code that hasn't compiled.
#
#   scripts/gate.sh                 # compile + full test suite
#   scripts/gate.sh q_mask,q_forget # compile + subset Verify + oracle check
#   scripts/gate.sh ALL             # compile + full Verify + oracle check
#
# Exit code is non-zero on any failure; the round-4 postmortem (one
# uncompiled snapshot commit emptied CORRECTNESS_r04) is why this exists.
set -euo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${GATE_SF_DIR:-/root/testdata/sf0.01}"
OUT_DIR="${GATE_OUT_DIR:-/tmp/gate_verify}"

echo "[gate] sbt compile + Test/compile"
sbt -batch compile Test/compile

if [ $# -eq 0 ]; then
  echo "[gate] sbt test"
  # tee the summary so stamp_readme.py can pick up the real suite/test
  # counts (round-4 and round-5 both shipped stale hand-edited numbers)
  sbt -batch test | tee target/test-summary.txt
  # the per-suite timing table (ScalaTest -oD durations), slowest first
  python3 scripts/suite_times.py target/test-summary.txt
  python3 scripts/stamp_readme.py
else
  rm -rf "$OUT_DIR"
  if [ "$1" = "ALL" ]; then
    echo "[gate] full Verify at $SF_DIR"
    sbt -batch "runMain graft.Verify $SF_DIR $OUT_DIR"
    echo "[gate] oracle check"
    python3 scripts/check_oracle.py "$OUT_DIR" "$SF_DIR"
  else
    echo "[gate] subset Verify [$1] at $SF_DIR"
    sbt -batch "runMain graft.Verify $SF_DIR $OUT_DIR $1"
    echo "[gate] oracle check (subset — undumped queries ignored)"
    report=$(python3 scripts/check_oracle.py "$OUT_DIR" "$SF_DIR" || true)
    echo "$report" | grep -vE "no result dir" || true
    for q in $(echo "$1" | tr ',' ' '); do
      if ! echo "$report" | grep -qE "^OK +$q:"; then
        echo "$report" | grep -E " $q:" || echo "[gate] $q: missing from report"
        echo "[gate] FAIL: $q did not pass its oracle"; exit 1
      fi
    done
  fi
  python3 scripts/stamp_readme.py
fi
echo "[gate] OK"
