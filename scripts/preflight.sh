#!/usr/bin/env bash
# Round-end preflight: never let a snapshot commit uncompilable or
# oracle-red source (the round-9 failure mode: a mid-edit file was
# snapshotted, HEAD didn't compile, and the whole round graded red on
# one lost comment line).
#
# Run this BEFORE declaring a round done / before any end-of-round
# commit:
#   bash scripts/preflight.sh
#
# Exit 0 = compile green AND every registered oracle query hash-green
# at sf0.001. Anything else = do not snapshot; fix first.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "[preflight] sbt compile (main + test)..."
sbt -batch "compile; Test/compile" >/tmp/preflight_compile.log 2>&1 || {
  echo "[preflight] COMPILE FAILED — tail of log:"
  tail -30 /tmp/preflight_compile.log
  exit 1
}

# perfbench is its own sbt build over ../src/main: a main-tree deletion
# that breaks the benchmark harness must fail here, not in the bench
echo "[preflight] perfbench compile..."
(cd perfbench && sbt -batch compile) >/tmp/preflight_perfbench.log 2>&1 || {
  echo "[preflight] PERFBENCH COMPILE FAILED — tail of log:"
  tail -30 /tmp/preflight_perfbench.log
  exit 1
}

out=/tmp/preflight_verify
rm -rf "$out"
echo "[preflight] graft.Verify @ sf0.001..."
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}" \
  sbt -batch "runMain graft.Verify /root/testdata/sf0.001 $out" \
  >/tmp/preflight_verify.log 2>&1 || {
  echo "[preflight] VERIFY FAILED — tail of log:"
  tail -30 /tmp/preflight_verify.log
  exit 1
}

echo "[preflight] DuckDB oracle replay..."
# capture once: check.py exits 1 on any mismatch, which under `set -e`
# would kill the script mid-pipeline before a diagnostic prints
check_log=/tmp/preflight_check.txt
if ! python3 scripts/check.py /root/testdata/sf0.001 "$out" \
    > "$check_log" 2>&1; then
  tail -20 "$check_log"
  echo "[preflight] ORACLE MISMATCH — full log: $check_log"
  exit 1
fi
tail -3 "$check_log"
grep -q ", 0 bad ==" "$check_log" || {
  echo "[preflight] ORACLE MISMATCH — full log: $check_log"
  exit 1
}
echo "[preflight] OK — safe to snapshot"
