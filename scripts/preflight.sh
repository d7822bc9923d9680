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
# Exit 0 = compile green, perfbench harness tests green AND every
# registered oracle query hash-green at sf0.001. Anything else = do not
# snapshot; fix first.
set -euo pipefail
cd "$(dirname "$0")/.."

# one way to materialize: graft.Materialize (a reliable checkpoint).
# localCheckpoint pins blocks in executor memory and loses them with
# the executor, so production code must not call it.
if grep -rn "localCheckpoint(" src/main; then
  echo "[preflight] localCheckpoint( in src/main — use graft.Materialize"
  exit 1
fi

# tokenize carries primitive ints from the special-token scan to the
# bin writer, and writes the bin json straight to UTF-8 bytes: no
# boxed id builders, no boxed masks, no char-level json writer.
if grep -rnE "newBuilder\[Int\]|IndexedSeq\.fill|StringWriter" \
    src/main/scala/graft/tokenize; then
  echo "[preflight] boxed ids or a char writer in graft.tokenize —" \
    "use IntBuffer and BinJson"
  exit 1
fi

# the check gate counts each bin with PackedJsonStats and builds no
# arrays; the one from_json in graft.index is the inspection sample's,
# which prints them.
from_json_uses=$(grep -ro "from_json(" src/main/scala/graft/index | wc -l || true)
if [ "$from_json_uses" -gt 1 ]; then
  grep -rn "from_json(" src/main/scala/graft/index
  echo "[preflight] $from_json_uses from_json( in graft.index — only" \
    "CheckStage.inspectionSample may parse; the gate uses PackedJsonStats"
  exit 1
fi

echo "[preflight] sbt compile (main + test)..."
sbt -batch "compile; Test/compile" >/tmp/preflight_compile.log 2>&1 || {
  echo "[preflight] COMPILE FAILED — tail of log:"
  tail -30 /tmp/preflight_compile.log
  exit 1
}

# perfbench is its own sbt build over ../src/main: a main-tree change
# that breaks the benchmark harness or its probes (the decorators wrap
# FrameSource and SubwordModel.encode) must fail here, not in the bench
echo "[preflight] perfbench test..."
(cd perfbench && sbt -batch test) >/tmp/preflight_perfbench.log 2>&1 || {
  echo "[preflight] PERFBENCH TEST FAILED — tail of log:"
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
# reported, not gated: the Scala line counts the roadmap tracks. The sum
# is the one a deletion must lower: moving code from src/main to
# src/test shrinks the first count without shrinking the total
main_lines=$(find src/main -name '*.scala' | xargs cat | wc -l)
test_lines=$(find src/test -name '*.scala' | xargs cat | wc -l)
echo "[preflight] Scala lines: src/main $main_lines, src/test $test_lines," \
  "total $((main_lines + test_lines))"
