#!/usr/bin/env bash
# Round-close gate chain (the freeze protocol the r9 verdict demanded):
# run EVERYTHING, in order, with zero source changes afterward — any
# change reopens the chain. Exit code is the AND of all gates; the
# correctness gates use tools/check.py, whose exit code since round 10
# gates on the driver-exact mode, not just the 1e-6-tolerant compare.
#
# Usage: tools/close.sh [workdir=/tmp/graft_close]
set -u
WORK="${1:-/tmp/graft_close}"
SF001=/root/testdata/sf0.01
SF01=/root/testdata/sf0.1
mkdir -p "$WORK"
fail=0

step() { echo "== close: $*"; }

step "1/5 sbt test (full suite)"
if sbt test > "$WORK/sbt_test.log" 2>&1; then
  grep -E "Total number of tests|All tests passed" "$WORK/sbt_test.log" | tail -2
else
  echo "FAIL: sbt test (see $WORK/sbt_test.log)"; fail=1
fi

step "2/5 oracle gate at sf0.01 (both checker modes; exit gates on exact)"
# the gate tooling's own spec first: a broken checker must fail the
# chain itself, not silently mis-grade 242 queries (r16, VERDICT r15 #3)
python3 tools/test_check.py > "$WORK/test_check.log" 2>&1 \
  || { echo "FAIL: tools/test_check.py (see $WORK/test_check.log)"; fail=1; }
sbt "runMain graft.Verify $SF001 $WORK/verify_sf001" > "$WORK/verify_sf001.log" 2>&1 \
  || { echo "FAIL: Verify sf0.01"; fail=1; }
grep "\[verify\]" "$WORK/verify_sf001.log" && { echo "FAIL: per-query verify errors"; fail=1; }
python3 tools/check.py "$SF001" "$WORK/verify_sf001" > "$WORK/check_sf001.log" 2>&1 \
  || { echo "FAIL: check sf0.01"; fail=1; }
tail -1 "$WORK/check_sf001.log"

step "3/5 oracle gate on the 8-file sf0.1 rewrite (layout independence)"
sbt "runMain graft.RewriteMulti $SF01 $WORK/sf01_multi8 8" > "$WORK/rewrite.log" 2>&1 \
  || { echo "FAIL: RewriteMulti"; fail=1; }
sbt "runMain graft.Verify $WORK/sf01_multi8 $WORK/verify_multi" > "$WORK/verify_multi.log" 2>&1 \
  || { echo "FAIL: Verify multi"; fail=1; }
grep "\[verify\]" "$WORK/verify_multi.log" && { echo "FAIL: per-query verify errors (multi)"; fail=1; }
python3 tools/check.py "$SF01" "$WORK/verify_multi" > "$WORK/check_multi.log" 2>&1 \
  || { echo "FAIL: check multi"; fail=1; }
tail -1 "$WORK/check_multi.log"

step "4/5 benchmark (perfbench): one run per BENCHMARK.json workload, plus a traced run of each, plus regime parity"
for w in luad_wide ops_sf0.01; do
  python3 perfbench/run.py --workload "$w" --seed 1 --seconds 10 --trace 0 > "$WORK/perfbench_$w.log" 2>&1 \
    || { echo "FAIL: perfbench $w (see $WORK/perfbench_$w.log)"; fail=1; }
  tail -1 "$WORK/perfbench_$w.log"
done
# which layer moved: the median wall of each `[graft] phase` of the
# untraced luad_wide run, its first (cold) operation left out — read
# before the traced run below replaces the run's log
python3 - perfbench/.work/luad_wide/jvm.log <<'EOF'
import re, statistics, sys
walls = {}
with open(sys.argv[1], errors="replace") as f:
    for line in f:
        m = re.search(r"\[graft\] phase (\S+): ([0-9.]+) s", line)
        if m:
            walls.setdefault(m.group(1), []).append(float(m.group(2)))
for label, w in walls.items():
    warm = w[1:] or w
    print(f"luad_wide phase {label}: median {statistics.median(warm):.3f} s over {len(warm)} warm operations")
EOF
# traced LUAD run: its composition runs ml-ALS + LinearSVC and fails when
# its predictions differ from the untraced run's (the dense regime's
# driver-side replicas) — the end-to-end guard that the replicas match
python3 perfbench/run.py --workload luad_wide --seed 1 --seconds 10 --trace 1 > "$WORK/perfbench_luad_wide_trace.log" 2>&1 \
  || { echo "FAIL: perfbench luad_wide --trace 1 (see $WORK/perfbench_luad_wide_trace.log)"; fail=1; }
tail -1 "$WORK/perfbench_luad_wide_trace.log"
# regime parity: LuadPipeline.main on the seed-1 corpus the traced run
# left behind, once by default (the dense regime) and once forced onto
# the relational one at the perfbench heap (-Xmx3g) and the CLI's
# default local[32] (SPARK_GRAFT_CPUS unset), where a relational
# network step that shuffles pairs × samples rows runs out of heap; the
# sorted sink rows, n_probes_after and rows_dropped must agree, the
# default run must report the dense regime and the forced run the
# relational one. Each prints its regime
# and its network-and-assembly phase wall.
parity() { # $1 = regime, then extra JVM options
  local regime="$1"; shift
  local dir="$WORK/parity_$regime" sets=()
  for o in "$@"; do sets+=("set Compile / run / javaOptions += \"$o\""); done
  rm -rf "$dir" && mkdir -p "$dir"
  sbt "set Compile / run / baseDirectory := file(\"$dir\")" "${sets[@]}" \
    "runMain graft.pipeline.LuadPipeline $PWD/perfbench/.work/luad_wide/corpus/input.txt" > "$dir/run.log" 2>&1 \
    || { echo "FAIL: LuadPipeline.main, $regime regime (see $dir/run.log)"; return 1; }
  cat "$dir"/out/*/part-* | sort > "$dir/rows.tsv"
  grep -o '"n_probes_after":[0-9]*,"rows_dropped":[0-9]*' "$dir/run.log" > "$dir/counts.txt"
  echo "$regime: $(wc -l < "$dir/rows.tsv") sink rows, $(cat "$dir/counts.txt")," \
    "$(grep -o 'pearson path: [a-z-]*' "$dir/run.log"), $(grep -o 'phase network-and-assembly: [0-9.]* s' "$dir/run.log")"
}
if parity dense && (unset SPARK_GRAFT_CPUS; parity relational -Dspark.graft.pearson.maxDenseBytes=0 -Xmx3g); then
  { cmp -s "$WORK/parity_dense/rows.tsv" "$WORK/parity_relational/rows.tsv" \
      && cmp -s "$WORK/parity_dense/counts.txt" "$WORK/parity_relational/counts.txt" \
      && grep -q 'pearson path: relational-panels' "$WORK/parity_relational/run.log" \
      && grep -q 'pearson path: dense-driver' "$WORK/parity_dense/run.log" \
      && [ -s "$WORK/parity_dense/rows.tsv" ] && [ -s "$WORK/parity_dense/counts.txt" ]; } \
    || { echo "FAIL: the regimes disagree, or a run reported the wrong regime (see $WORK/parity_*)"; fail=1; }
else
  fail=1
fi
# traced operator pass: checks every golden row count and records the
# per-module plan_s and spark.jobs
python3 perfbench/run.py --workload ops_sf0.01 --seed 1 --seconds 10 --trace 1 > "$WORK/perfbench_ops_sf0.01_trace.log" 2>&1 \
  || { echo "FAIL: perfbench ops_sf0.01 --trace 1 (see $WORK/perfbench_ops_sf0.01_trace.log)"; fail=1; }
tail -1 "$WORK/perfbench_ops_sf0.01_trace.log"

step "5/5 summary"
echo "closing commit: $(git rev-parse --short HEAD) ($(git log -1 --format=%s))"
if [ "$fail" -eq 0 ]; then
  echo "ALL GATES GREEN — record this pass (with the commit hash above) in BASELINE.md."
else
  echo "CHAIN RED — fix, commit, and re-run the WHOLE chain."
fi
exit "$fail"
