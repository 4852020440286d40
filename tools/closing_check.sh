#!/usr/bin/env bash
# One-command closing evidence for a round (VERDICT r13 #8):
#   1. full scalatest suite, which must log no codegen compile failure
#   2. tri-scale graft.Verify dump (sf0.001 / sf0.01 / sf0.1)
#   3. DuckDB differential oracle over each dump (tools/check_oracle.py)
#   4. EtlBench throughput gate
#   5. repo benchmark: its own tests (perfbench/test.py), then one run
#      per workload (perfbench/run.py), then one traced etl_redirects run
#      whose per-layer job counts must all be non-zero, and whose
#      Redirects job count must not exceed its measured ceiling, and one
#      traced query_mix run whose Relational job count must not exceed
#      its measured ceiling
# Exit nonzero on the first red step. Artifacts land under
# /tmp/graft-closing-<ts>/ and a one-line PASS/FAIL summary per step is
# printed at the end for the round status block.
#
# Usage: tools/closing_check.sh [--skip-tests]
set -u
cd "$(dirname "$0")/.."

TS=$(date +%Y%m%d-%H%M%S)
OUT=/tmp/graft-closing-$TS
mkdir -p "$OUT"
declare -a SUMMARY
fail=0

step() { # name cmd...
  local name=$1; shift
  echo "=== $name ==="
  if "$@" >"$OUT/$name.log" 2>&1; then
    SUMMARY+=("PASS $name")
  else
    SUMMARY+=("FAIL $name (log: $OUT/$name.log)")
    fail=1
    tail -n 30 "$OUT/$name.log"
  fi
}

# The suite runs in the Tier-1 environment of ROADMAP.md's verify
# command: every core, a driver heap of half the RAM clamped to 2-8 GB,
# and a fixed Spark scratch dir.
TIER1_CPUS=$(env -u OMP_NUM_THREADS nproc)
TIER1_MEM=$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)
# The suite must also log no codegen compile failure: Spark then falls
# back to interpreted evaluation and only logs an ERROR, so a main-path
# expression that stops compiling would show as a slowdown and nothing else.
sbt_test() {
  env SPARK_GRAFT_CPUS="$TIER1_CPUS" SPARK_DRIVER_MEM="$TIER1_MEM" \
    SPARK_LOCAL_DIRS=/tmp/spark-local sbt -batch test > "$OUT/sbt-test.raw" 2>&1
  local rc=$?
  cat "$OUT/sbt-test.raw"
  [[ $rc -eq 0 ]] || return 1
  local n
  n=$(grep -c "Failed to compile" "$OUT/sbt-test.raw")
  echo "codegen compile failures: $n"
  [[ $n -eq 0 ]]
}
if [[ "${1:-}" != "--skip-tests" ]]; then
  step "sbt-test" sbt_test
fi

for sf in 0.001 0.01 0.1; do
  step "verify-sf$sf" sbt -batch "runMain graft.Verify /root/testdata/sf$sf $OUT/verify-sf$sf"
  step "oracle-sf$sf" python3 tools/check_oracle.py "/root/testdata/sf$sf" "$OUT/verify-sf$sf"
done

# ETL throughput regression (r20, VERDICT r19 #8): BASELINE.md's r19 row
# promises "re-run per round, warn < 0.5x any column" — enforce it here.
etl_check() {
  sbt -batch "runMain graft.EtlBench 50000" 2>&1 | tee "$OUT/etlbench.raw" \
    | grep '"metric"' > "$OUT/etlbench.json" || return 1
  python3 - "$OUT/etlbench.json" <<'PY'
import json, sys
r = json.load(open(sys.argv[1]))
# r19 pins (BASELINE.md throughput row); bar = 0.5x
pins = {"value": 5361.0, "parquet_rows_per_sec": 58621.0,
        "jdbc_rows_per_sec": 11403.0}
bad = [(k, r[k], p) for k, p in pins.items() if r[k] < 0.5 * p]
print(json.dumps({"etl": r, "regressions": bad}))
sys.exit(1 if bad else 0)
PY
}
step "etl-throughput" etl_check

# Repo benchmark (BENCHMARK.json), one run per workload. perfbench
# compiles src/main/scala with its own scalac, so this also catches a
# source change sbt accepts but that build rejects. run.py exits 0 even
# when its output checks fail: the last line must say correct and
# report no failed operation.
perfbench_check() { # workload
  python3 perfbench/run.py --workload "$1" --seed 1 --seconds 10 \
    > "$OUT/perfbench-$1.out" || return 1
  tail -n 1 "$OUT/perfbench-$1.out"
  python3 - "$OUT/perfbench-$1.out" <<'PY'
import json, sys
r = json.loads(open(sys.argv[1]).read().strip().splitlines()[-1])
sys.exit(0 if r.get("correct") is True and r.get("failed") == 0 else 1)
PY
}
# The benchmark's own tests, before its runs. Among them: the generator's
# expected counts equal WikiEtl.run's output on a tiny dump, i.e. the
# redirect semantics the runs' drop-per-cause checks rely on.
step "perfbench-selftest" python3 perfbench/test.py
for w in etl_redirects query_mix; do
  step "perfbench-$w" perfbench_check "$w"
done

# One traced run: the per-layer metrics attribute Spark jobs to the
# layers by the program's call stack, and read a layer they cannot find
# as 0. A refactor that moves a layer's jobs out of its frame would zero
# that layer's numbers without failing anything else. The redirect layer
# also has a ceiling: each of its rounds is one observed eager checkpoint
# following two pointers, and the traced seed-1 run counts 17 jobs there
# (27 when a round was a lazy checkpoint, a separate count action and
# one pointer jump).
etl_layers_check() {
  python3 perfbench/run.py --workload etl_redirects --seed 1 --seconds 10 --trace 1 \
    > "$OUT/perfbench-etl-layers.out" || return 1
  tail -n 1 "$OUT/perfbench-etl-layers.out"
  python3 - "$OUT/perfbench-etl-layers.out" <<'PY'
import json, sys
r = json.loads(open(sys.argv[1]).read().strip().splitlines()[-1])
m = r.get("metrics", {})
layers = ["Redirects.jobs", "WikiEtl.withDenseId.bodies.jobs",
          "WikiEtl.withDenseId.articles.jobs"]
zero = [k for k in layers if not m.get(k, {}).get("value", 0) > 0]
redirect_jobs_max = 17  # measured on seed 1; 27 before rounds got cheaper
over = m.get("Redirects.jobs", {}).get("value", 0) > redirect_jobs_max
print(json.dumps({k: m.get(k, {}).get("value") for k in layers}))
sys.exit(0 if r.get("correct") is True and r.get("failed") == 0 and not zero
         and not over else 1)
PY
}
step "perfbench-etl-layers" etl_layers_check

# The traced query mix's twin: its relational control, q_tpch_q5, loads
# six tables, and Tables.load infers a table's schema with a job only on
# the session's first load of it. The traced seed-1 run counts 9 jobs in
# the Relational layer per pass (15 when every load inferred its schema).
mix_layers_check() {
  python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 1 \
    > "$OUT/perfbench-mix-layers.out" || return 1
  tail -n 1 "$OUT/perfbench-mix-layers.out"
  python3 - "$OUT/perfbench-mix-layers.out" <<'PY'
import json, sys
r = json.loads(open(sys.argv[1]).read().strip().splitlines()[-1])
jobs = r.get("metrics", {}).get("Relational.jobs", {}).get("value", 0)
relational_jobs_max = 9  # measured on seed 1; 15 before loads reused schemas
print(json.dumps({"Relational.jobs": jobs}))
sys.exit(0 if r.get("correct") is True and r.get("failed") == 0
         and 0 < jobs <= relational_jobs_max else 1)
PY
}
step "perfbench-mix-layers" mix_layers_check

echo
echo "=== closing summary ($OUT) ==="
for line in "${SUMMARY[@]}"; do echo "$line"; done
exit $fail
