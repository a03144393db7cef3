#!/bin/bash
# The full local gate, one command: ScalaTest suite, the benchmark's
# smoke test, then the strict-in-order DuckDB board compare at all four
# scale factors (sf0.001 / sf0.01 / sf0.1 from /root/testdata, sf1
# regenerated via GenScale — /tmp is wiped between sessions, so sf1 is
# always rebuilt).
#
# Usage: tools/gate.sh [out-prefix]     (default /tmp/gate)
# Exits non-zero on the first red stage. Each stage's summary line is
# echoed; full logs land under <out-prefix>.*.log.
#
# NOTE for driving agents: run this THROUGH a persistent background
# task (it outlives interactive timeouts); a nohup'd orphan gets
# reaped on this box.
set -e
cd "$(dirname "$0")/.."
P="${1:-/tmp/gate}"

echo "== suite =="
run_dirs() { ls -d /tmp/graft_*_run_* 2>/dev/null | sort; }
runs_before="$(run_dirs)"
sbt -batch test > "$P.suite.log" 2>&1 || { grep -E "Tests:|\*\*\*" "$P.suite.log" | tail -5; exit 1; }
grep -E "Tests:" "$P.suite.log" | tail -1
# every scratch run dir is deleted in a finally (Artifacts.withRunDir),
# so one the suite left behind is a leak, failing keys included
leaked="$(comm -13 <(echo "$runs_before") <(run_dirs))"
if [ -n "$leaked" ]; then echo "suite left run dirs:"; echo "$leaked"; exit 1; fi

# perfbench compiles graft's sources together with its own, so a
# signature change in a module it calls breaks the benchmark while the
# suite stays green
echo "== perfbench smoke =="
python3 perfbench/test_smoke.py > "$P.perfbench.log" 2>&1 \
  || { tail -10 "$P.perfbench.log"; exit 1; }
tail -1 "$P.perfbench.log"

for sf in 0.001 0.01 0.1; do
  echo "== sf$sf =="
  SPARK_GRAFT_CPUS=24 sbt -batch "runMain graft.Verify /root/testdata/sf$sf $P.out_$sf" \
    > "$P.verify_$sf.log" 2>&1 \
    || { echo "VERIFY sf$sf crashed:"; tail -20 "$P.verify_$sf.log"; exit 1; }
  if grep -q "\[verify\].*failed" "$P.verify_$sf.log"; then
    grep "\[verify\].*failed" "$P.verify_$sf.log" | head -5; exit 1
  fi
  python3 tools/check.py "/root/testdata/sf$sf" "$P.out_$sf" > "$P.check_$sf.log" 2>&1 \
    || { grep -v "^PASS" "$P.check_$sf.log" | tail -10; exit 1; }
  tail -1 "$P.check_$sf.log"
done

echo "== sf1 (GenScale) =="
sbt -batch "runMain graft.GenScale /root/testdata/sf0.1 /tmp/graft_sf1 10" \
  > "$P.gen.log" 2>&1 \
  || { echo "GENSCALE crashed:"; tail -20 "$P.gen.log"; exit 1; }
SPARK_GRAFT_CPUS=28 sbt -batch "runMain graft.Verify /tmp/graft_sf1 $P.out_1" \
  > "$P.verify_1.log" 2>&1 \
  || { echo "VERIFY sf1 crashed:"; tail -20 "$P.verify_1.log"; exit 1; }
if grep -q "\[verify\].*failed" "$P.verify_1.log"; then
  grep "\[verify\].*failed" "$P.verify_1.log" | head -5; exit 1
fi
python3 tools/check.py /tmp/graft_sf1 "$P.out_1" > "$P.check_1.log" 2>&1 \
  || { grep -v "^PASS" "$P.check_1.log" | tail -10; exit 1; }
tail -1 "$P.check_1.log"
echo "== GATE GREEN =="
