#!/usr/bin/env bash
# Pre-snapshot gate: run this before EVERY end-of-round commit.
# Round 2's whole output was voided by a compile error sbt reports in 5s —
# this script makes that impossible to repeat.
#
#   1. sbt "testOnly *"          (compile + every spec, tier-1's environment)
#   2. Verify at sf0.01          (dump every SparkEntry query + oracle_sql.json)
#   3. tools/oracle_check.py     (local DuckDB stand-in for the driver gate)
#
# Exit 0 iff all three pass. Usage: tools/gate.sh [sfDir] [outDir]
#
# A change that must move no plan also diffs every gate's physical plan
# against the parent commit's, run in a second checkout of it:
#   sbt -batch "runMain graft.Explain $SF_DIR" > plans.txt   # in each checkout
#   python3 tools/plan_norm.py parent/plans.txt plans.txt    # gates that differ
set -euo pipefail
cd "$(dirname "$0")/.."
SF_DIR="${1:-/root/testdata/sf0.01}"
OUT_DIR="${2:-/tmp/verify_gate}"

echo "== gate 1/3: sbt testOnly * =="
# the same settings as the tier-1 command in ROADMAP.md: offline
# resolution, and a test JVM sized from this box (half of MemTotal,
# clamped to 2-8g) rather than build.sbt's 10g default heap
export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"
SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" \
SPARK_DRIVER_MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)" \
SPARK_LOCAL_DIRS=/tmp/spark-local \
  sbt --batch -Dsbt.log.noformat=true "testOnly *"

echo "== gate 2/3: Verify @ $SF_DIR =="
rm -rf "$OUT_DIR"
CP="target/scala-2.13/classes:$(ls -d /opt/spark/jars/* | tr '\n' ':')"
java -Xmx8g --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/jdk.internal.ref=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  -cp "$CP" graft.Verify "$SF_DIR" "$OUT_DIR"

echo "== gate 3/3: oracle check =="
python3 tools/oracle_check.py "$SF_DIR" "$OUT_DIR"

echo "== GATE GREEN =="
