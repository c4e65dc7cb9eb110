#!/bin/bash
# Round-9 at-scale protocol for one sf dir: hash-verify the listed
# queries first (graft.Verify -> tools/check.py), then time Spark
# (graft.Bench steady-state) and DuckDB (tools/bench_baseline.py) on
# the same corpus back-to-back. Usage:
#   tools/bench_at_scale.sh <sfDir> <outTag> <q1,q2,...>
set -e -o pipefail
SF="$1"; TAG="$2"; QS="$3"
# graft.Bench waits for an idle host itself before it times anything.
AO=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  AO="$AO --add-opens java.base/$p=ALL-UNNAMED"
done
JAVA="java $AO -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx24g -cp target/scala-2.13/classes:/opt/spark/jars/*"
echo "== verify $TAG =="
# wipe stale outputs first, and let a verify crash kill the run (a
# masked failure here would score a previous run's parquet as PASS)
rm -rf "/tmp/verify_$TAG"
SPARK_GRAFT_CPUS=32 $JAVA graft.Verify "$SF" "/tmp/verify_$TAG" "$QS" 2>&1 \
  | { grep -i "failed" || true; }
python3 tools/check.py "$SF" "/tmp/verify_$TAG" | tail -3
echo "== spark bench $TAG =="
SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_QUERIES="$QS" \
  SPARK_GRAFT_BENCH_OUT="/tmp/bench_$TAG.json" $JAVA graft.Bench 2>/dev/null | tail -1
echo "== duckdb bench $TAG =="
python3 tools/bench_baseline.py "$SF" "/tmp/verify_$TAG" "$QS"
