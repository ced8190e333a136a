#!/bin/bash
# Local replica of the driver's correctness run:
#   dev/verify.sh [sf-dir] [out-dir]
# Compiles (fast no-op when unchanged), runs graft.Verify directly via
# java (skipping sbt's JVM-per-run overhead), then dev/check.py.
set -e
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
cd "$(dirname "$0")/.."
sbt -batch compile -warn 2>&1 | grep -v '^\[' || true
CP="target/scala-2.13/classes:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
rm -rf "$OUT"
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-8} java $OPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.Verify "$SF" "$OUT"
python3 dev/check.py "$SF" "$OUT"
