#!/bin/bash
# Dev helper: run graft.Verify with the compiled classes against a
# scale-factor dir, then diff every query against its DuckDB oracle.
# Usage: tools/verify.sh [sfdir] [outdir]
# Works from any working directory: both JVM and oracle run in the
# project root (q28/q29 read their fixture repo-relative).
set -e
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
# caller-relative arguments stay valid after the cd below
SF=$(realpath -m "$SF")
OUT=$(realpath -m "$OUT")
CP="$ROOT/target/scala-2.13/classes:/opt/spark/jars/*"
OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
cd "$ROOT"
rm -rf "$OUT"
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-8} java $OPENS -Xmx8g -cp "$CP" graft.Verify "$SF" "$OUT"
python3 "$ROOT/tools/compare.py" "$SF" "$OUT"
