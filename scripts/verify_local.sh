#!/bin/bash
# Local replica of the driver's t2 gate: run graft.Verify at sf0.01, then
# compare every query's parquet against its DuckDB oracle.
# Usage: scripts/verify_local.sh [sfDir] [outDir] [queryPrefix]
# With a prefix, only the queries whose name starts with it are run and
# compared (e.g. feature_ or ref_trx_). SPARK_GRAFT_CPUS defaults to nproc.
set -e -o pipefail
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/graft_verify}
PREFIX=${3:-}
sbt -batch compile >/dev/null 2>&1 || { echo "compile failed"; sbt -batch compile | tail -20; exit 1; }
rm -rf "$OUT"
CP="target/scala-2.13/classes:/opt/spark/jars/*"
ADD_OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(nproc)} java $ADD_OPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.Verify "$SF" "$OUT" ${PREFIX:+"$PREFIX"} 2>&1 | { grep -v '^WARN\|^Using\|SLF4J\|log4j' || true; }
python3 scripts/compare.py "$SF" "$OUT" ${PREFIX:+"$PREFIX"}
