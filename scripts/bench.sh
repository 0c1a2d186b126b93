#!/bin/bash
# Local bench runner: scripts/bench.sh [sf_dir] [only_csv] [mem]
# Runs graft.Bench from the compiled classes of the checkout this script
# lives in (build them first with `sbt compile`), so a second checkout
# (e.g. a parent commit) can be measured side by side with its own copy.
# The heap defaults to 8g; the Spark master is local[SPARK_GRAFT_CPUS],
# which defaults to the machine's core count. Spark's jars are read from
# $SPARK_HOME/jars.
set -e
SF=${1:-/root/testdata/sf0.1}
ONLY=${2:-}
MEM=${3:-8g}
ROOT=$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
CP="$ROOT/target/scala-2.13/classes:$(ls "${SPARK_HOME:?set SPARK_HOME to the Spark install}"/jars/*.jar | tr '\n' ':')"
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(nproc)} \
SPARK_GRAFT_SF_DIR=$SF SPARK_GRAFT_ONLY=$ONLY \
java -Xmx$MEM $ADDOPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.Bench
