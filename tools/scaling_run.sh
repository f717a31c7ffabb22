#!/bin/bash
# Direct-java launcher for graft.Scaling (bypasses the sbt project lock).
# Compile first (`sbt compile`), then, from the repo root:
#   SPARK_GRAFT_SCALE_CONVS=20000 tools/scaling_run.sh
# prints the PageRank N->4N pair as one JSON line; add
# SPARK_GRAFT_SCALE_MODE=partition or =nd for the V-cycle or ND row. The
# pair, the child heaps and the default graph size come from the host
# (Scaling.plan); this JVM only orchestrates the children it forks.
set -e
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
CP="$ROOT/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.Scaling "$@"
