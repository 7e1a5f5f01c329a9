#!/bin/bash
# jar-based runner for measurement tools (Bench/PlanDump/Verify)
# usage: run_class.sh <jar> <mainClass> [args...]
# env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_DRIVER_MEM as usual
JAR="$1"; shift
CLASS="$1"; shift
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx${SPARK_DRIVER_MEM:-16g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$JAR:/opt/spark/jars/*" "$CLASS" "$@"
