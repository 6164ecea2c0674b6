#!/bin/bash
# Run a graft main class directly with java (no sbt lock): mirrors
# build.sbt's fork settings (add-opens, -Xmx, spark jars on classpath).
# Usage: tools/runmain.sh graft.tools.Scratch explain|oraclesql|benchq|warnhunt [args…]
#        SPARK_GRAFT_VERIFY_ONLY=q86_bm25 tools/runmain.sh graft.Verify <sf> <out>
set -euo pipefail
CLS="$1"; shift
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "/root/repo/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$CLS" "$@"
