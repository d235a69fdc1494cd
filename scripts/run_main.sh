#!/bin/bash
# Run a graft main class directly (no sbt — leaves the sbt lock free for
# concurrent compiles/tests). Mirrors build.sbt's fork JVM options.
# Usage: scripts/run_main.sh graft.Bench [args...]
set -euo pipefail
CLS="$1"; shift
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
# Spark jars: $SPARK_HOME, else the distribution spark-submit lives in
SPARK_DIR="${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}"
CP="$ROOT/target/scala-2.13/classes:$(echo "$SPARK_DIR"/jars/*.jar | tr ' ' ':')"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Duser.timezone=UTC \
  -Dsun.stdout.encoding=UTF-8 \
  -Dsun.stderr.encoding=UTF-8 \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CP" "$CLS" "$@"
