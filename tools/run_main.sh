#!/bin/bash
# Run a graft main class directly against the compiled classes + Spark jars,
# bypassing sbt (no project lock, parallel-friendly). Usage:
#   tools/run_main.sh graft.tools.Profile q164_triangles,q117_fixpoint_chain [--plan DIR]
# Env: SPARK_DRIVER_MEM (default 8g), SPARK_EXTRA_JAVA_OPTS passthrough
# (extra -Dspark.* system properties, e.g. broadcast or AQE off).
# Refuses to run classes older than the sources (run `sbt compile` first):
# a stale target/ would otherwise run code, or whole mains, that no longer
# exist in src/main.
set -euo pipefail
cd "$(dirname "$0")/.."
CLASSES=target/scala-2.13/classes
if [ ! -d "$CLASSES" ]; then
  echo "run_main.sh: $CLASSES is missing; run 'sbt compile' first" >&2
  exit 1
fi
# newest source vs newest class file (the directory's own mtime does not
# move on an incremental compile)
SRC=$(find src/main -type f -printf '%T@ %p\n' | sort -n | tail -1)
CLS=$(find "$CLASSES" -name '*.class' -printf '%T@\n' | sort -n | tail -1)
if [ -z "$CLS" ] || awk -v s="${SRC%% *}" -v c="$CLS" 'BEGIN { exit !(s > c) }'; then
  echo "run_main.sh: $CLASSES is older than ${SRC#* }; run 'sbt compile' first" \
       "(or 'sbt clean compile' if sbt finds nothing to compile)" >&2
  exit 1
fi
CP="$CLASSES:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
ADD_OPENS="$ADD_OPENS --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  ${SPARK_EXTRA_JAVA_OPTS:-} \
  -cp "$CP" "$@"
