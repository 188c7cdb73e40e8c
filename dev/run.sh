#!/bin/bash
# Run a compiled graft main class directly (no sbt lock, no sbt startup):
#   dev/run.sh graft.Verify /root/testdata/sf0.01 /tmp/out
#   dev/run.sh graft.Probe q04_routing q09_red
# Requires `sbt compile` to have produced target/scala-2.13/classes.
set -euo pipefail
cd "$(dirname "$0")/.."
MAIN="$1"; shift
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
SCALA_JARS=$(ls "$HOME"/.sbt/boot/scala-2.13*/lib/scala-library.jar 2>/dev/null | head -1 || true)
if [ -z "$SCALA_JARS" ]; then
  SCALA_JARS=$(find "$HOME/.cache/coursier" -name 'scala-library-2.13*.jar' 2>/dev/null | head -1 || true)
fi
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" ${SPARK_GC_OPTS:-} \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*${SCALA_JARS:+:$SCALA_JARS}" \
  "$MAIN" "$@"
