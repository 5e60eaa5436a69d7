#!/usr/bin/env bash
# Run a graft main class outside sbt (env-controllable, fast startup):
#   tools/run.sh graft.Bench
#   tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/out
# Requires `sbt compile` to have produced target/scala-2.13/classes.
set -euo pipefail
CLS="/root/repo/target/scala-2.13/classes"
SCALA_LIB=$(ls "$HOME"/.cache/coursier/v1/https/*/org/scala-lang/scala-library/*/scala-library-*.jar 2>/dev/null | head -1 || true)
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
ADD_OPENS="$ADD_OPENS --add-opens=java.base/sun.nio.ch=ALL-UNNAMED"
ADD_OPENS="$ADD_OPENS --add-opens=java.base/sun.nio.cs=ALL-UNNAMED"
ADD_OPENS="$ADD_OPENS --add-opens=java.base/sun.security.action=ALL-UNNAMED"
ADD_OPENS="$ADD_OPENS --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
exec java $ADD_OPENS -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CLS:$SCALA_LIB:/opt/spark/jars/*" "$@"
