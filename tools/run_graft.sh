#!/bin/bash
# Run a graft main class directly against compiled classes (no sbt lock).
# The classes are the ones compiled in the checkout this script lives in.
# Usage: tools/run_graft.sh <mainClass> [args...]
MAIN=$1; shift
ROOT=$(cd "$(dirname "$0")/.." && pwd)
# the Spark jar directory build.sbt compiles against
JARS=$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$ROOT/build.sbt")
AO=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  AO="$AO --add-opens java.base/$p=ALL-UNNAMED"
done
AO="$AO --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED"
AO="$AO --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
exec java $AO -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-8g} \
  -cp "$ROOT/target/scala-2.13/classes:$JARS/*" "$MAIN" "$@"
