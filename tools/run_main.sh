#!/bin/bash
# Run a graft main class directly (bypasses sbt startup).
# usage: tools/run_main.sh graft.Verify <testdata-dir> <out-dir>
# Needs SPARK_HOME (the Spark jars) and a compiled tree (sbt compile).
set -e
CLS="$1"; shift
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
# heap: half of RAM, clamped to 2-8 g (the rule the test JVM uses)
XMX="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)"
CP="$ROOT/target/scala-2.13/classes:$(ls "${SPARK_HOME:?set SPARK_HOME to the Spark installation}"/jars/*.jar | tr '\n' ':')"
ADD_OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
exec java $ADD_OPENS -XX:ReservedCodeCacheSize=1g -Xss64m "-Xmx$XMX" -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -cp "$CP" "$CLS" "$@"
