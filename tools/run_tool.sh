#!/bin/bash
# Launch a graft.tools main against the compiled classes + Spark jars
# (build them first with `sbt compile`):
#   tools/run_tool.sh graft.tools.Inspect <sfDir> <names-csv> [rounds] [--plans <dir>]
# Plain java, not sbt's forked run: local-cluster masters can only
# launch their executor JVMs from here. Heap: SPARK_DRIVER_MEM, default
# half the box's memory clamped to 2g..8g (the Tier-1 test default).
CLS="$1"; shift
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
export SPARK_HOME="${SPARK_HOME:-/opt/spark}"
# local-cluster executors die with "Cannot find any build directories"
# without it
export SPARK_SCALA_VERSION="${SPARK_SCALA_VERSION:-2.13}"
MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
OPENS=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
    java.util java.util.concurrent java.util.concurrent.atomic jdk.internal.ref \
    sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS+=("--add-opens=java.base/$p=ALL-UNNAMED")
done
exec java "-Xmx$MEM" -XX:+IgnoreUnrecognizedVMOptions "${OPENS[@]}" \
  -Dio.netty.tryReflectionSetAccessible=true \
  -cp "$ROOT/target/scala-2.13/classes:$SPARK_HOME/jars/*" \
  "$CLS" "$@"
