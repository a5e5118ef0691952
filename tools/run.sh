#!/bin/bash
# Fast runner: invoke a graft main class directly on compiled classes +
# /opt/spark/jars, skipping sbt JVM startup. Compile first with
# `sbt compile` (or tools/compile.sh). src/main/resources rides on the
# classpath itself (`sbt compile` does not copy it into target/), so the
# META-INF/services registrations, e.g. format("snapshot"), resolve.
#   tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/graft_verify
#   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 tools/run.sh graft.Bench
set -e
cd "$(dirname "$0")/.."
MAIN="$1"; shift
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# 36 queries x many codegen'd stages overflow the default 240m JIT code
# cache, after which Janino compiles run interpreted and every stage
# serializes behind the codegen cache lock (observed: 60s+ per query)
exec java $ADD_OPENS $EXTRA_JAVA_OPTS \
  -XX:ReservedCodeCacheSize=1g \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "target/scala-2.13/classes:src/main/resources:/opt/spark/jars/*" \
  "$MAIN" "$@"
