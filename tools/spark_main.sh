#!/usr/bin/env bash
# Run a graft main class from compiled classes on the Spark jars, with the
# JVM flags every tool uses: the java.base packages Spark opens by
# reflection on Java 17+, the given heap, UTC sessions and no Spark UI.
# The caller's environment (SPARK_GRAFT_* settings) passes through.
# Usage:
#   tools/spark_main.sh <classes-dir> <heap> <main-class> [args...]
# for example `tools/spark_main.sh target/scala-2.13/classes 4g graft.Bench`.
set -euo pipefail
CLASSES=${1:?classes dir}
HEAP=${2:?heap}
MAIN=${3:?main class}
shift 3
OPENS=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
exec java "${OPENS[@]}" -Xmx"$HEAP" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:/opt/spark/jars/*" "$MAIN" "$@"
