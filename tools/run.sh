#!/usr/bin/env bash
# Direct JVM launcher for graft mains (Bench/BenchOne/GenScale):
# same classpath and JVM flags as sbt's forked run (build.sbt), without
# taking the sbt build lock. Usage:
#   SPARK_DRIVER_MEM=80g tools/run.sh graft.BenchOne q_embed_semdedup
set -euo pipefail
CLASSES=/root/repo/target/scala-2.13/classes
# fail fast on missing/stale bytecode: benches silently measuring
# code from before the last edit are worse than no measurement
if [[ ! -d "$CLASSES" ]]; then
  echo "ERROR: $CLASSES missing — run 'sbt compile' first" >&2
  exit 1
fi
# compare against the newest CLASS FILE — the classes dir's own mtime
# does not move when sbt rewrites files in nested package dirs
NEWEST_CLASS=$(find "$CLASSES" -name '*.class' -printf '%T@ %p\n' | sort -rn | head -1 | cut -d' ' -f2-)
STALE=$(find /root/repo/src/main/scala -name '*.scala' -newer "$NEWEST_CLASS" | head -3)
if [[ -n "$STALE" ]]; then
  echo "ERROR: sources newer than compiled classes (run 'sbt compile'):" >&2
  echo "$STALE" >&2
  echo "(set RUN_STALE_OK=1 to override)" >&2
  [[ "${RUN_STALE_OK:-0}" == "1" ]] || exit 1
fi
JARS=$(ls /opt/spark/jars/*.jar | tr '\n' ':')
OPENS=(java.base/java.lang java.base/java.lang.invoke \
  java.base/java.lang.reflect java.base/java.io java.base/java.net \
  java.base/java.nio java.base/java.util java.base/java.util.concurrent \
  java.base/java.util.concurrent.atomic java.base/sun.nio.ch \
  java.base/sun.nio.cs java.base/sun.security.action \
  java.base/sun.util.calendar)
FLAGS=()
for p in "${OPENS[@]}"; do FLAGS+=(--add-opens "$p=ALL-UNNAMED"); done
exec java "${FLAGS[@]}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  "-Xmx${SPARK_DRIVER_MEM:-24g}" \
  -cp "$CLASSES:$JARS" "$@"
