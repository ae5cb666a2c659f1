#!/bin/bash
# Run a graft main directly on the compiled classes — no sbt launcher,
# no sbt target lock (two sbt processes serialize on it, which blocks
# iteration whenever a long ScaleData or `Bench --scale` run is in flight).
# Mirrors build.sbt's forked-run JVM flags (JDK17 add-opens, UTC, no
# UI, SPARK_DRIVER_MEM heap). Compile first: sbt -batch compile.
# Usage: tools/run_main.sh <mainClass> [args...]
set -euo pipefail
CLS="$1"; shift
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# EXTRA_JAVA_OPTS: e.g. -Djava.io.tmpdir=/root/scratch/tmp for decade-3
# runs — this box reaps /tmp under long sessions (SCALING.md r14 note),
# and graft's write-once caches live under java.io.tmpdir.
exec java -Xmx"${SPARK_DRIVER_MEM:-8g}" $OPENS ${EXTRA_JAVA_OPTS:-} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "/root/repo/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$CLS" "$@"
