#!/bin/bash
# Run a graft main class (graft.Bench, graft.Verify, graft.MediaBench, or the
# graft.Trace census|jobs|phases|explain diagnostics) with the same JVM
# options sbt's forked run uses, without sbt's project lock (lets a bench
# and a verify run side-by-side). Example:
#   tools/run_main.sh graft.Trace census '^q0' <sfDir>
# Paths resolve from the script's own location / env (r14 advice) so the
# script survives a different checkout dir or Spark install.
# Plan-identity check between two checkouts: dump `graft.Trace explain` from
# each (same regex, same sfDir) and compare the operator trees, which masks
# expression ids, lambda class names and file:line RDD names:
#   tools/run_main.sh graft.Trace explain '^x0' <sfDir> > after.txt
#   python3 tools/plan_skeleton.py before.txt after.txt [--details]
REPO_ROOT="$(cd "$(dirname "$0")/.." && pwd)"
SPARK_JARS_DIR="${SPARK_JARS_DIR:-/opt/spark/jars}"
MAIN="$1"; shift
exec java \
  --add-opens java.base/java.lang=ALL-UNNAMED \
  --add-opens java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens java.base/java.io=ALL-UNNAMED \
  --add-opens java.base/java.net=ALL-UNNAMED \
  --add-opens java.base/java.nio=ALL-UNNAMED \
  --add-opens java.base/java.util=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens java.base/sun.security.action=ALL-UNNAMED \
  --add-opens java.base/sun.util.calendar=ALL-UNNAMED \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$REPO_ROOT/target/scala-2.13/classes:$SPARK_JARS_DIR/*" \
  "$MAIN" "$@"
