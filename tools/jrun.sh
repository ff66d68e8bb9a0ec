#!/bin/bash
# Frozen-classpath runner: launches a graft main class java-direct, bypassing
# sbt (no compile check, no sbt JVM, no target-dir lock). Used for bench cuts
# and plan captures so the measured JVM matches `sbt runMain` exactly: same
# --add-opens set (build.sbt jdk17AddOpens), same -Xmx default, same classes.
#
#   tools/jrun.sh graft.Bench
#   tools/jrun.sh graft.PlanAudit <sf-dir> q01_group_agg  # 5 timed runs + final plan
#
# Env passthrough is the shell's (SPARK_GRAFT_* variables work unchanged).
set -euo pipefail
CLASSES="${GRAFT_CLASSES:-/root/repo/target/scala-2.13/classes}"
ADD_OPENS=(
  java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect
  java.base/java.io java.base/java.net java.base/java.nio java.base/java.util
  java.base/java.util.concurrent java.base/java.util.concurrent.atomic
  java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action
  java.base/sun.util.calendar
)
OPENS_ARGS=()
for p in "${ADD_OPENS[@]}"; do OPENS_ARGS+=(--add-opens "$p=ALL-UNNAMED"); done
# GRAFT_JAVA_OPTS: optional extra -D flags (e.g. spark.* conf A/B testing)
EXTRA=(${GRAFT_JAVA_OPTS:-})
exec java "${OPENS_ARGS[@]}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  "-Xmx${SPARK_DRIVER_MEM:-8g}" \
  ${EXTRA[@]+"${EXTRA[@]}"} \
  -cp "$CLASSES:/opt/spark/jars/*" "$@"
