#!/bin/bash
# Run graft.tools.ScaleSmoke from the compiled classes (sbt compile first):
#   tools/scale_smoke.sh <heap> <ScaleSmoke args: nDocs [nVecs]>
# The caller picks the case through ScaleSmoke's environment variables,
# e.g. the 1M-doc BM25 index smoke:
#   SCALE_ONLY_R12=1 SCALE_R12_CASE=bm25index tools/scale_smoke.sh 48g 1000000
# Spark's own INFO/WARN lines are dropped (graft's loggers, named `Object$`,
# are kept); the exit status is the JVM's, never grep's, so a thrown
# AssertionError fails the run.
cd "$(dirname "$0")/.." || exit 1
heap=${1:?usage: tools/scale_smoke.sh <heap> <ScaleSmoke args...>}
shift
# the Spark jar directory build.sbt compiles against
jars=$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' build.sbt)
jars=${jars:-$SPARK_HOME/jars}
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
    java.nio java.util java.util.concurrent java.util.concurrent.atomic \
    sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# shellcheck disable=SC2086
java -Xmx"$heap" $OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:$jars/*" \
  graft.tools.ScaleSmoke "$@" 2>&1 | grep -vE '^[0-9/]+ [0-9:]+ (INFO|WARN) [^ $]+: '
exit "${PIPESTATUS[0]}"
