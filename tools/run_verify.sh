#!/bin/bash
# Run a graft main outside sbt (fast): classes + the Spark jars.
# Default MAIN=graft.Verify [sfDir] [outDir], which wipes outDir first;
# any other MAIN gets the arguments verbatim, e.g.
#   MAIN=graft.Diag tools/run_verify.sh audit <sfDir>
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
MAIN=${MAIN:-graft.Verify}
if [ "$MAIN" = graft.Verify ]; then
  rm -rf "$OUT"
  set -- "$SF" "$OUT"
fi
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS ${GRAFT_JAVA_OPTS:-} -Xmx${GRAFT_XMX:-8g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "/root/repo/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
