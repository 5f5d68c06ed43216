#!/usr/bin/env bash
# Run a graft main class straight from compiled classes, bypassing sbt —
# sbt holds a global server/target lock, so long profiling campaigns would
# otherwise serialize against test runs. Mirrors build.sbt's forked-JVM
# options (JDK17 add-opens + heap); the session confs come from
# graft.Graft.session. Compile first: sbt compile.
#
#   tools/runmain.sh graft.tools.Profile /tmp/graft-testdata/sf100 3 q_rollup
set -euo pipefail
cd "$(dirname "$0")/.."
ADD_OPENS=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS+=("--add-opens" "java.base/$p=ALL-UNNAMED")
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS+=("--add-opens" "java.base/$p=ALL-UNNAMED")
done
# GRAFT_CLASSES overrides the class dir — point long background runs at a
# snapshot copy so a concurrent sbt recompile can't swap class files under
# a live JVM mid-campaign.
exec java "${ADD_OPENS[@]}" \
  "-Xmx${SPARK_DRIVER_MEM:-8g}" \
  -cp "${GRAFT_CLASSES:-target/scala-2.13/classes}:/opt/spark/jars/*" \
  "$@"
