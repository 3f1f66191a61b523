#!/bin/bash
# Run a graft main from compiled classes (dodges the sbt lock).
# Usage: HEAP=48g tools/run_java.sh graft.MainClass [args...]
# Runs the classes of the checkout this script lives in, so a copy or a
# worktree runs its own build, not another tree's.
ROOT=$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)
OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  OPENS="$OPENS --add-opens $p=ALL-UNNAMED"
done
exec java -Xmx"${HEAP:-16g}" $OPENS \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" "$@"
