#!/bin/bash
# Run a graft main on local-cluster (real worker JVMs, separate executor
# processes) — the r15 launch recipe in one place:
#   - SPARK_SCALA_VERSION exported (the executor launcher's
#     getScalaVersion has no distribution fallback)
#   - app shipped as a JAR: driver -cp's the jar AND spark.jars the same
#     file (a bare classes dir deserializes closures in a different
#     classloader -> SerializedLambda ClassCastException)
# The JVM itself is started by tools/runjava.sh (one flag list).
# Usage: tools/runcluster.sh <mainClass> [args...]
#   env: SPARK_GRAFT_MASTER (default local-cluster[2,4,4096]),
#        SPARK_GRAFT_CHECKPOINT_DIR (default target/cluster-ckpt),
#        everything else passes through (BENCH_ONLY, SF_DIR, ...)
cd "$(dirname "$0")/.."
JAR=target/scala-2.13/aics_dask_utilsspark_2.13-0.1.0.jar
[ -f "$JAR" ] || { echo "missing $JAR — run: sbt -batch package" >&2; exit 1; }
export SPARK_SCALA_VERSION=2.13
export SPARK_GRAFT_MASTER="${SPARK_GRAFT_MASTER:-local-cluster[2,4,4096]}"
export SPARK_GRAFT_APP_JAR="$(pwd)/$JAR"
export SPARK_GRAFT_CHECKPOINT_DIR="${SPARK_GRAFT_CHECKPOINT_DIR:-$(pwd)/target/cluster-ckpt}"
mkdir -p "$SPARK_GRAFT_CHECKPOINT_DIR"
exec tools/runjava.sh "$@"
