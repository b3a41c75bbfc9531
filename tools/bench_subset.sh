#!/usr/bin/env bash
# Isolated-query bench: run graft.Bench on a comma-separated query subset
# against a FROZEN snapshot of target/scala-2.13/classes, so source edits
# during a run can't swap class files under the JVM and no sbt lock is
# held. The snapshot lives in a fresh temporary directory that is removed
# on exit. Usage:
#   tools/bench_subset.sh <outfile> <q_a,q_b,...> [cpus] [sfdir]
# Prints the per_query, total and load_index lines; Bench's stderr goes to
# <outfile minus .out>.err. Exits non-zero when the classes are missing,
# Bench fails (an unknown query name included; the tail of the .err file
# is echoed), or no board line was printed. Build the classes first with
# `sbt compile` (or `sbt Test/compile`).
set -euo pipefail
OUT=${1:?outfile}
QUERIES=${2:?query list}
CPUS=${3:-32}
SFDIR=${4:-/root/testdata/sf0.1}
ROOT=$(cd "$(dirname "$0")/.." && pwd)
CLASSES="$ROOT/target/scala-2.13/classes"
if [ ! -d "$CLASSES/graft" ]; then
  echo "bench_subset: no compiled classes under $CLASSES; run sbt compile first" >&2
  exit 1
fi

SNAP=$(mktemp -d)
trap 'rm -rf "$SNAP"' EXIT
cp -a "$CLASSES/." "$SNAP"

# 4g matches SBT_OPTS' -Xmx for `sbt runMain graft.Bench`, the heap the
# committed boards in BASELINE.md were measured at.
ERR="${OUT%.out}.err"
if ! SPARK_GRAFT_SF_DIR="$SFDIR" SPARK_GRAFT_CPUS="$CPUS" \
  SPARK_GRAFT_QUERIES="$QUERIES" \
  "$ROOT/tools/spark_main.sh" "$SNAP" "${SPARK_DRIVER_MEM:-4g}" graft.Bench \
    > "$OUT" 2> "$ERR"; then
  echo "bench_subset: Bench failed; last lines of $ERR:" >&2
  tail -n 5 "$ERR" >&2
  exit 1
fi
grep '"metric":"per_query"\|"metric":"total"\|"metric":"load_index"' "$OUT"
