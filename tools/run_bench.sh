#!/bin/bash
# Bench runner: runs graft.Bench from a frozen classpath snapshot, so
# recompiles in the working tree cannot perturb the measurement. Writes
# Bench's JSON result line to <outfile>.
#
# Usage: tools/run_bench.sh <classpath_dir> <outfile> [cpus] [names-csv]
#   cpus       SPARK_GRAFT_CPUS for the run (default: nproc)
#   names-csv  comma-separated query names to run (default: the full
#              registry); a name list is a focused min-of-3 run, and
#              an unknown name makes Bench exit 2
# The fixture directory is Bench's own SPARK_GRAFT_SF_DIR default unless
# the caller exports one.
set -u
if [ $# -lt 2 ]; then
  echo "usage: $0 <classpath_dir> <outfile> [cpus] [names-csv]" >&2
  exit 2
fi
CP="$(cd "$1" && pwd)"; OUT="$(cd "$(dirname "$2")" && pwd)/$(basename "$2")"
CPUS="${3:-$(nproc)}"; NAMES="${4:-}"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
cd "$(dirname "$0")/.."
# Spark jars: SPARK_HOME's, else the directory build.sbt compiles against
if [ -n "${SPARK_HOME:-}" ]; then JARS="$SPARK_HOME/jars"
else JARS="$(sed -n 's/.*unmanagedBase *:= *file("\([^"]*\)").*/\1/p' build.sbt)"
fi
# Bench's stderr holds Spark's log and Bench's own "[bench] ..." lines
# (a failed query, an unknown name); only the latter reach the caller
ERR="$(mktemp)"; trap 'rm -f "$ERR"' EXIT
SPARK_GRAFT_ONLY="$NAMES" \
SPARK_GRAFT_CPUS="$CPUS" \
SPARK_GRAFT_SKIP_OUTFILE=1 \
java $ADD_OPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP:$JARS/*" graft.Bench \
  2>"$ERR" | grep -v '^\[' | tail -1 > "$OUT"
status=${PIPESTATUS[0]}
grep '^\[bench\]' "$ERR" >&2
if [ "$status" -ne 0 ]; then echo "$0: graft.Bench exited $status" >&2; exit "$status"; fi
