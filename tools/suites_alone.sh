#!/usr/bin/env bash
# Run test suites one at a time, each in its own sbt and forked JVM, and
# print PASS or FAIL per suite. Under `testOnly *` every suite shares one
# SparkSession; a suite that passes there but fails here depends on what
# an earlier suite left behind (a session conf, a cache entry, a view).
#
#   tools/suites_alone.sh [graft.SomeSpec ...]
#
# With no arguments it runs every `*Spec` class under src/test/scala.
# The environment and the per-suite timeout (2670 s) are the Tier-1
# command's (ROADMAP.md); each suite's sbt log is kept under
# target/suites-alone/. Exits 1 when any suite failed.
set -u
cd "$(dirname "$0")/.."

export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" SPARK_DRIVER_MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)" SPARK_LOCAL_DIRS=/tmp/spark-local
logs=target/suites-alone
mkdir -p "$logs"

if [ "$#" -eq 0 ]; then
  suites=()
  while IFS= read -r f; do
    pkg=$(sed -n 's/^package \([A-Za-z0-9_.]*\).*/\1/p' "$f" | head -1)
    for cls in $(sed -n 's/^\(final \)\{0,1\}class \([A-Za-z0-9_]*Spec\)\b.*/\2/p' "$f"); do
      suites+=("${pkg:+$pkg.}$cls")
    done
  done < <(find src/test/scala -name '*.scala' | sort)
  set -- "${suites[@]}"
fi

failed=0
for s in "$@"; do
  log="$logs/$s.log"
  t0=$(date +%s)
  timeout -k 10 2670 sbt --batch -Dsbt.log.noformat=true "testOnly $s" >"$log" 2>&1
  rc=$?
  secs=$(( $(date +%s) - t0 ))
  counts=$(grep -o 'Tests: succeeded [0-9]*, failed [0-9]*' "$log" | tail -1)
  if [ "$rc" -eq 0 ] && [ -n "$counts" ]; then
    echo "PASS $s (${counts#Tests: }; ${secs} s)"
  else
    failed=1
    echo "FAIL $s (exit $rc; ${counts:-no tests ran}; ${secs} s; log $log)"
  fi
done
exit "$failed"
