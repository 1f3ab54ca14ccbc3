#!/usr/bin/env bash
# The tier-1 gate: compile the tests, then run every ScalaTest suite, with
# the offline sbt settings and the CPU and driver-memory exports of the
# tier-1 verify command in ROADMAP.md (kept verbatim). Run it from
# anywhere; it works in the repository root.
set -uo pipefail
cd "$(dirname "$0")/.."
export COURSIER_MODE=offline SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=/root/.sbt/repositories -Dsbt.offline=true -Xmx4g}"; timeout -k 10 2670 sbt --batch -Dsbt.log.noformat=true Test/compile && export COURSIER_MODE=offline SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=/root/.sbt/repositories -Dsbt.offline=true -Xmx4g}"; export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" SPARK_DRIVER_MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 sbt --batch -Dsbt.log.noformat=true "testOnly *"
