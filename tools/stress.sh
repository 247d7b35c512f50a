#!/bin/sh
# The rehearsal entry point: failure modes the timing runs cannot show,
# one mode per run (StressRehearsal.scala, on Engine.session; earlier
# scale rehearsals are recorded in SCALE_r*.md):
#   tools/stress.sh spill   — q18 + minhash at 10x under a 4g heap: must
#                             COMPLETE by spilling (task-metric spill bytes
#                             reported), not OOM.
#   tools/stress.sh skew    — one hot l_orderkey carrying ~10% of a 10x
#                             fact through a shuffle join: AQE must split
#                             the skewed partition (numSkewedPartitions>0;
#                             the run exits non-zero otherwise).
#   tools/stress.sh asofspill — constant-key as-of at R=40 under a 4g
#                             heap: the single-window arm's one-partition
#                             sort must COMPLETE by spilling; the sliced
#                             arm runs the same rows spread over slices.
# Honors SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS. The spill heap rides
# build.sbt's SPARK_DRIVER_MEM passthrough.
set -e
cd "$(dirname "$0")/.."
mode="${1:-spill}"
if [ "$mode" = "spill" ]; then
  SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-4g}" sbt --error "runMain graft.StressRehearsal spill"
elif [ "$mode" = "asofspill" ]; then
  SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-4g}" SPARK_GRAFT_STRESS_R="${SPARK_GRAFT_STRESS_R:-40}" \
    sbt --error "runMain graft.StressRehearsal asofspill"
else
  sbt --error "runMain graft.StressRehearsal $mode"
fi
