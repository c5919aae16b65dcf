#!/bin/bash
# Regenerate the committed per-round evidence artifacts (run in tmux —
# the whole chain is ~2h; see memory note "graft-long-runs"):
#   correctness mirrors at sf0.001/0.01/0.1 (tools/check.py --jsonOut
#   shape), the full per-query bench mirror (graft.Probe mirror), and the
#   10x scale sweep (graft.ScaleBench -> SCALE.json).
# Usage: tools/round_artifacts.sh r14
set -u
R="${1:?round tag, e.g. r13}"
cd "$(dirname "$0")/.."
log=/tmp/${R}_chain.log
echo "CHAIN_START $(date)" > "$log"
for sf in 0.001 0.01 0.1; do
  out=/tmp/${R}_verify_sf${sf}
  sbt -batch "runMain graft.Verify /root/testdata/sf${sf} $out" \
    > /tmp/${R}_v_sf${sf}.log 2>&1
  echo "V_SF${sf}=$? $(date)" >> "$log"
  suffix=$([ "$sf" = "0.01" ] && echo "" || echo "_sf${sf}")
  python3 tools/check.py /root/testdata/sf${sf} "$out" \
    "CORRECTNESS_local_${R}${suffix}.json" > /tmp/${R}_c_sf${sf}.log 2>&1
  echo "CHECK_SF${sf}=$? $(date)" >> "$log"
done
SPARK_DRIVER_MEM=32g sbt -batch \
  "runMain graft.Probe mirror /root/testdata/sf0.1" \
  > /tmp/${R}_bench.log 2>&1
echo "MIRROR=$? $(date)" >> "$log"
grep -o '{"metric".*' /tmp/${R}_bench.log > "BENCH_local_${R}.json"
SPARK_DRIVER_MEM=32g sbt -batch "runMain graft.ScaleBench" \
  > /tmp/${R}_sweep.log 2>&1
echo "SWEEP=$? $(date)" >> "$log"
echo "CHAIN_DONE $(date)" >> "$log"
