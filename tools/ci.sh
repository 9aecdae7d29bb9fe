#!/usr/bin/env bash
# Full local gate: compile + specs, oracle-verify at all three scale
# factors, then bench at sf0.1. Mirrors what the driver runs per round.
set -euo pipefail
cd "$(dirname "$0")/.."

# JSON control files are decoded by the typed codec only
# (src/main/scala/graft/ControlFiles.scala): a hand-rolled
# `"<field>"\s*:` regex anywhere else in the engine fails the gate
if grep -rnE '"\\{1,2}s\*:' src/main/scala --include='*.scala' \
    | grep -v '^src/main/scala/graft/ControlFiles.scala:'; then
  echo "ci: JSON-field regex outside ControlFiles.scala (decode through the codec)" >&2
  exit 1
fi

# benchmark arithmetic (stats.py) unit tests
python3 perfbench/test_stats.py

sbt -batch test

for sf in 0.001 0.01 0.1; do
  out="/tmp/graft_ci_sf$sf"
  sbt -batch "runMain graft.Verify /root/testdata/sf$sf $out" 2>&1 | grep "\[verify\]" || true
  python3 tools/check.py "/root/testdata/sf$sf" "$out"
done

SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32} \
  sbt -batch "runMain graft.Bench" 2>&1 | grep '{"metric"' | sed 's/^\[info\] //'
