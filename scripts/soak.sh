#!/usr/bin/env bash
# Endurance soak for the compaction/exactly-once machinery (VERDICT r9
# item 5): the r8 violation reproduced ~1-in-20, so N green runs in a
# row is the evidence bar, not one. Runs EsSimSourceSpec (which holds
# the `Main --once` resume across checkpoint file managers) +
# LocalCheckpointFileManagerSpec + CompactionPropertySpec N times
# (default 20), one sbt session per run, and reports the pass count.
#
#   scripts/soak.sh [N]
set -u
N="${1:-20}"
pass=0
for i in $(seq 1 "$N"); do
  if sbt -batch "testOnly graft.EsSimSourceSpec graft.LocalCheckpointFileManagerSpec graft.CompactionPropertySpec" \
      > "/tmp/soak_$i.log" 2>&1; then
    pass=$((pass + 1))
    echo "soak run $i/$N: PASS"
  else
    echo "soak run $i/$N: FAIL (log: /tmp/soak_$i.log)"
    grep -E "TESTS FAILED|\*\*\* FAILED" "/tmp/soak_$i.log" | head -5
  fi
done
echo "soak: $pass/$N green"
[ "$pass" -eq "$N" ]
