#!/usr/bin/env bash
# Endurance soak for the compaction/exactly-once machinery (VERDICT r9
# item 5): the r8 violation reproduced ~1-in-20, so N green runs in a
# row is the evidence bar, not one. Runs EsSimSourceSpec (which holds
# the `Main --once` resume across checkpoint file managers) +
# LocalCheckpointFileManagerSpec + CompactionPropertySpec +
# EsSimStoreSpec (the store read-back against its former plan) +
# StreamingCorpusSyncSpec (the artifact lanes folded on concurrent
# threads) + StreamingHistorySpec (the admission-history lifecycle:
# replay after a fold, fold debris, random slicings with folds and
# replays, compactEvery through each leg's streaming query) +
# ClusterMaintenanceSpec (the cluster map's merge, delete and
# compaction against one-shot CC) + LifecycleFailureSpec (a sync that
# fails part-way, per artifact family) + LaneReadSpec (lane reads from a
# driver listing under declared schemas: schema drift, no read-planning
# job, empty partitioned lanes, no tombstone WARN) N times (default 20),
# one sbt session per run, and reports the pass count.
#
#   scripts/soak.sh [N]
set -u
N="${1:-20}"
pass=0
for i in $(seq 1 "$N"); do
  if sbt -batch "testOnly graft.EsSimSourceSpec graft.LocalCheckpointFileManagerSpec graft.CompactionPropertySpec graft.EsSimStoreSpec graft.StreamingCorpusSyncSpec graft.StreamingHistorySpec graft.ClusterMaintenanceSpec graft.LifecycleFailureSpec graft.LaneReadSpec" \
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
