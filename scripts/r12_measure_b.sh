#!/bin/bash
# Round-12 wave B:
#   F. Retry the 500k composed pipeline WITH the 64g driver (wave A ran
#      it at the 8g default and minhash_clusters' checkpoint died in a
#      shuffled-hash build)
cd /root/repo || exit 1
mkdir -p logs
set -x
sweep() {
  for p in $(ps -o pid=,ppid=,comm= -e | awk '$2==1 && $3=="java" {print $1}'); do kill -9 "$p"; done
  sleep 2
  for d in /tmp/blockmgr-* /tmp/spark-*; do
    [ -e "$d" ] || continue
    fuser "$d" >/dev/null 2>&1 || rm -rf "$d"
  done
  df -h / | tail -1
}
sweep
SPARK_DRIVER_MEM=64g timeout 3600 \
  env SCALING_DOC_SIZES=500000 PIPE_MODES=both \
  python scripts/r12_pipeline.py >logs/r12_pipeline_500k_b.log 2>&1
sweep
echo "R12 WAVE B DONE"
