#!/bin/bash
# Wait for a quiet host window, then run one instrumented lo+hi bench pair.
# Runs graft.Bench via raw java (no sbt lock contention with the warm shell).
# Usage: tools/quiet_probe.sh [queries] [logfile] [extra env as K=V ...]
Q=${1:-6000}
LOG=${2:-/tmp/quiet_probe.log}
shift 2 2>/dev/null
busy() {
  read -r _ u n s idle io rest < /proc/stat
  a=$((u+n+s+idle+io)); b=$((idle+io))
  sleep 1.2
  read -r _ u2 n2 s2 idle2 io2 rest < /proc/stat
  a2=$((u2+n2+s2+idle2+io2)); b2=$((idle2+io2))
  echo $(( (100*((a2-a)-(b2-b))) / (a2-a) ))
}
for i in $(seq 1 200); do
  L=$(cut -d' ' -f1 /proc/loadavg | cut -d. -f1)
  B=$(busy)
  if [ "$L" -lt 3 ] && [ "$B" -lt 8 ]; then break; fi
  sleep 8
done
echo "=== probe start $(date +%T) load=$(cat /proc/loadavg)" >> "$LOG"
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
MEM=${SPARK_DRIVER_MEM:-64g}
env BENCH_SKIP_QUERIES=1 BENCH_ATTEMPTS=1 BENCH_TARGET_EFF=0 \
  BENCH_QUERIES="$Q" "$@" \
  java $ADDOPENS -Xmx$MEM -Xms$MEM \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "/root/repo/target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Bench >> "$LOG" 2>&1
echo "=== probe end $(date +%T) load=$(cat /proc/loadavg)" >> "$LOG"
