#!/bin/bash
# Round-19 quiet-record chain (same protocol as run_r18_quiet.sh): warm
# reps-3, single-pass reps-1, then the sbt-runMain dress rehearsal —
# sequential so no record contends with another, each through quiet_bench's
# measured-quiet gate. SPARK_GRAFT_CPUS is pinned by quiet_bench (32).
set -u
cd /root/repo
echo "=== reps3 $(date +%T) ===" >&2
bash tools/quiet_bench.sh tools/bench_r19_reps3.json 60 /root/testdata/sf0.1 3
echo "=== reps1 $(date +%T) ===" >&2
bash tools/quiet_bench.sh tools/bench_r19_reps1.json 60 /root/testdata/sf0.1 1
echo "=== sbt dress $(date +%T) ===" >&2
END=$(( $(date +%s) + 60 * 60 ))
while [ "$(date +%s)" -lt "$END" ]; do
  S0=$(awk '/^cpu /{print $9}' /proc/stat); sleep 60
  S1=$(awk '/^cpu /{print $9}' /proc/stat); D=$(( S1 - S0 ))
  L=$(cut -d' ' -f1 /proc/loadavg)
  OK=$(awk -v l="$L" 'BEGIN{print (l < 1.0) ? 1 : 0}')
  echo "$(date +%T) dress-gate steal=${D}j/60s load=$L" >&2
  if [ "$D" -lt 120 ] && [ "$OK" = "1" ]; then
    # sbt prefixes stdout with '[info] ' — extract the JSON object rather
    # than anchoring on '^{' (the r16/r17 0-byte-dress lesson).
    # Bench prints two {"metric":"total"...} lines, the full record and
    # a short tail summary; the dress file keeps only the first, full one
    # (sed reads to the end, so sbt never writes into a closed pipe).
    SPARK_GRAFT_BENCH_REPS=1 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
      SPARK_GRAFT_CPUS=32 \
      sbt "runMain graft.Bench" 2>/dev/null | grep -o '{"metric".*}' \
      | sed -n 1p \
      > tools/bench_r19_sbt_dress.json
    if [ -s tools/bench_r19_sbt_dress.json ]; then
      echo "dress recorded $(date +%T)" >&2; break
    fi
    echo "dress attempt produced empty output; retrying" >&2
  fi
done
echo "=== done $(date +%T) ===" >&2
