#!/bin/bash
# Round-18 quiet-record chain (VERDICT-r17 #1 and #3): warm reps-3,
# single-pass reps-1, then the sbt-runMain dress rehearsal — sequential so
# no record contends with another, each through quiet_bench's measured-quiet
# gate (the dress rehearsal gates on the same probe inline since it must go
# through sbt, not the raw java path quiet_bench launches).
set -u
cd /root/repo
echo "=== reps3 $(date +%T) ===" >&2
bash tools/quiet_bench.sh tools/bench_r18_reps3.json 45 /root/testdata/sf0.1 3
echo "=== reps1 $(date +%T) ===" >&2
bash tools/quiet_bench.sh tools/bench_r18_reps1.json 45 /root/testdata/sf0.1 1
echo "=== sbt dress $(date +%T) ===" >&2
# Wait for one measured-quiet minute (same gate as quiet_bench), then run
# the driver-path rehearsal: a fresh forked `sbt runMain` JVM (build.sbt's
# javaOptions: 8g heap, add-opens, UTC) — the exact invocation the driver
# uses for BENCH_r{N}.
END=$(( $(date +%s) + 45 * 60 ))
while [ "$(date +%s)" -lt "$END" ]; do
  S0=$(awk '/^cpu /{print $9}' /proc/stat); sleep 60
  S1=$(awk '/^cpu /{print $9}' /proc/stat); D=$(( S1 - S0 ))
  L=$(cut -d' ' -f1 /proc/loadavg)
  OK=$(awk -v l="$L" 'BEGIN{print (l < 1.0) ? 1 : 0}')
  echo "$(date +%T) dress-gate steal=${D}j/60s load=$L" >&2
  if [ "$D" -lt 120 ] && [ "$OK" = "1" ]; then
    # sbt prefixes every stdout line with '[info] ', so a bare grep '^{'
    # NEVER matches — this exact bug produced the 0-byte
    # bench_r16_sbt_dress.json and the r17 no-record (VERDICT-r17 #3);
    # strip the prefix instead of anchoring on it.
    # Bench prints two {"metric":"total"...} lines, the full record and
    # a short tail summary; the dress file keeps only the first, full one
    # (sed reads to the end, so sbt never writes into a closed pipe).
    SPARK_GRAFT_BENCH_REPS=1 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
      sbt "runMain graft.Bench" 2>/dev/null | grep -o '{"metric".*}' \
      | sed -n 1p \
      > tools/bench_r18_sbt_dress.json
    if [ -s tools/bench_r18_sbt_dress.json ]; then
      echo "dress recorded $(date +%T)" >&2; break
    fi
    echo "dress attempt produced empty output; retrying" >&2
  fi
done
echo "=== done $(date +%T) ===" >&2
