#!/usr/bin/env bash
# North-rule scaling evidence: identical job, identical input, two
# parallelism levels, each in its own JVM via spark-submit.
#
# Measurement protocol: this sandbox's host STEALS CPU in multi-minute
# episodes (observed ~10% steal with useful throughput collapsing 5-10x —
# see BENCH.md "noise" section). Levels are therefore measured in
# ALTERNATING passes (lo, hi, lo, hi) and the per-level MIN is taken, so
# a noisy episode cannot bias one level selectively. The CpuProbe runs
# last and calibrate the machine's own scaling ceiling (SMT/turbo).
#
# Usage: scripts/scaling.sh [nRows] [loCores] [hiCores] [passes]
#   defaults: 2000000 rows, 1 core vs `nproc` cores, 3 passes
set -euo pipefail
cd "$(dirname "$0")/.."

N=${1:-2000000}
LO=${2:-1}
HI=${3:-$(nproc)}
PASSES=${4:-3}
JAR=target/scala-2.13/aimonitoringlogprocessorspark_2.13-0.1.0.jar
WORK=$(mktemp -d /dev/shm/graft-scaling-XXXX)
trap 'rm -rf "$WORK"' EXIT
# -Xms=-Xmx + AlwaysPreTouch: without it the JVM faults its heap in
# lazily and the first ~8 write-heavy jobs pay multi-10s page-zeroing
# penalties at high thread counts (measured 64s -> 5s on identical work).
# Big fixed young gen: the write path is pure churn (no live data), so
# promotion — and with it G1 mixed/full pauses — is avoided entirely.
# Heap: half the host's memory, between 2g and 8g; young gen half of it.
MEM_G=$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g)}' /proc/meminfo)
SUBMIT=(/opt/spark/bin/spark-submit --driver-memory "${MEM_G}g"
        --conf spark.ui.enabled=false
        --conf spark.sql.session.timeZone=UTC
        --conf spark.sql.maxConcurrentOutputFileWriters=8
        --conf "spark.driver.extraJavaOptions=-XX:+UseParallelGC -Xmn$((MEM_G * 512))m -Xms${MEM_G}g -XX:+AlwaysPreTouch")

sbt -batch package > /dev/null

echo "== generate input ($N rows) =="
"${SUBMIT[@]}" --master "local[$HI]" --class graft.ScalingGen "$JAR" "$N" "$WORK/pages" 2>/dev/null

declare -A BEST
BEST[$LO]=""; BEST[$HI]=""
for P in $(seq 1 "$PASSES"); do
  for C in "$LO" "$HI"; do
    OUT=$("${SUBMIT[@]}" --master "local[$C]" \
        --conf "spark.sql.shuffle.partitions=$C" \
        --class graft.ScalingStep "$JAR" "$WORK/pages" "$WORK/out-$C-$P" 1 2>/dev/null | grep '"cores"')
    echo "pass $P local[$C]: $OUT"
    S=$(echo "$OUT" | python3 -c 'import json,sys; print(json.load(sys.stdin)["secs"])')
    if [ -z "${BEST[$C]}" ] || python3 -c "import sys; sys.exit(0 if $S < ${BEST[$C]} else 1)"; then BEST[$C]=$S; fi
    rm -rf "$WORK/out-$C-$P"
  done
done

echo "== cpu probe (machine ceiling) =="
P_LO=$("${SUBMIT[@]}" --master "local[$LO]" --class graft.CpuProbe "$JAR" 4000000000 2>/dev/null | grep '"cores"')
P_HI=$("${SUBMIT[@]}" --master "local[$HI]" --class graft.CpuProbe "$JAR" 4000000000 2>/dev/null | grep '"cores"')
echo "$P_LO"; echo "$P_HI"

python3 - "$N" "$LO" "$HI" "${BEST[$LO]}" "${BEST[$HI]}" "$P_LO" "$P_HI" <<'EOF'
import json, sys
n, lo, hi = int(sys.argv[1]), int(sys.argv[2]), int(sys.argv[3])
tlo, thi = float(sys.argv[4]), float(sys.argv[5])
plo, phi = json.loads(sys.argv[6]), json.loads(sys.argv[7])
ratio = hi / lo
speedup = tlo / thi
ceiling = plo["secs"] / phi["secs"]
print(json.dumps({
    "rows": n, "lo_cores": lo, "hi_cores": hi,
    "t_lo_sec": tlo, "t_hi_sec": thi,
    "docs_per_sec_lo": round(n / tlo), "docs_per_sec_hi": round(n / thi),
    "speedup": round(speedup, 3),
    "scaling_efficiency": round(speedup / ratio, 3),
    "machine_ceiling_speedup": round(ceiling, 3),
    "machine_ceiling_efficiency": round(ceiling / ratio, 3),
    "efficiency_vs_machine_ceiling": round(speedup / ceiling, 3)}))
EOF
