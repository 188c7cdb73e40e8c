#!/bin/bash
# N-vs-4N scaling evidence with honest per-arm CPU budgets: each arm's
# JVM (worker threads AND GC) is pinned to exactly N cores via taskset,
# modelling an N-core executor. Usage:
#   dev/scaling.sh <nLow> <nConvs> <turnsPerConv> <repeats>
set -euo pipefail
cd "$(dirname "$0")/.."
NLOW="${1:-2}"; NCONVS="${2:-200000}"; TPC="${3:-25}"; REPEATS="${4:-3}"
NHIGH=$((NLOW * 4))
# shuffle, spill and sink output on tmpfs: local disk bandwidth is fixed
# per box and would otherwise be the Amdahl term in a scaling measurement
# (a real cluster scales local disks with executors)
export SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/dev/shm/graft-spark-local}"
# Per-executor resources held constant: a cluster of size N has N cores
# AND N executors' memory, so each arm gets heap proportional to cores
# (4 GiB/core, half young gen) on top of its pinned CPUs.
GB_PER_CORE="${GB_PER_CORE:-4}"
low=$(SPARK_DRIVER_MEM="$((NLOW*GB_PER_CORE))g" SPARK_GC_OPTS="-XX:+UseParallelGC -Xmn$((NLOW*GB_PER_CORE/2))g" \
  SPARK_GRAFT_CPUS="$NLOW" taskset -c 0-$((NLOW-1)) dev/run.sh graft.ScalingBench "$NCONVS" "$TPC" "$REPEATS" 2>/dev/null | grep '"arm"')
high=$(SPARK_DRIVER_MEM="$((NHIGH*GB_PER_CORE))g" SPARK_GC_OPTS="-XX:+UseParallelGC -Xmn$((NHIGH*GB_PER_CORE/2))g" \
  SPARK_GRAFT_CPUS="$NHIGH" taskset -c 0-$((NHIGH-1)) dev/run.sh graft.ScalingBench "$NCONVS" "$TPC" "$REPEATS" 2>/dev/null | grep '"arm"')
echo "$low"
echo "$high"
python3 - "$low" "$high" <<'EOF'
import json, sys
lo, hi = json.loads(sys.argv[1]), json.loads(sys.argv[2])
eff = hi["turns_per_sec"] / (4.0 * lo["turns_per_sec"])
print(json.dumps({"metric": "scaling_efficiency", "value": round(eff, 3), "unit": "ratio",
                  "turns": lo["turns"], "n_low": lo["arm"], "n_high": hi["arm"],
                  "sec_n_low": lo["sec"], "sec_n_high": hi["sec"],
                  "turns_per_sec_n_low": lo["turns_per_sec"],
                  "turns_per_sec_n_high": hi["turns_per_sec"]}))
EOF
