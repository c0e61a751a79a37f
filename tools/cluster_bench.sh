#!/bin/bash
# Multi-executor scaling evidence for the BASELINE.json north rule:
# stand up a REAL Spark standalone cluster on this box (master + worker
# daemons, separate executor JVMs, netty shuffle), then spark-submit the
# pipeline at two cluster sizes — 1 executor (2 cores) and HI/2 executors
# (2 cores each), HI = min(8, nproc) rounded down to even — interleaved
# hi/lo so both sizes sample the same hypervisor noise windows. Prints
# per-rep JSON lines and a final efficiency summary.
#
# Usage: tools/cluster_bench.sh [nTurns]   (default 64000000, ~25 min)
set -euo pipefail
cd "$(dirname "$0")/.."

SPARK=/opt/spark
JAR=$(ls target/scala-2.13/clpspark_2.13-*.jar | head -1)
NTURNS=${1:-64000000}
WORK=/dev/shm/graft-cluster
TURNS=$WORK/turns
MASTER=spark://127.0.0.1:7077
export SPARK_HOME=$SPARK SPARK_LOG_DIR=$WORK/logs SPARK_PID_DIR=$WORK/pids

# Heap sizes follow the host (GiB of MemTotal): the worker gets half of it,
# each of its four 2-core executors a quarter of the worker, the driver a
# sixth of the host (at least 2g). The former fixed sizes, 48g / 9g / 8g,
# are the ceilings.
MEM_G=$(awk '/^MemTotal:/ {print int($2 / 1048576)}' /proc/meminfo)
clamp() { local v=$1 lo=$2 hi=$3; echo $(( v < lo ? lo : v > hi ? hi : v )); }
WORKER_MEM=$(clamp $((MEM_G / 2)) 4 48)
EXEC_MEM=$(clamp $((WORKER_MEM / 4)) 1 9)
DRIVER_MEM=$(clamp $((MEM_G / 6)) 2 8)

# Core counts follow the host too: the worker offers every core, the hi leg
# takes min(8, nproc) rounded down to even (whole 2-core executors), the lo
# leg one executor. On a host with fewer than 4 cores both legs are 2 cores.
NPROC=$(nproc)
LO_CORES=2
HI_CORES=$(clamp $(( (NPROC < 8 ? NPROC : 8) / 2 * 2 )) $LO_CORES 8)

cleanup() {
  "$SPARK/sbin/stop-worker.sh" >/dev/null 2>&1 || true
  "$SPARK/sbin/stop-master.sh" >/dev/null 2>&1 || true
}
trap cleanup EXIT
mkdir -p "$WORK/logs" "$WORK/pids"

"$SPARK/sbin/start-master.sh" --host 127.0.0.1 --port 7077 --webui-port 8090
# SPARK_LOCAL_DIRS (not spark.local.dir) is what standalone executors use
# for shuffle/spill scratch — point it at tmpfs like graft.Bench does
SPARK_WORKER_CORES=$NPROC SPARK_WORKER_MEMORY=${WORKER_MEM}g SPARK_LOCAL_DIRS=$WORK/spark-local \
  "$SPARK/sbin/start-worker.sh" "$MASTER" --host 127.0.0.1 --webui-port 8091
sleep 5

submit() { # submit <cores.max> <class-args...>
  local cmax=$1; shift
  "$SPARK/bin/spark-submit" --master "$MASTER" \
    --class graft.tools.ClusterBench \
    --driver-memory ${DRIVER_MEM}g \
    --conf spark.executor.cores=2 \
    --conf spark.executor.memory=${EXEC_MEM}g \
    --conf "spark.cores.max=$cmax" \
    --conf spark.local.dir=$WORK/spark-local \
    --conf spark.sql.adaptive.enabled=true \
    --conf spark.ui.enabled=false \
    "$JAR" "$@" 2>"$WORK/logs/submit-stderr.log" | grep -E '^\{"cluster_'
}

RESULTS=$WORK/results.jsonl
: >"$RESULTS"
[ -d "$TURNS" ] || submit $HI_CORES gen "$TURNS" "$NTURNS" | tee -a "$RESULTS"

# interleaved legs: hi, lo(1 executor), hi, lo, hi
for leg in $HI_CORES $LO_CORES $HI_CORES $LO_CORES $HI_CORES; do
  rm -rf "$WORK/run"
  submit "$leg" run "$TURNS" "$WORK/run" | tee -a "$RESULTS"
done

python3 - "$RESULTS" "$HI_CORES" "$LO_CORES" <<'EOF'
import json, sys
hi_cores, lo_cores = int(sys.argv[2]), int(sys.argv[3])
runs = [json.loads(l)["cluster_run"] for l in open(sys.argv[1]) if '"cluster_run"' in l]
hi = [r for r in runs if r["total_cores"] == hi_cores]
lo = [r for r in runs if r["total_cores"] == lo_cores]
bh, bl = max(r["thr"] for r in hi), max(r["thr"] for r in lo)
print(json.dumps({"cluster_scaling": {
    "cores_lo": lo_cores, "cores_hi": hi_cores,
    "executors_lo": max(r["executors"] for r in lo),
    "executors_hi": max(r["executors"] for r in hi),
    "thr_lo": bl, "thr_hi": bh,
    "reps_thr_lo": [r["thr"] for r in lo], "reps_thr_hi": [r["thr"] for r in hi],
    "reps_burn_lo": [r["burn_miters_per_sec"] for r in lo],
    "reps_burn_hi": [r["burn_miters_per_sec"] for r in hi],
    "efficiency": round(bh / ((hi_cores / lo_cores) * bl), 3)}}))
EOF
