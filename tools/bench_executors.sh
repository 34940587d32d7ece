#!/usr/bin/env bash
# N-vs-4N EXECUTOR scaling evidence (north rule): one executor = one JVM
# with its own heap/GC pinned to its own disjoint cores — the faithful
# single-box analog of cluster executors (a shared-heap local[8] vs
# local[32] run conflates job scaling with one JVM's GC/bandwidth limits
# that a real 4-node cluster does not share).
#
#   N  executors: 1 JVM  x local[C] on cores 0..C-1
#   4N executors: 4 JVMs x local[C] on disjoint core ranges, run
#                 concurrently; aggregate throughput = total docs / max wall
#
# Repeated PAIRS (lo, hi, lo, hi, ...) with a median ratio cancel this
# sandbox's multi-second host drift.
set -euo pipefail
cd "$(dirname "$0")/.."
C="${SPARK_GRAFT_EXEC_CORES:-2}"      # cores per executor
DOCS="${SPARK_GRAFT_BENCH_DOCS:-40000}"
PAIRS="${SPARK_GRAFT_BENCH_PAIRS:-5}"
OUT="${1:-/tmp/exec_scaling}"
mkdir -p "$OUT"

sbt -batch compile >/dev/null 2>&1
CP="target/scala-2.13/classes:src/main/resources:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
ADD_OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"

run_exec() { # $1=core-range $2=outfile
  # graft.Bench's pipeline-only mode: the e2e pipeline at local[C] over
  # C*4 partitions, full-size warmup, best of 5 timed passes; its "value"
  # is the executor's docs/s
  SPARK_GRAFT_PIPELINE_ONLY=1 SPARK_GRAFT_CPUS="$C" SPARK_GRAFT_BENCH_DOCS="$DOCS" \
    taskset -c "$1" java $ADD_OPENS -Xmx6g "-XX:ActiveProcessorCount=$C" \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "$CP" graft.Bench 2>/dev/null | grep '"metric"' > "$2"
}

lo_once() { # 1 executor; echoes docs/s
  run_exec "0-$((C-1))" "$OUT/lo.json"
  python3 -c "import json;print(json.load(open('$OUT/lo.json'))['value'])"
}

hi_once() { # 4 concurrent executors on disjoint cores; echoes aggregate docs/s
  local pids=()
  for i in 0 1 2 3; do
    local lo_core=$((i*C)); local hi_core=$((i*C+C-1))
    run_exec "$lo_core-$hi_core" "$OUT/hi$i.json" &
    pids+=($!)
  done
  for p in "${pids[@]}"; do wait "$p"; done
  # aggregate = total docs / max wall: all four executors do equal work,
  # so that is 4 x the slowest executor's docs/s (a sum of each one's own
  # best pass would count passes that did not overlap)
  python3 - "$OUT" <<'EOF'
import json, sys
out = sys.argv[1]
print(4 * min(json.load(open(f"{out}/hi{i}.json"))["value"] for i in range(4)))
EOF
}

LOS=(); HIS=()
for p in $(seq 1 "$PAIRS"); do
  l=$(lo_once); h=$(hi_once)
  echo "pair $p: lo=$l hi=$h eff=$(python3 -c "print(round($h/(4*$l),3))")" >&2
  LOS+=("$l"); HIS+=("$h")
done
python3 - <<EOF
import statistics as st
los = [float(x) for x in "${LOS[*]}".split()]
his = [float(x) for x in "${HIS[*]}".split()]
ratios = sorted(h/(4*l) for l, h in zip(los, his))
eff = st.median(ratios)
print('{"metric":"executor_scaling_efficiency","value":%.3f,"unit":"ratio",'
      '"docs_per_sec_1exec":%.1f,"docs_per_sec_4exec":%.1f,'
      '"cores_per_exec":$C,"pairs":%s,"target":0.8,"pass":%s}'
      % (eff, st.median(los), st.median(his),
         [round(r,3) for r in ratios], str(eff >= 0.8).lower()))
EOF
