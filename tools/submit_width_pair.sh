#!/usr/bin/env bash
# North-rule letter check: the SAME full pipeline job through the real
# /opt/spark/bin/spark-submit binary at two parallelism levels (local[8] and
# local[32]) on the SAME deterministic input, reporting throughput at both
# plus the scaling efficiency. Complements perfbench (one JVM, layer-traced
# runs at a fixed width); this script evidences the spark-submit surface
# itself at both widths.
#
# Usage: tools/submit_width_pair.sh [convs] [outRoot]
#
# WIDTH_PAIR_INPUT=<path>: production shape — read a pre-materialized
# transcript table (PipelineApp --dump-input) instead of synthesizing, so
# the measured job is read -> pipeline -> write with no synthesis or gold
# evaluation (F1 prints NaN; the json parser tolerates it).
set -euo pipefail
cd "$(dirname "$0")/.."

CONVS="${1:-1000000}"
ROOT="${2:-/dev/shm/pkel-width-pair}"
JAR=target/scala-2.13/pk_parameter_entity_linkingspark_2.13-0.1.0.jar

[ -f "$JAR" ] || sbt -batch package

run_width() {
  local width="$1"
  local out="$ROOT/w$width"
  rm -rf "$out"
  local src_args=(--convs "$CONVS" --table-rate 0.08)
  [ -n "${WIDTH_PAIR_INPUT:-}" ] && src_args=(--input "$WIDTH_PAIR_INPUT")
  /opt/spark/bin/spark-submit --master "local[$width]" --driver-memory 24g \
    --conf spark.sql.shuffle.partitions=128 \
    --conf spark.local.dir=/dev/shm/spark-local \
    --class pkel.app.PipelineApp "$JAR" \
    "${src_args[@]}" --out "$out" 2>&1 |
    grep -E '^\{"mentions"' | tail -1
}

echo "== spark-submit local[8], $CONVS convs"
J8=$(run_width 8)
echo "$J8"
echo "== spark-submit local[32], $CONVS convs"
J32=$(run_width 32)
echo "$J32"

python3 - "$J8" "$J32" <<'EOF'
import json, sys
j8, j32 = json.loads(sys.argv[1]), json.loads(sys.argv[2])
assert j8["pairs"] == j32["pairs"] and j8["clusters"] == j32["clusters"], \
    "job not identical across widths"
t8 = j8["pairs"] / j8["wall_sec"]
t32 = j32["pairs"] / j32["wall_sec"]
print(json.dumps({
    "convs_pairs": j8["pairs"],
    "full_job_pairs_per_sec_8": round(t8),
    "full_job_pairs_per_sec_32": round(t32),
    "full_job_scaling_efficiency": round(t32 / (4 * t8), 3),
    "wall_8_sec": j8["wall_sec"], "wall_32_sec": j32["wall_sec"],
    "f1": j8["pairwise_f1"],
}))
EOF
