#!/bin/bash
# sf100 evidence sweep: runs graft.tools.ScaleProbe once per phase group,
# sequentially (each run sizes shuffle scratch for a quiet machine), and
# writes one artifact per group, tagged:
#
#   BENCH_SF100_TPCH_<tag>.json    tpch
#   BENCH_SF100_<tag>.json         dedup_incr,spans,bpe,pipeline,ann
#   BENCH_SF100_RECALL_<tag>.json  dedup_recall
#   BENCH_INGEST_SF100_<tag>.json  ingest (many small micro-batches, so
#                                  one batch's six-gate working set fits
#                                  one node's scratch)
#   SCRATCH_SF100_<tag>.json       scratch
#   PROBE_SF100_<tag>.json         clusters,bands
#
# Usage: tools/run_sf100.sh <tag>   (compile first). Data: data/sf100
# (graft.tools.GenData with SPARK_GRAFT_GEN_SF=100) and the base dir
# SPARK_GRAFT_BASE_DIR (default data/sf0.1). A failed sweep is named in
# the summary and the script exits nonzero.
set -u
tag="${1:?usage: tools/run_sf100.sh <tag>}"
cd "$(dirname "$0")/.."

JAVA_FLAGS=(-Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC
  -Xmx48g)
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
    java.nio java.util java.util.concurrent java.util.concurrent.atomic \
    sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  JAVA_FLAGS+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
# Spark's jar directory is build.sbt's unmanagedBase
jars=$(sed -n 's/^unmanagedBase := file("\(.*\)").*/\1/p' build.sbt)
CP="target/scala-2.13/classes:$jars/*"

failed=()
run_probe() {
  local phases="$1" out="$2"; shift 2
  echo "=== phases=$phases out=$out $(date -u +%H:%M:%S) ==="
  env SPARK_GRAFT_SF_DIR=data/sf100 \
      SPARK_GRAFT_OUT="$out" SPARK_GRAFT_PHASES="$phases" "$@" \
      java "${JAVA_FLAGS[@]}" -cp "$CP" graft.tools.ScaleProbe
  local rc=$?
  if [ $rc -ne 0 ] || [ ! -s "$out" ]; then failed+=("$out(rc=$rc)"); fi
  echo "=== done $out rc=$rc $(date -u +%H:%M:%S) ==="
}

run_probe tpch "BENCH_SF100_TPCH_$tag.json"
run_probe dedup_incr,spans,bpe,pipeline,ann "BENCH_SF100_$tag.json"
run_probe dedup_recall "BENCH_SF100_RECALL_$tag.json"
run_probe ingest "BENCH_INGEST_SF100_$tag.json" \
  SPARK_GRAFT_INGEST_FILES=32 SPARK_GRAFT_INGEST_MAXFILES=1
run_probe scratch "SCRATCH_SF100_$tag.json"
run_probe clusters,bands "PROBE_SF100_$tag.json"

if [ ${#failed[@]} -ne 0 ]; then
  echo "=== FAILED: ${failed[*]} $(date -u +%H:%M:%S) ==="
  exit 1
fi
echo "=== all sweeps complete $(date -u +%H:%M:%S) ==="
