#!/usr/bin/env bash
# Record the sf10 scale rehearsal on the current binary:
#
#   tools/record_sf10.sh      (from anywhere; a full run takes hours)
#
# 1. builds the sf10 corpus with tools/gen_scale_data.py when it is missing
#    (deterministic, ~1.8 GB; written aside and moved into place when done,
#    so an interrupted build is never taken for a corpus);
# 2. runs graft.Bench at sf10 in the Tier-1 environment (all cores, driver
#    heap half the RAM capped at 8g, spills to /tmp/spark-local);
# 3. annotates the new artifact against the bench_sf10.json it replaces
#    (compare_bench.py --annotate) and moves it into place;
# 4. runs graft.Verify's recall-only pass at sf10 (SPARK_GRAFT_RECALL_MODE=only)
#    and moves its recall file into place as verify_recall_sf10.json; its
#    query outputs go to a scratch directory that is removed on exit;
# 5. runs the scale gate against BASELINE_sf10.json (compare_bench.py --gate).
#
# Exits non-zero when Bench, Verify or the gate does. A Bench run with a
# failed row leaves bench_sf10.json as it was; its artifact stays in target/.
# A Verify run that fails leaves verify_recall_sf10.json as it was.
# Prints the free space on /tmp, the bytes under /tmp/graft_export (the
# runs' scratch roots) and the bytes under ./spark-warehouse (the catalog
# tables' directory) before the run and again when the script exits.
set -euo pipefail
cd "$(dirname "$0")/.."

disk() {
  echo "record_sf10 $1: /tmp free $(df -B1 --output=avail /tmp | tail -1 | tr -d ' ') B," \
    "/tmp/graft_export $(du -sb /tmp/graft_export 2>/dev/null | cut -f1 || echo 0) B," \
    "./spark-warehouse $(du -sb spark-warehouse 2>/dev/null | cut -f1 || echo 0) B"
}
SF=/tmp/graft_scale/sf10
NEW=target/bench_sf10.json
RECALL=target/verify_recall_sf10.json
VOUT=/tmp/graft_scale/verify_sf10

disk before
trap 'rm -rf "$VOUT"; disk after' EXIT

if [ ! -d "$SF" ]; then
  rm -rf "$SF.partial"
  python3 tools/gen_scale_data.py --out "$SF.partial" --factor 100
  mv "$SF.partial" "$SF"
fi

export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=/root/.sbt/repositories -Dsbt.offline=true -Xmx4g}"
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)"
export SPARK_DRIVER_MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)"
export SPARK_LOCAL_DIRS=/tmp/spark-local
export SPARK_GRAFT_SF_DIR="$SF"
export SPARK_GRAFT_BENCH_JSON="$NEW"

rm -f "$NEW"
sbt --batch -Dsbt.log.noformat=true "runMain graft.Bench"

python3 tools/compare_bench.py --annotate "$NEW" bench_sf10.json
mv "$NEW" bench_sf10.json
disk "after bench"

rm -rf "$VOUT" "$RECALL"
SPARK_GRAFT_RECALL_MODE=only SPARK_GRAFT_RECALL_OUT="$RECALL" \
  sbt --batch -Dsbt.log.noformat=true "runMain graft.Verify $SF $VOUT"
mv "$RECALL" verify_recall_sf10.json
disk "after verify"

python3 tools/compare_bench.py --gate bench_sf10.json BASELINE_sf10.json
