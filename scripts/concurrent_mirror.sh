#!/bin/sh
# Two-process staging-concurrency check (r6 judge item 3): turn the
# judge's manual repro of the round-5 FAILED_READ_FILE incident into a
# scripted property. Process A runs the full pytest suite; process B, in
# a separate Python/Spark session started mid-run, hammers exactly the
# staging-heavy queries (domain fixtures, staged IVF/PQ indexes, MV
# rollup, media fixture and files, indexed/z-ordered/partitioned
# layouts, the TPC-H Q15 revenue view) whose dirs live under the shared
# .staging/, all built through staging.stage. Under the pre-r6 code,
# B's re-staging yanked files out from under A's open plans (16
# failures); under the marker discipline (completed stagings never
# overwritten + BUILDING sentinel during rebuilds) both must finish
# green. With SIGMA_CONCURRENT_SF_DIR set to A's sf (sf0.001), both
# processes contend for the same sf-keyed dirs.
#
# Usage:  sh scripts/concurrent_mirror.sh            (~10 min)
# Pass:   exit 0 and "CONCURRENT OK" on the last line.
set -e
cd "$(dirname "$0")/.."

SF_B="${SIGMA_CONCURRENT_SF_DIR:-/root/testdata/sf0.01}"
TMP="${TMPDIR:-/tmp}"

# Process B: the staging-heavy queries, twice each (second pass must
# REUSE, not rebuild — a rebuild mid-suite is exactly the race), in a
# plain session like the external driver's.
cat > $TMP/concurrent_mirror_b.py <<'EOF'
import sys, time
sys.path.insert(0, ".")
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "false")
         .appName("concurrent-mirror-b").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

from sigma_rx7_spark import registry

STAGING_HEAVY = [
    "q_domain_recommendations", "q_domain_alert_inbox",
    "q_domain_denial_queue", "q_domain_drug_eras",
    "q_domain_price_trend", "q_sim_topk_ivf", "q_sim_topk_ivf_staged",
    "q_sim_topk_ivfpq", "q_mv_rollup_answer", "q_scan_indexed",
    "q_scan_zorder", "q_scan_zorder_incremental",
    "q_multimodal_fingerprint", "q_join_dpp", "q_source_schema_merge",
    "q_sink_backfill", "q_source_textlines", "q_tpch_q15_materialized",
    "q_source_binaryfile",
]
sf_dir = sys.argv[1]
specs = registry.load_all()
for rep in (1, 2):
    for name in STAGING_HEAVY:
        t0 = time.perf_counter()
        n = specs[name].fn(spark, sf_dir).count()
        print(f"B rep{rep} {name}: {n} rows "
              f"{time.perf_counter()-t0:.1f}s", flush=True)
spark.stop()
print("B_DONE", flush=True)
EOF

# Process A: the full suite (it stages and reads the same dirs).
python -m pytest tests/ -q -x >$TMP/concurrent_mirror_a.log 2>&1 &
A_PID=$!

# Let A boot its session and begin staging before B piles in.
sleep 20
python $TMP/concurrent_mirror_b.py "$SF_B" >$TMP/concurrent_mirror_b.log 2>&1
B_RC=$?

wait $A_PID
A_RC=$?

echo "--- A tail ---"; tail -3 $TMP/concurrent_mirror_a.log
echo "--- B tail ---"; tail -3 $TMP/concurrent_mirror_b.log
if [ "$A_RC" -ne 0 ] || [ "$B_RC" -ne 0 ]; then
    echo "CONCURRENT FAIL (pytest=$A_RC, staging-queries=$B_RC)"
    exit 1
fi
echo "CONCURRENT OK"
