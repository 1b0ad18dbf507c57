#!/bin/bash
# Tier-check a comma-separated gate list: DuckDB-oracle compare at
# sf0.001/sf0.01/sf0.1 plus a local[4]-vs-local[8] parallelism compare at
# sf0.01 — the house per-batch discipline.
set -u
GATES="$1"
# the gates run the compiled classes: refuse to check classes older than a source
NEWEST_CLASS=$(find target/scala-2.13/classes -name '*.class' -printf '%T@ %p\n' 2>/dev/null | sort -n | tail -1 | cut -d' ' -f2-)
if [ -z "$NEWEST_CLASS" ] || [ -n "$(find src/main/scala -type f -newer "$NEWEST_CLASS" -print -quit)" ]; then
  echo "tier_check: src/main/scala has a file newer than every class in target/scala-2.13/classes; compile first" >&2
  exit 2
fi
OPENS=$(for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
  java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
  java.base/java.util.concurrent java.base/java.util.concurrent.atomic java.base/sun.nio.ch \
  java.base/sun.nio.cs java.base/sun.security.action java.base/sun.util.calendar; do \
  echo --add-opens $p=ALL-UNNAMED; done)
# half of RAM, 2-8 GB: the heap the tier-1 test command gives SPARK_DRIVER_MEM
HEAP="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)"
run_verify() { # sfdir outdir cpus; a crash prints the tail of Verify's stderr and sets rc
  local log=/tmp/tier_log_$$/$(basename "$2").err
  mkdir -p /tmp/tier_log_$$
  if ! SPARK_GRAFT_CPUS=$3 java $OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Xmx$HEAP \
    -cp "target/scala-2.13/classes:/opt/spark/jars/*" graft.Verify "$1" "$2" "$GATES" 2>"$log"; then
    echo "tier_check: graft.Verify $1 failed; last 20 lines of its stderr:" >&2
    tail -n 20 "$log" >&2
    rc=1
  fi
}
rc=0
# the Verify output directories go when the script exits
trap 'rm -rf /tmp/tier_*_$$' EXIT
for sf in 0.001 0.01 0.1; do
  out=/tmp/tier_${sf}_$$
  rm -rf $out
  run_verify /root/testdata/sf$sf $out 8
  python3 tools/check_oracle.py /root/testdata/sf$sf $out | tail -n +0 | grep -v "^$" | sed "s/^/[sf$sf] /"
  [ "${PIPESTATUS[0]}" -ne 0 ] && rc=1
done
# parallelism check at sf0.01: local[4] vs local[8]
outA=/tmp/tier_par4_$$; outB=/tmp/tier_par8_$$
rm -rf $outA $outB
run_verify /root/testdata/sf0.01 $outA 4
run_verify /root/testdata/sf0.01 $outB 8
python3 - "$outA" "$outB" <<'PY'
import sys, glob, pandas as pd, pyarrow.parquet as pq, os
a, b = sys.argv[1], sys.argv[2]
bad = 0
for d in sorted(os.listdir(a)):
    if not os.path.isdir(f"{a}/{d}"): continue
    fa = pd.concat([pq.read_table(f).to_pandas() for f in glob.glob(f"{a}/{d}/*.parquet")], ignore_index=True)
    fb = pd.concat([pq.read_table(f).to_pandas() for f in glob.glob(f"{b}/{d}/*.parquet")], ignore_index=True)
    fa = fa.reindex(sorted(fa.columns), axis=1).sort_values(by=list(sorted(fa.columns)), kind="mergesort").reset_index(drop=True)
    fb = fb.reindex(sorted(fb.columns), axis=1).sort_values(by=list(sorted(fb.columns)), kind="mergesort").reset_index(drop=True)
    try:
        pd.testing.assert_frame_equal(fa, fb, check_dtype=False, check_exact=True)
        print(f"[par] OK {d}")
    except AssertionError as e:
        print(f"[par] MISMATCH {d}: {str(e).splitlines()[-1]}"); bad += 1
sys.exit(1 if bad else 0)
PY
[ $? -ne 0 ] && rc=1
exit $rc
