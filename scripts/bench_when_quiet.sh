#!/bin/bash
# Launch bench.py during a quiet window: poll the calibration token and
# start the run only after 3 consecutive sub-threshold readings (this
# host's contention arrives in 5-15 min waves — ROUND11.md). Repeats
# until an attempt lands with cal_ratio below the target or attempts run
# out. Every attempt appends its own record to bench.py's (round, cpus, sf)
# file; an attempt counts as landed when it added a clean run
# (bench.clean_runs) whose sim track ran.
cd "$(dirname "$0")/.."
THRESH="${THRESH:-2.2}"
ATTEMPTS="${ATTEMPTS:-3}"
RECORD=$(python -c "
import bench
print(bench.record_path(bench.DOCS_DIR, bench.ROUND_TAG, bench.CPUS, bench.SF_DIR))")
clean_sim_runs() {
  python -c "
import os, bench
runs = bench.clean_runs('$RECORD') if os.path.exists('$RECORD') else []
print(sum(1 for r in runs if r.get('sim_error') is None))"
}
for a in $(seq 1 "$ATTEMPTS"); do
  echo "[watcher] attempt $a: waiting for quiet window (token < ${THRESH}x)"
  quiet=0
  for i in $(seq 1 120); do
    r=$(python -c "
import sys; sys.path.insert(0,'.')
from bench import cpu_calibration_token, CAL_REF_S
print(cpu_calibration_token(reps=1)/CAL_REF_S)" 2>/dev/null)
    ok=$(python -c "print(1 if $r < $THRESH else 0)")
    if [ "$ok" = "1" ]; then quiet=$((quiet+1)); else quiet=0; fi
    echo "[watcher] token ratio $r (streak $quiet)"
    if [ "$quiet" -ge 3 ]; then break; fi
    sleep 45
  done
  if [ "$quiet" -lt 3 ]; then echo "[watcher] no quiet window found"; continue; fi
  echo "[watcher] launching bench (attempt $a)"
  before=$(clean_sim_runs)
  python bench.py > "/tmp/bench_attempt_$a.log" 2>&1
  after=$(clean_sim_runs)
  echo "[watcher] attempt $a: $RECORD holds $after clean runs with a sim track (was $before)"
  if [ "$after" -gt "$before" ]; then echo "[watcher] clean full run landed"; break; fi
done
echo "[watcher] done"
