#!/usr/bin/env bash
# Smoke test: every workload, untraced and traced, at tiny size, with every
# output check. Run from the root of a graft checkout:
#     bash perfbench/smoke.sh
# Exits non-zero on the first run that fails a call or a check.
set -euo pipefail
for workload in upsert_cdc lookup_scan curate_corpus; do
  for trace in 0 1; do
    echo "== $workload trace=$trace"
    python3 perfbench/run.py --workload "$workload" --seed 1 --seconds 1 \
      --trace "$trace" --size tiny | tail -n 1 | cut -c1-160
  done
done
python3 perfbench/report.py --size tiny > /dev/null  # same seed, same output
echo "smoke: all workloads passed"
