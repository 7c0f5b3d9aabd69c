#!/bin/bash
# THE correctness gate — one entry point that produces the committable
# CORRECTNESS artifact from the CURRENT tree:
#
#   bash tools/gate.sh [round-tag] [sfDir]
#
# Runs graft.Verify (every SparkEntry.queries entry → parquet dump +
# oracle_sql.json), then tools/compare_oracle.py (DuckDB replays each oracle,
# hash-compares), and writes CORRECTNESS_local_<tag>.json ATOMICALLY (tmp +
# rename) so a killed run never leaves a half-written artifact. Exit status
# is non-zero unless every query verdict is ok.
#
# Total ≈ 7 min at sf0.01 on a quiet host (Verify ≈ 4 min, compare ≈ 3 min).
set -u
cd /root/repo
TAG=${1:-r_local}
SF=${2:-/root/testdata/sf0.01}
OUT=/tmp/graft_gate_${TAG}
SUMMARY=CORRECTNESS_local_${TAG}.json
rm -rf "$OUT"
echo "[gate] Verify → $OUT (sf=$SF)"
sbt -batch "runMain graft.Verify $SF $OUT" > /tmp/graft_gate_verify.log 2>&1
if [ ! -f "$OUT/oracle_sql.json" ]; then
  echo "[gate] FAIL: Verify did not complete (see /tmp/graft_gate_verify.log)"
  exit 2
fi
echo "[gate] static dtype-pairing check (check_oracle_types.py)"
TYPES=TYPES_local_${TAG}.json
python3 tools/check_oracle_types.py "$SF" "$OUT" --selftest \
  --report "${TYPES}.tmp"
if [ $? -ne 0 ]; then
  echo "[gate] FAIL: oracle/spark dtype pairing violations (see above +"
  echo "       ${TYPES}.tmp) — repr-divergent at the driver"
  exit 4
fi
mv "${TYPES}.tmp" "$TYPES"
# no --jobs: compare_oracle sizes its pool from the host (min(nproc, 8),
# capped by available memory); a fixed 8 crashed the pool on a 4-core host
echo "[gate] compare_oracle → $SUMMARY"
python3 tools/compare_oracle.py "$SF" "$OUT" \
  --summary "${SUMMARY}.tmp" > /tmp/graft_gate_compare.log 2>&1
if [ ! -f "${SUMMARY}.tmp" ]; then
  echo "[gate] FAIL: compare produced no summary (see /tmp/graft_gate_compare.log)"
  exit 3
fi
mv "${SUMMARY}.tmp" "$SUMMARY"
python3 - "$SUMMARY" <<'EOF'
import json, sys
s = json.load(open(sys.argv[1]))
qs = s["queries"]
bad = [q for q, v in qs.items()
       if not (v.get("rows") and v.get("schema") and v.get("hash"))]
print(f"[gate] {s['n_ok']}/{s['n_total']} ok; bad: {bad[:20]}")
sys.exit(1 if bad else 0)
EOF
exit $?
