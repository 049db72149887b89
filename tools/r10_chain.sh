#!/bin/bash
# Round-10 certification chain — strictly sequential so every timing
# run has the machine to itself (r5 lesson; memory: r8-dual-arbitration).
# All legs run at the FINAL engine; artifacts commit as they land so an
# overrun still preserves the earlier legs.
#
# r9 hygiene fixes (ADVICE r9 #5): the x1000 oracle log is copied from
# the path the artifact itself records (no /tmp glob that could pick up
# a stale earlier-round log), and leg comments state the real --runs.
set -x
cd /root/repo

# 1. JOB regime at the v3 fixture: 57 queries (was 33 — VERDICT r9 #6),
#    5 legs, runs=2 — the round's centerpiece: first certification of
#    the cession arbitration + floor at 100M fact rows.
DRPT_JOB_DIR=/tmp/drpt_job DRPT_JOB_FACT=100000000 \
  python -u tools/job_regime.py --runs 2 --json JOB_REGIME_r10.json \
  > /tmp/job_regime_r10.log 2>&1
echo "JOB rc=$?"
git add JOB_REGIME_r10.json 2>/dev/null && \
  git commit -q -m "JOB regime r10: 57 queries at 100M with the cession arbitration" || true

# 2. Reclaim the JOB fixtures before the x1000 leg needs the disk.
rm -rf /tmp/drpt_job /tmp/drpt_job_v2

# 3. At-HEAD sweep discipline (the r7/r9 standard): full oracle sweep
#    x3 SFs + Arrow-off parity, breadth, plan audit — correctness-only,
#    sequenced before the x1000 timing leg so the evidence lands even
#    if the round ends mid-x1000.
python -u tools/oracle_check.py /root/testdata/sf0.001 \
  > /tmp/sweep_r10_sf0001.log 2>/dev/null
echo "sf0.001 rc=$?"
python -u tools/oracle_check.py /root/testdata/sf0.01 \
  > /tmp/sweep_r10_sf001.log 2>/dev/null
echo "sf0.01 rc=$?"
python -u tools/oracle_check.py /root/testdata/sf0.1 \
  > /tmp/sweep_r10_sf01.log 2>/dev/null
echo "sf0.1 rc=$?"
DRPT_ARROW=0 python -u tools/oracle_check.py /root/testdata/sf0.01 \
  > /tmp/sweep_r10_sf001_arrowoff.log 2>/dev/null
echo "arrow-off rc=$?"
python -u tools/breadth_check.py /root/testdata/sf0.01 \
  --json /tmp/BREADTH_r10.json > /tmp/sweep_r10_breadth.log 2>/dev/null
echo "breadth rc=$?"
python -u tools/plan_audit.py /root/testdata/sf0.01 \
  > /tmp/PLAN_AUDIT_r10.json 2>/dev/null
echo "audit rc=$?"
python3 - <<'PYEOF'
import json, re

def tail_counts(path):
    try:
        txt = open(path).read()
        m = re.findall(r"(\d+) ok, (\d+) fail, (\d+) rows-only", txt)
        return {"ok": int(m[-1][0]), "fail": int(m[-1][1]),
                "rows_only": int(m[-1][2])} if m else None
    except Exception:
        return None

out = {"suite": "oracle-sweep-r10",
       "sf0.001": tail_counts("/tmp/sweep_r10_sf0001.log"),
       "sf0.01": tail_counts("/tmp/sweep_r10_sf001.log"),
       "sf0.1": tail_counts("/tmp/sweep_r10_sf01.log"),
       "sf0.01_arrow_off": tail_counts("/tmp/sweep_r10_sf001_arrowoff.log")}
json.dump(out, open("ORACLE_SWEEP_r10.json", "w"), indent=1)
print(out)
PYEOF
cp /tmp/BREADTH_r10.json BREADTH_r10.json 2>/dev/null || true
cp /tmp/PLAN_AUDIT_r10.json PLAN_AUDIT_r10.json 2>/dev/null || true
git add ORACLE_SWEEP_r10.json BREADTH_r10.json PLAN_AUDIT_r10.json 2>/dev/null && \
  git commit -q -m "r10 at-HEAD sweeps: oracle x3 SFs + Arrow-off, breadth, plan audit" || true

# 4. TPC-H x1000: full 22, runs=3, in-run oracle, 24g driver, zstd —
#    the same protocol as TPCH_SCALE_X1000_r09, now with the cession
#    arbitration live and engaged-only geomeans recorded. Bloom counts
#    reused from the r9 artifact (native-plan evidence is engine-
#    independent; engagement/cession now captured in the timed legs).
DRPT_TPCH_SCALE_DIR=/tmp/drpt_tpch_x1000 DRPT_TPCH_SCALE_REP=1000 \
  DRPT_TPCH_SCALE_SHUFFLE=128 DRPT_TPCH_SCALE_EMULATE_RF=0 \
  DRPT_IO_CODEC=zstd DRPT_DRIVER_MEM=24g \
  DRPT_TPCH_SCALE_BLOOMS_FROM=TPCH_SCALE_X1000_r09.json \
  python -u tools/tpch_scale.py --runs 3 --json TPCH_SCALE_X1000_r10.json \
  > /tmp/tpch_x1000_r10.log 2>&1
echo "X1000 rc=$?"
# pin the oracle log by the exact path the artifact recorded — never a
# glob (a stale earlier-round log must not masquerade as r10 evidence)
ORACLE_SRC=$(python3 -c "import json;print(json.load(open('TPCH_SCALE_X1000_r10.json')).get('oracle_log') or '')" 2>/dev/null)
if [ -n "$ORACLE_SRC" ] && [ -f "$ORACLE_SRC" ]; then
  cp "$ORACLE_SRC" ORACLE_X1000_r10.log
fi
git add TPCH_SCALE_X1000_r10.json ORACLE_X1000_r10.log 2>/dev/null && \
  git commit -q -m "TPC-H x1000 r10: full 22 with cession live, runs=3, in-run oracle, engaged-only geomeans" || true
echo "R10 CHAIN DONE"
