#!/bin/bash
# Round-8 certification chain (final protocol) — strictly sequential so
# every timing run has the machine to itself. Re-run after the per-query
# dual arbitration landed (dd2d226): every artifact must be produced on
# the final engine. Artifacts land in the repo root.
set -x
cd /root/repo

# 1. JOB regime at HEAD (fixture cached): the dual-arbitration fix's
#    headline regime — composed should now capture the dual leg's
#    jq2/jq3/jq5/jq10 wins while keeping jq1/jq13/jq18 suppressed
DRPT_JOB_DIR=/tmp/drpt_job DRPT_JOB_FACT=100000000 \
  python -u tools/job_regime.py --runs 3 --json JOB_REGIME_r08.json \
  > /tmp/job_regime_r08c.log 2>&1
echo "JOB rc=$?"
git add JOB_REGIME_r08.json 2>/dev/null && \
  git commit -q -m "JOB regime r8 at final engine: per-query dual arbitration live" || true

# reclaim the JOB fixture before building the x1000 fixture (80G disk)
rm -rf /tmp/drpt_job /tmp/drpt_job_dev

# 2. TPC-H x1000: full 22, runs=3, in-run oracle, 24g driver.
#    Bloom counts reused from the r7 artifact (native-plan evidence is
#    engine-independent; saves the ~45min composed eager pass)
DRPT_TPCH_SCALE_DIR=/tmp/drpt_tpch_x1000 DRPT_TPCH_SCALE_REP=1000 \
  DRPT_TPCH_SCALE_SHUFFLE=128 DRPT_TPCH_SCALE_EMULATE_RF=0 \
  DRPT_IO_CODEC=zstd DRPT_DRIVER_MEM=24g \
  DRPT_TPCH_SCALE_BLOOMS_FROM=TPCH_SCALE_X1000_r07.json \
  python -u tools/tpch_scale.py --runs 3 --json TPCH_SCALE_X1000_r08.json \
  > /tmp/tpch_x1000_r08.log 2>&1
echo "X1000 rc=$?"
cp /tmp/tpch_scale_oracle_x1000_*.log ORACLE_X1000_r08.log 2>/dev/null || true
git add TPCH_SCALE_X1000_r08.json ORACLE_X1000_r08.log 2>/dev/null && \
  git commit -q -m "TPC-H x1000 r8 artifact: full 22, runs=3, in-run oracle, 24g driver" || true

# 3. gate-2e ablation A/B at the same fixture
DRPT_TPCH_SCALE_DIR=/tmp/drpt_tpch_x1000 DRPT_TPCH_SCALE_REP=1000 \
  DRPT_TPCH_SCALE_SHUFFLE=128 DRPT_IO_CODEC=zstd DRPT_DRIVER_MEM=24g \
  python -u tools/gate2e_ab.py --runs 2 --json GATE2E_AB_r08.json \
  > /tmp/gate2e_x1000_r08.log 2>&1
echo "GATE2E rc=$?"
git add GATE2E_AB_r08.json 2>/dev/null && \
  git commit -q -m "Gate-2e ablation A/B at x1000" || true
echo "SEQ2 DONE"
