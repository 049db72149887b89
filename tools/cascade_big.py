"""Large-regime cascade certification: fact >= 100M rows.

The committed cascade bench (workload/cascade.py, 30M fact) proves the
two-hop transfer win, but its mid table is only "too big to broadcast"
by configuration. This tool re-runs the same query shape at a size
where the reduced mid GENUINELY cannot broadcast (10M mids, ~1M
surviving the dim gate, ~70 B pad each => ~100 MB+ build side) and the
fact shuffle is disk-spilling territory (100M x ~60 B), i.e. the
regime a 1000-executor cluster lives in — scaled to one box.

Legs (interleaved min-of-N, cache cleared between legs — a leaked
persist flatters later legs, see workload/cascade.py / memory notes):

  off        — no transfer: full-width fact sort-merge shuffle
  rpt        — exact-key cascade: dim keys -> mid, reduced-mid keys ->
               fact (semi joins at the scans)
  rpt_sketch — same schedule, mid->fact hop ships a Bloom filter
  native_rf  — Spark's own InjectRuntimeFilter (one-hop only)

Run:  python -u tools/cascade_big.py [--json OUT] [--runs N]
Env:  DRPT_CASCADE_BIG_DIR (default /tmp/drpt_cascade_big)
      DRPT_CASCADE_BIG_FACT_ROWS / _MID_ROWS / _DIM_ROWS

Emits one JSON line; exit 0 when rpt_speedup >= 2.0 (the r1 criterion
at the scale the r3 verdict asked for).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE_DIR = os.environ.get("DRPT_CASCADE_BIG_DIR", "/tmp/drpt_cascade_big")
FACT_ROWS = int(os.environ.get("DRPT_CASCADE_BIG_FACT_ROWS", 100_000_000))
MID_ROWS = int(os.environ.get("DRPT_CASCADE_BIG_MID_ROWS", 10_000_000))
DIM_ROWS = int(os.environ.get("DRPT_CASCADE_BIG_DIM_ROWS", 1_000_000))

# workload/cascade reads its sizing env at import: pin it BEFORE import
os.environ["DRPT_CASCADE_DIR"] = BASE_DIR
os.environ["DRPT_CASCADE_FACT_ROWS"] = str(FACT_ROWS)
os.environ["DRPT_CASCADE_MID_ROWS"] = str(MID_ROWS)
os.environ["DRPT_CASCADE_DIM_ROWS"] = str(DIM_ROWS)
os.environ.setdefault("DRPT_DRIVER_MEM", "16g")


def main() -> int:
    argv = sys.argv[1:]
    out_json, runs = None, 2
    i = 0
    while i < len(argv):
        if argv[i] == "--json":
            out_json = argv[i + 1]; i += 2
        elif argv[i] == "--runs":
            runs = int(argv[i + 1]); i += 2
        else:
            i += 1

    from duckdb_robust_predicate_transfer_spark.session import get_spark
    from duckdb_robust_predicate_transfer_spark.workload import cascade

    spark = get_spark(app_name="drpt-cascade-big", shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    fdir = cascade.ensure_fixture(spark)
    gen_s = round(time.time() - t0, 1)
    print(f"# fixture ready in {gen_s}s at {fdir}", file=sys.stderr,
          flush=True)

    def run(cfg) -> None:
        n = len(cascade.run_cascade(spark, fdir, cfg).collect())
        assert n == 100, f"cascade result rows {n} != 100"

    best = cascade.time_legs(spark, run, runs)

    summary = {
        "suite": "cascade-big",
        "fact_rows": FACT_ROWS,
        "mid_rows": MID_ROWS,
        "dim_rows": DIM_ROWS,
        "runs": runs,
        "sec": {k: round(v, 3) for k, v in best.items()},
        "rpt_speedup": round(best["off"] / max(best["rpt"], 1e-3), 3),
        "rpt_vs_native": round(best["native_rf"] / max(best["rpt"], 1e-3), 3),
        "sketch_vs_rpt": round(best["rpt_sketch"] / max(best["rpt"], 1e-3), 3),
    }
    print(json.dumps(summary), flush=True)
    if out_json:
        with open(out_json, "w") as f:
            json.dump(summary, f, indent=1)
    spark.stop()
    return 0 if summary["rpt_speedup"] >= 2.0 else 1


if __name__ == "__main__":
    sys.exit(main())
