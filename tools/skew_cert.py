"""Skewed-join certification: one hot key owning ~20% of a 100M-row fact.

The reference never faces this (single-node vectorized hash join: skew
is free); on a cluster a hot join key serializes one shuffle task and
stalls the stage — at 100 TB a 20% key turns a 10-minute join into
hours. This certifies BOTH mitigations the engine ships:

  plain  — sort-merge join, AQE skew splitting OFF: the hot key's rows
           land in one task (the straggler baseline)
  aqe    — Spark AQE skew-join splitting ON (session default,
           session.py) — the runtime fix for oversized partitions
  salted — operators/skew.py: detect_hot_keys (1% sample, bounded
           collect) + salted_join (hot probe rows scattered over 32
           salts, build replicated for hot keys only), AQE skew OFF —
           the explicit fix for the case AQE can't split (a single
           in-flight aggregation key, or pre-AQE engines)

All three legs must return the identical 100-group aggregate; timing is
min-of-N interleaved. Broadcast is disabled for the join (5M-row build
side exceeds the threshold anyway at real scale).

Run:  python -u tools/skew_cert.py [--json OUT] [--runs N]
Env:  DRPT_SKEW_DIR (default /tmp/drpt_skew)
      DRPT_SKEW_FACT_ROWS (default 100M), DRPT_SKEW_DIM_ROWS (5M)

Emits one JSON line; exit 0 when both mitigations beat plain.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE_DIR = os.environ.get("DRPT_SKEW_DIR", "/tmp/drpt_skew")
FACT_ROWS = int(os.environ.get("DRPT_SKEW_FACT_ROWS", 100_000_000))
DIM_ROWS = int(os.environ.get("DRPT_SKEW_DIM_ROWS", 5_000_000))
HOT_SHARE = 5  # 1-in-5 fact rows carry the hot key => 20%

os.environ.setdefault("DRPT_DRIVER_MEM", "16g")


def ensure_fixture(spark) -> str:
    from pyspark.sql import functions as F
    fdir = os.path.join(BASE_DIR, f"v2_f{FACT_ROWS}_d{DIM_ROWS}")
    marker = os.path.join(fdir, "_DONE")
    if os.path.exists(marker):
        return fdir
    t0 = time.time()
    # deterministic skew: every HOT_SHARE-th row hits key 0, the rest
    # spread uniformly by xxhash64 over the dim key space.  The payload
    # must carry entropy (hash-derived, not cyclic): AQE detects skew by
    # MAP-OUTPUT BYTES, and a constant-key/cyclic-value hot partition
    # lz4-compresses to almost nothing, hiding 20M-row skew from the
    # byte threshold entirely (verified on Spark 4.1: no skew=true with
    # a cyclic payload) — real tables have real entropy, so model that.
    (spark.range(FACT_ROWS)
     .select(F.when(F.col("id") % HOT_SHARE == 0, F.lit(0))
             .otherwise(F.abs(F.xxhash64("id")) % DIM_ROWS)
             .alias("f_key"),
             (F.abs(F.xxhash64("id", F.lit(3))) % 1_000_000)
             .alias("f_val"))
     .write.mode("overwrite").parquet(os.path.join(fdir, "fact")))
    (spark.range(DIM_ROWS)
     .select(F.col("id").alias("d_key"),
             (F.abs(F.xxhash64("id", F.lit(7))) % 100).alias("d_grp"))
     .write.mode("overwrite").parquet(os.path.join(fdir, "dim")))
    open(marker, "w").close()
    print(f"# fixture built in {time.time() - t0:.1f}s at {fdir}",
          file=sys.stderr, flush=True)
    return fdir


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

    from pyspark.sql import functions as F

    from duckdb_robust_predicate_transfer_spark.operators.skew import (
        detect_hot_keys, salted_join)
    from duckdb_robust_predicate_transfer_spark.session import get_spark
    from duckdb_robust_predicate_transfer_spark.workload.common import (
        rotated_min)

    spark = get_spark(app_name="drpt-skew-cert", shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    fdir = ensure_fixture(spark)
    fact = spark.read.parquet(os.path.join(fdir, "fact"))
    dim = spark.read.parquet(os.path.join(fdir, "dim"))

    # no broadcast: at real scale a 5M+-row build side shuffles anyway,
    # and broadcast would hide exactly the skew this certifies
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    skew_conf = "spark.sql.adaptive.skewJoin.enabled"
    # make sure AQE recognizes the ~300 MB hot partition as skewed
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64m")
    spark.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "32m")

    def agg(j):
        return (j.groupBy("d_grp")
                .agg(F.count(F.lit(1)).alias("cnt"),
                     F.sum("f_val").alias("total"))
                .orderBy("d_grp"))

    def leg_plain():
        return agg(fact.join(dim, fact.f_key == dim.d_key))

    def leg_salted(hot):
        return agg(salted_join(fact, dim, "f_key", "d_key",
                               hot_keys=hot, n_salts=32))

    t0 = time.time()
    hot = detect_hot_keys(fact, "f_key", min_share=0.01)
    detect_s = time.time() - t0
    assert 0 in hot, f"hot key 0 not detected: {hot}"

    def run(df):
        t = time.time()
        rows = df.collect()
        return time.time() - t, [tuple(r) for r in rows]

    results = {}

    def leg(_, name):
        spark.conf.set(skew_conf, "true" if name == "aqe" else "false")
        df = leg_salted(hot) if name == "salted" else leg_plain()
        dt, rows = run(df)
        spark.conf.set(skew_conf, "true")
        if name in results:
            assert results[name] == rows, f"{name} unstable across runs"
        results[name] = rows
        return dt

    def progress(r, best):
        print(f"# run {r + 1}/{runs}: "
              f"{ {k: round(v, 2) for k, v in best[None].items()} }",
              file=sys.stderr, flush=True)

    leg(None, "aqe")  # untimed warmup: page cache + codegen
    best = rotated_min(runs, [None], ("plain", "aqe", "salted"), leg,
                       progress)[None]

    match = (results["plain"] == results["aqe"] == results["salted"])
    summary = {
        "suite": "skew-join",
        "fact_rows": FACT_ROWS,
        "dim_rows": DIM_ROWS,
        "hot_share": round(1 / HOT_SHARE, 2),
        "hot_keys_detected": len(hot),
        "detect_sec": round(detect_s, 2),
        "runs": runs,
        "groups": len(results["plain"]),
        "results_match": match,
        "sec": {k: round(v, 3) for k, v in best.items()},
        "aqe_speedup": round(best["plain"] / max(best["aqe"], 1e-3), 3),
        "salted_speedup": round(best["plain"] / max(best["salted"], 1e-3), 3),
    }
    print(json.dumps(summary), flush=True)
    if out_json:
        with open(out_json, "w") as f:
            json.dump(summary, f, indent=1)
    spark.stop()
    return 0 if (match and summary["aqe_speedup"] > 1.0
                 and summary["salted_speedup"] > 1.0) else 1


if __name__ == "__main__":
    sys.exit(main())
