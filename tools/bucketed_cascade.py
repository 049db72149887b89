"""Bucketed co-located transfer: the zero-join-shuffle scale path.

At cluster scale the biggest single cost in the cascade is the fact
table's join shuffle. Bucketing fact and mid on the join key removes
that exchange entirely (bucket-local sort-merge join), and predicate
transfer composes with it: the probe-side semi joins are broadcasts
(no shuffle of their own), so the reduced fact flows into the
bucket-local join with NO Exchange anywhere below the final aggregate.

This tool certifies that composition on the 30M-row cascade fixture:

- writes fact/mid as bucketed+sorted saved tables (one-time; the
  cluster-side analogue is a bucketed warehouse table maintained by
  ingest);
- asserts the joined plan contains no ``Exchange hashpartitioning``
  below the aggregation, with the transfer ON and OFF;
- times both legs with strict cache isolation and checks rpt == off.

Run: python -u tools/bucketed_cascade.py [--big]   (emits one JSON
line; artifact committed as BUCKETED_r{N}.json)

``--big`` runs against the 100M-row fixture (tools/cascade_big.py
sizing): r3 measured the three legs within noise of each other at 30M
(hinted 1.10 s vs rpt 1.02 s vs off 1.06 s — scan+agg dominates and
min-of-3 jitter exceeds the leg deltas); the 100M variant makes the
ordering readable, and doing so exposed a real planner gap (r4):
Catalyst weighs the FILTERED dim at its full footer size, so at 100M
the dim join plans as a sort-merge that shuffles the entire f|><|m
output on m_dk — bucketing intact but useless (2 exchanges on every
leg, hinted slowest at 4.2 s because it also skipped the fact
reduction). Fixed by Engine.join_all's host_broadcast_rows feedback
(config.py): the transfer's size knowledge broadcast-hints the dim,
restoring zero-exchange plans for both transfer legs — BUCKETED_r04
measures hinted 2.86 s / rpt 2.92 s / off (native, unhinted) 5.36 s,
i.e. the co-located skip is finally pure savings.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_BUCKETS = 16

if "--big" in sys.argv:
    # pin BEFORE the cascade module import (it reads env at import)
    os.environ["DRPT_CASCADE_DIR"] = os.environ.get(
        "DRPT_CASCADE_BIG_DIR", "/tmp/drpt_cascade_big")
    os.environ["DRPT_CASCADE_FACT_ROWS"] = os.environ.get(
        "DRPT_CASCADE_BIG_FACT_ROWS", "100000000")
    os.environ["DRPT_CASCADE_MID_ROWS"] = os.environ.get(
        "DRPT_CASCADE_BIG_MID_ROWS", "10000000")
    os.environ["DRPT_CASCADE_DIM_ROWS"] = os.environ.get(
        "DRPT_CASCADE_BIG_DIM_ROWS", "1000000")
    os.environ.setdefault("DRPT_DRIVER_MEM", "16g")


def main() -> int:
    from pyspark.sql import functions as F

    from duckdb_robust_predicate_transfer_spark.config import RPTConfig
    from duckdb_robust_predicate_transfer_spark.engine import Engine, Rel
    from duckdb_robust_predicate_transfer_spark.session import get_spark
    from duckdb_robust_predicate_transfer_spark.workload import cascade
    from duckdb_robust_predicate_transfer_spark.workload.common import (
        rotated_min)

    spark = get_spark(app_name="drpt-bucketed")
    spark.sparkContext.setLogLevel("ERROR")
    fdir = cascade.ensure_fixture(spark)

    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir",
                               "/tmp/drpt-warehouse").replace("file:", "")
    for name, key in (("fact", "f_mk"), ("mid", "m_mk")):
        # size-tagged so small/big fixtures never share a location
        tbl = f"drpt_bucketed_{name}_{cascade.FACT_ROWS // 1_000_000}m"
        if not spark.catalog.tableExists(tbl):
            loc = os.path.join(warehouse, tbl)
            if os.path.exists(os.path.join(loc, "_SUCCESS")):
                # the metastore is per-session (in-memory derby) but the
                # bucketed FILES survive in /tmp; re-register the
                # metadata over them instead of rewriting 100M rows —
                # this tool is the only writer of this location, so the
                # bucket layout is trustworthy
                cols = ", ".join(
                    f"{f.name} {f.dataType.simpleString()}"
                    for f in spark.read.parquet(loc).schema.fields)
                spark.sql(
                    f"CREATE TABLE {tbl} ({cols}) USING parquet "
                    f"CLUSTERED BY ({key}) SORTED BY ({key}) "
                    f"INTO {N_BUCKETS} BUCKETS LOCATION '{loc}'")
            else:
                spark.sql(f"DROP TABLE IF EXISTS {tbl}")
                if os.path.exists(loc):
                    shutil.rmtree(loc)
                (spark.read.parquet(os.path.join(fdir, f"{name}.parquet"))
                 .write.bucketBy(N_BUCKETS, key).sortBy(key)
                 .mode("overwrite").saveAsTable(tbl))
    tag = f"{cascade.FACT_ROWS // 1_000_000}m"
    bfact = spark.table(f"drpt_bucketed_fact_{tag}")
    bmid = spark.table(f"drpt_bucketed_mid_{tag}")

    # fact|><|mid exceeds broadcast reach either way (mid is ~200 MB
    # wide, ~30 MB even reduced), so bucketing is what removes ITS
    # exchange; the small dim and the transfer key-sets broadcast as
    # they should — no conf override needed

    def build(cfg, hinted: bool = False):
        # with the hint, the engine skips transfer along the already
        # co-located f<->m edge but keeps the d->m reduction: filters
        # preserve bucketing, so the REDUCED mid still merge-joins the
        # fact bucket-locally — strictly less work than either plain leg
        co_f = ("f_mk",) if hinted else ()
        co_m = ("m_mk",) if hinted else ()
        e = Engine(spark, fdir, cfg)
        j = e.reduce_and_join(
            {"f": Rel("fact", df=bfact, colocated_on=co_f),
             "m": Rel("mid", df=bmid, colocated_on=co_m),
             "d": Rel("dim", "d_seg = 0")},
            [("f", "m", "f_mk", "m_mk"), ("m", "d", "m_dk", "d_dk")])
        return (j.groupBy("f_cat")
                .agg(F.count(F.lit(1)).alias("cnt"),
                     F.sum(F.col("f_amount").cast("decimal(18,4)"))
                     .alias("amt")))

    off_cfg = RPTConfig(enabled=False)
    # dim (300k rows) exceeds the broadcast bail but IS the selective
    # build; force gates open so the transfer engages as it would at
    # cluster scale
    rpt_cfg = cascade.CASCADE_CONFIG

    def n_join_shuffles(df) -> int:
        plan = df._jdf.queryExecution().executedPlan().toString()
        # every Exchange below the partial aggregate is a join shuffle;
        # the aggregation's own exchange is legitimate and unavoidable
        agg_exchanges = plan.count("Exchange hashpartitioning(f_cat")
        return plan.count("Exchange hashpartitioning") - agg_exchanges

    shuffles = {"off": n_join_shuffles(build(off_cfg)),
                "rpt": n_join_shuffles(build(rpt_cfg)),
                "rpt_hinted": n_join_shuffles(build(rpt_cfg, True))}
    spark.catalog.clearCache()

    legs = {"off": (off_cfg, False), "rpt": (rpt_cfg, False),
            "rpt_hinted": (rpt_cfg, True)}

    def leg(_, key: str) -> float:
        t0 = time.time()
        build(*legs[key]).write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        spark.catalog.clearCache()
        return dt

    leg(None, "off")  # warmup
    best = rotated_min(3, [None], legs, leg)[None]

    on_rows = sorted(map(tuple, build(rpt_cfg).collect()))
    hint_rows = sorted(map(tuple, build(rpt_cfg, True).collect()))
    off_rows = sorted(map(tuple, build(off_cfg).collect()))

    out = {
        "suite": "bucketed-colocated-transfer",
        "n_buckets": N_BUCKETS,
        "fact_rows": cascade.FACT_ROWS,
        "mid_rows": cascade.MID_ROWS,
        "join_shuffles": shuffles,
        "sec": {k: round(v, 3) for k, v in best.items()},
        "rpt_speedup": round(best["off"] / max(best["rpt"], 1e-3), 3),
        "rpt_hinted_speedup": round(
            best["off"] / max(best["rpt_hinted"], 1e-3), 3),
        "results_match": on_rows == off_rows and hint_rows == off_rows,
        # the transfer legs must be exchange-free; the OFF leg is native
        # Spark and is EXPECTED to shuffle once the filtered dim's static
        # estimate exceeds the broadcast threshold (the 100M fixture) —
        # that gap is precisely what host_broadcast_rows feedback closes
        "zero_join_shuffle": shuffles["rpt"] == 0
        and shuffles["rpt_hinted"] == 0,
    }
    print(json.dumps(out), flush=True)
    spark.stop()
    return 0 if (out["results_match"] and out["zero_join_shuffle"]) else 1


if __name__ == "__main__":
    sys.exit(main())
