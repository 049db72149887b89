"""Certify the rptparquet DSv2 runtime-filter prototype (jvm/).

The one reference mechanism with no pure-PySpark counterpart is the
dynamic BF-into-scan table filter (rpt_optimizer.cpp:1401-1501,
physical_create_bf.cpp:282-350): the probe SCAN itself drops data the
freshly-built filter excludes. jvm/rpt-dsv2.jar closes that gap with a
DataSource V2 scan implementing SupportsRuntimeV2Filtering: every
parquet row group is one InputPartition carrying footer min/max for the
declared filter columns; Spark's dynamic-pruning rule plans an
IN-subquery runtime filter from the broadcast build side and the scan
drops non-intersecting row groups before reading a byte.

Three legs over a 20M-row fact clustered on the join key:
- ``pruned``:   rptparquet with filterColumns=f_mk (runtime pruning on)
- ``unpruned``: rptparquet without filterColumns (same reader, no hook)
- ``native``:   Spark's built-in vectorized parquet reader (reference
  point; its row-at-a-time prototype reader is ~10x slower per row, so
  only pruned-vs-unpruned isolates the mechanism)

Checks: results identical across all legs; the audit log proves filter()
ran and actually dropped row groups; pruned beats unpruned.

Run: python -u tools/dsv2_runtime_filter.py   (emits one JSON line;
artifact committed as DSV2_RF_r{N}.json)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JAR = os.path.join(REPO, "jvm", "rpt-dsv2.jar")
FACT_ROWS = int(os.environ.get("DRPT_DSV2_FACT_ROWS", 20_000_000))
# keyed by size: a cached fixture from a different FACT_ROWS must never
# be silently reused
FIX = os.environ.get("DRPT_DSV2_FIX", f"/tmp/drpt_dsv2_fix_{FACT_ROWS}")
KEY_SPACE = max(FACT_ROWS // 20, 1000)
DIM_ROWS = max(KEY_SPACE // 5, 100)
N_FILES = 32
CPUS = os.environ.get("DRPT_DSV2_CPUS", "32")


def main() -> int:
    if not os.path.exists(JAR):
        subprocess.run(["bash", os.path.join(REPO, "jvm", "build.sh")],
                       check=True)

    from pyspark.sql import SparkSession, functions as F

    from duckdb_robust_predicate_transfer_spark.workload.common import (
        rotated_min)

    spark = (SparkSession.builder.master(f"local[{CPUS}]")
             .appName("drpt-dsv2-rf")
             .config("spark.driver.memory",
                     os.environ.get("DRPT_DRIVER_MEM", "8g"))
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.jars", JAR)
             .config("spark.driver.extraClassPath", JAR)
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    fact_dir = os.path.join(FIX, "fact.parquet")
    dim_dir = os.path.join(FIX, "dim.parquet")
    if not os.path.exists(os.path.join(fact_dir, "_SUCCESS")):
        # clustered on the join key: range-partitioned + sorted files so
        # each row group covers a narrow key range — the layout any
        # key-clustered warehouse table has, and what makes min/max
        # row-group pruning selective
        (spark.range(FACT_ROWS)
         # f_mk must be BIGINT like d_k: a type mismatch wraps the join
         # key in cast(), and Spark cannot translate a cast-wrapped
         # reference into a V2 runtime predicate (filter() never fires)
         .select(F.pmod(F.hash(F.col("id"), F.lit(11)),
                        F.lit(KEY_SPACE)).cast("bigint").alias("f_mk"),
                 (F.col("id") % 1000).cast("int").alias("f_cat"),
                 (F.col("id") % 9973).cast("double").alias("f_amount"))
         .repartitionByRange(N_FILES, "f_mk")
         .sortWithinPartitions("f_mk")
         # several row groups per file (a real warehouse table has
         # thousands): with one giant group per file, pruning down to a
         # single group also collapses scan parallelism to one task,
         # which understates the mechanism relative to any production
         # layout
         .write.mode("overwrite")
         .option("parquet.block.size", 8 * 1024 * 1024)
         .parquet(fact_dir))
        # 16 contiguous key segments (6.25% of the key space each): the
        # dim filter keeps one segment, so the runtime IN-set spans a
        # few adjacent row groups — a typical star-join reduction, and
        # one that leaves the pruned scan multiple tasks of parallelism
        (spark.range(DIM_ROWS)
         .select((F.col("id") * 5).alias("d_k"),
                 (F.col("id") * 5 * 16 / KEY_SPACE).cast("int")
                 .alias("d_seg"))
         .coalesce(1).write.mode("overwrite").parquet(dim_dir))

    log = os.path.join(FIX, "prune.log")
    if os.path.exists(log):
        os.remove(log)

    dim = spark.read.parquet(dim_dir).filter(F.col("d_seg") == 3)

    def q(fact):
        j = fact.join(dim, fact.f_mk == dim.d_k)
        return j.agg(F.count(F.lit(1)).alias("cnt"),
                     F.sum("f_amount").alias("amt"),
                     F.sum("d_k").alias("dsum"))

    fact_rf = (spark.read.format("rptparquet")
               .option("filterColumns", "f_mk")
               .option("logFile", log).load(fact_dir))
    fact_plain = spark.read.format("rptparquet").load(fact_dir)
    fact_native = spark.read.parquet(fact_dir)

    plan = q(fact_rf)._jdf.queryExecution().executedPlan().toString()
    has_dpp = ("dynamicpruning" in plan.lower()
               or "RuntimeFilters: [" in plan)

    facts = {"pruned": fact_rf, "unpruned": fact_plain,
             "native": fact_native}
    rows = {}

    def leg(_, name: str) -> float:
        t0 = time.time()
        r = q(facts[name]).collect()
        dt = time.time() - t0
        rows[name] = sorted(map(tuple, r))
        return dt

    leg(None, "native")  # warm fs cache
    # interleaved min-of-3 (the bench.py / reference-harness protocol):
    # sequential per-leg timing lets machine-load drift bias the
    # comparison between legs
    legs = {name: round(t, 3)
            for name, t in rotated_min(3, [None], facts, leg)[None].items()}

    audit = []
    if os.path.exists(log):
        with open(log) as fh:
            audit = [json.loads(line) for line in fh if line.strip()]
    prunes = [e for e in audit if e.get("event") == "runtime_filter"]
    pruned_groups = prunes[-1] if prunes else {}

    out = {
        "suite": "dsv2-runtime-filter",
        "fact_rows": FACT_ROWS,
        "dpp_planned": bool(has_dpp),
        "filter_called": bool(audit),
        "row_groups_before": pruned_groups.get("row_groups_before"),
        "row_groups_after": pruned_groups.get("row_groups_after"),
        "rows_before": pruned_groups.get("rows_before"),
        "rows_after": pruned_groups.get("rows_after"),
        "sec": legs,
        "prune_speedup": round(legs["unpruned"] / max(legs["pruned"], 1e-3), 3),
        "results_match": rows["pruned"] == rows["unpruned"] == rows["native"],
    }
    print(json.dumps(out), flush=True)
    spark.stop()
    ok = (out["results_match"] and out["filter_called"]
          and (out["row_groups_after"] or 0) < (out["row_groups_before"] or 1))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
