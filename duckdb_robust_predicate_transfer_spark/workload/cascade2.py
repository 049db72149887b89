"""Two-fact, multi-column-edge cascade: the TPC-H Q9/partsupp regime.

The first cascade fixture (cascade.py) proves the two-hop star chain.
This one proves the OTHER join topology the reference's JOB workload
leans on (workload README.md:81-89): two fact-sized tables joined on a
COMPOSITE key (lineitem x partsupp on partkey+suppkey), with the
selective information one hop further out (a supplier-region filter).

- ``supplier`` (200k): s_region filter keeps 10%.
- ``partsupp`` (8M): composite PK (ps_pk, ps_sk), hash-spread FKs.
- ``lineitem`` (40M): each row references a partsupp row and carries a
  payload column, so the baseline lineitem |><| partsupp join is a
  full 40M-row wide shuffle (sort-merge; partsupp at 8M is far beyond
  broadcast reach).

Transfer schedule: supplier keys reduce partsupp (broadcast semi at its
scan); the reduced partsupp's ~800k COMPOSITE keys (multi-column
CREATE_BF, the weight>1 edge merge of rpt_optimizer.cpp:1174-1216)
reduce lineitem at ITS scan; the final join shuffles ~10% of the fact.

Run: python -m duckdb_robust_predicate_transfer_spark.workload.cascade2
(emits one JSON line; artifact committed as CASCADE2_r{N}.json).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import RPTConfig
from ..engine import Engine, Rel

DEFAULT_DIR = os.environ.get("DRPT_CASCADE2_DIR", "/tmp/drpt_cascade2")

LINE_ROWS = int(os.environ.get("DRPT_CASCADE2_LINE_ROWS", 40_000_000))
PS_ROWS = int(os.environ.get("DRPT_CASCADE2_PS_ROWS", 8_000_000))
SUPP_ROWS = int(os.environ.get("DRPT_CASCADE2_SUPP_ROWS", 200_000))
PART_ROWS = int(os.environ.get("DRPT_CASCADE2_PART_ROWS", 2_000_000))


def _ps_cols(psid):
    """The composite key of partsupp row ``psid`` — shared by the
    partsupp generator and the lineitem generator so every lineitem
    references a real (ps_pk, ps_sk) pair. ``psid`` MUST be LongType:
    Murmur3 hashes a 4-byte int and an 8-byte long to different values,
    so a mixed-width psid silently breaks the FK relationship."""
    psid = psid.cast("long")
    return (F.pmod(F.hash(psid, F.lit(3)), F.lit(PART_ROWS))
            .cast("long").alias("ps_pk"),
            F.pmod(F.hash(psid, F.lit(5)), F.lit(SUPP_ROWS))
            .cast("long").alias("ps_sk"))


def ensure_fixture(spark: SparkSession, base_dir: str = DEFAULT_DIR) -> str:
    params = {"line": LINE_ROWS, "ps": PS_ROWS, "supp": SUPP_ROWS,
              "part": PART_ROWS, "v": 2}
    marker = os.path.join(base_dir, "fixture.json")
    if os.path.exists(marker):
        try:
            with open(marker) as f:
                if json.load(f) == params:
                    return base_dir
        except Exception:
            pass

    os.makedirs(base_dir, exist_ok=True)
    supp = spark.range(SUPP_ROWS).select(
        F.col("id").alias("s_sk"),
        (F.col("id") % 10).cast("int").alias("s_region"),
        F.md5(F.col("id").cast("string")).alias("s_name"))
    supp.coalesce(4).write.mode("overwrite").parquet(
        os.path.join(base_dir, "supplier.parquet"))

    ps = spark.range(PS_ROWS).select(
        *_ps_cols(F.col("id")),
        ((F.col("id") % 10000) / 100.0).alias("ps_cost"),
        # pad so the reduced partsupp still exceeds broadcast reach as
        # a full relation (only its 16-byte key column ships)
        F.md5(F.col("id").cast("string")).alias("ps_pad"))
    ps.repartition(16).write.mode("overwrite").parquet(
        os.path.join(base_dir, "partsupp.parquet"))

    psid = F.pmod(F.hash(F.col("id"), F.lit(7)), F.lit(PS_ROWS))
    line = spark.range(LINE_ROWS).select(
        *_ps_cols(psid),
        ((F.col("id") % 1000) / 10.0).alias("l_amount"),
        (F.col("id") % 100).cast("int").alias("l_cat"),
        F.md5(F.col("id").cast("string")).alias("l_pad"))
    line = (line.withColumnRenamed("ps_pk", "l_pk")
            .withColumnRenamed("ps_sk", "l_sk"))
    line.repartition(32).write.mode("overwrite").parquet(
        os.path.join(base_dir, "lineitem.parquet"))

    with open(marker, "w") as f:
        json.dump(params, f)
    return base_dir


#: forward-only for the same reason as cascade.py: the query aggregates
#: at the top, so backward re-reduction of the small sides buys nothing
CASCADE2_CONFIG = RPTConfig(pass_mode="forward_only")


def run_cascade2(spark: SparkSession, base_dir: str = DEFAULT_DIR,
                 config: RPTConfig | None = None) -> DataFrame:
    """lineitem |><|(pk,sk) partsupp |><| supplier(s_region=0),
    GROUP BY l_cat — through the engine, multi-column transfer edge."""
    e = Engine(spark, base_dir, config or CASCADE2_CONFIG)
    j = e.reduce_and_join(
        {"l": "lineitem", "ps": "partsupp",
         "s": Rel("supplier", "s_region = 0")},
        [("l", "ps", ("l_pk", "l_sk"), ("ps_pk", "ps_sk")),
         ("ps", "s", "ps_sk", "s_sk")])
    return (j.groupBy("l_cat")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 # decimal accumulation: exact, order-independent, so
                 # rpt == off compares row-for-row (double summation
                 # order differs between the two physical plans)
                 F.sum(F.col("l_amount").cast("decimal(18,4)"))
                 .alias("amt"),
                 F.max("ps_pad").alias("ps_pad_max"),
                 F.max("l_pad").alias("l_pad_max")))


def main() -> int:
    from ..session import get_spark

    spark = get_spark(app_name="drpt-cascade2")
    spark.sparkContext.setLogLevel("ERROR")
    from .cascade import time_legs

    fdir = ensure_fixture(spark)
    off_cfg = RPTConfig(enabled=False)
    # hash-uniform FKs mean the build sides' min/max spans the probe's
    # whole range: the eager min/max aggs (~1.3 s here) cannot prune a
    # single row group. rpt_filter_type='bf_only' is the reference's own
    # knob for exactly this workload shape — report both.
    bf_cfg = CASCADE2_CONFIG.with_(filter_type="bf_only")
    best = time_legs(
        spark, lambda cfg: run_cascade2(spark, fdir, cfg).write
        .format("noop").mode("overwrite").save(), 4,
        {"off": (off_cfg, False), "rpt": (None, False),
         "rpt_bf_only": (bf_cfg, False), "native_rf": (off_cfg, True)})

    # correctness: rpt == off row-for-row
    on_rows = sorted(map(tuple, run_cascade2(spark, fdir).collect()))
    off_rows = sorted(map(tuple,
                          run_cascade2(spark, fdir, off_cfg).collect()))
    out = {
        "suite": "cascade2-two-fact-multicol",
        "line_rows": LINE_ROWS, "ps_rows": PS_ROWS,
        "supp_rows": SUPP_ROWS, "part_rows": PART_ROWS,
        "sec": {k: round(v, 3) for k, v in best.items()},
        "rpt_speedup": round(best["off"] / max(best["rpt"], 1e-3), 3),
        "rpt_bf_only_speedup": round(
            best["off"] / max(best["rpt_bf_only"], 1e-3), 3),
        "rpt_vs_native": round(
            best["native_rf"] / max(best["rpt"], 1e-3), 3),
        "results_match": on_rows == off_rows,
        "groups": len(on_rows),
    }
    print(json.dumps(out), flush=True)
    spark.stop()
    return 0 if out["results_match"] else 1


if __name__ == "__main__":
    import sys

    sys.exit(main())
