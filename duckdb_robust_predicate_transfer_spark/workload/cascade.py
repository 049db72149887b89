"""Two-hop cascade fixture: the scale regime where predicate transfer wins.

At small scale factors every dimension broadcasts, Catalyst's plan is a
single fact-table pass, and any transfer op is pure overhead (hence the
``all_broadcast_bail_rows`` gate). The reference's wins come from the
other regime — JOB-scale joins where selective information sits several
hops from the big table and intermediates are too big to broadcast
(README.md:92-115). This module materializes that regime locally:

- ``fact``  (default 30M rows): f_mk -> mid, plus an aggregation payload
- ``mid``   (3M rows, ~70-byte pad): m_mk, m_dk -> dim. After the dim
  filter reduces it 10x it is STILL too big to broadcast, so the
  baseline fact JOIN mid is a full shuffle (sort-merge) of the fact.
- ``dim``   (300k rows): d_seg filter keeps 10%.

Query: fact |><| mid |><| dim(filtered), GROUP BY f_cat.

Why the legs separate:
- baseline: shuffles all fact rows into the fact|><|mid sort-merge join.
- native runtime filter (InjectRuntimeFilter): one creation-side hop —
  the dim bloom reaches mid's scan, but nothing reaches fact (two hops
  away), so the big shuffle remains.
- transfer cascade: dim keys reduce mid (broadcast semi at mid's scan),
  reduced-mid keys reduce fact at ITS scan; the sort-merge join then
  shuffles ~10% of the fact. Two cheap columnar scans replace a 10x
  bigger wide shuffle — the same trade a 1000-executor cluster makes,
  where shuffle is network-bound and scans are local.

Generation is deterministic (hash-based FKs, no RNG) and cached: a
params marker skips regeneration when sizes match.
"""

from __future__ import annotations

import json
import os
import sys

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import BASELINE, RPTConfig
from ..engine import Engine, Rel

DEFAULT_DIR = os.environ.get("DRPT_CASCADE_DIR", "/tmp/drpt_cascade")

FACT_ROWS = int(os.environ.get("DRPT_CASCADE_FACT_ROWS", 30_000_000))
MID_ROWS = int(os.environ.get("DRPT_CASCADE_MID_ROWS", 3_000_000))
DIM_ROWS = int(os.environ.get("DRPT_CASCADE_DIM_ROWS", 300_000))


def ensure_fixture(spark: SparkSession, base_dir: str = DEFAULT_DIR) -> str:
    """Generate the fixture if absent (or sized differently); idempotent."""
    params = {"fact": FACT_ROWS, "mid": MID_ROWS, "dim": DIM_ROWS, "v": 2}
    marker = os.path.join(base_dir, "fixture.json")
    if os.path.exists(marker):
        try:
            with open(marker) as f:
                if json.load(f) == params:
                    return base_dir
        except Exception:
            pass

    os.makedirs(base_dir, exist_ok=True)
    dim = spark.range(DIM_ROWS).select(
        F.col("id").alias("d_dk"),
        (F.col("id") % 10).cast("int").alias("d_seg"),
        F.md5(F.col("id").cast("string")).alias("d_name"))
    dim.coalesce(4).write.mode("overwrite").parquet(
        os.path.join(base_dir, "dim.parquet"))

    mid = spark.range(MID_ROWS).select(
        F.col("id").alias("m_mk"),
        # hash-uniform FK over the dims: ~10% of mids survive the d_seg
        # filter's key set
        F.pmod(F.hash(F.col("id"), F.lit(13)), F.lit(DIM_ROWS))
        .cast("long").alias("m_dk"),
        # ~70B pad so even the 10x-reduced mid exceeds the broadcast
        # threshold — forcing the baseline into a fact-side shuffle
        F.concat(F.md5(F.col("id").cast("string")),
                 F.substring(F.md5((F.col("id") + 1).cast("string")), 1, 8)
                 ).alias("m_pad"))
    mid.repartition(8).write.mode("overwrite").parquet(
        os.path.join(base_dir, "mid.parquet"))

    fact = spark.range(FACT_ROWS).select(
        F.pmod(F.hash(F.col("id"), F.lit(7)), F.lit(MID_ROWS))
        .cast("long").alias("f_mk"),
        ((F.col("id") % 1000) / 10.0).alias("f_amount"),
        (F.col("id") % 100).cast("int").alias("f_cat"),
        # payload that survives to the output: joins must carry it, so
        # the baseline's fact-side shuffle is wide (the common "SELECT
        # doc_text ... JOIN" shape in a training-data pipeline)
        F.md5(F.col("id").cast("string")).alias("f_pad"))
    fact.repartition(32).write.mode("overwrite").parquet(
        os.path.join(base_dir, "fact.parquet"))

    with open(marker, "w") as f:
        json.dump(params, f)
    return base_dir


#: cascade-leg config: forward-only — the query aggregates at the top, so
#: backward ops (re-reducing mid/dim after fact shrank) buy nothing here
#: and would each cost a key-set job. minmax stays gated by probe size.
CASCADE_CONFIG = RPTConfig(pass_mode="forward_only")

#: same schedule but the mid -> fact hop ships a Bloom filter instead of
#: the exact key set (the reduced mid's ~600k estimated keys exceed the
#: threshold): the tier for build sides whose distinct-key broadcast
#: would not fit — at 100 TB the common case, and the reference's only
#: mechanism (PTBloomFilter). dim -> mid stays exact (60k est keys).
#: The build is one aggregate job (Spark's bloom_filter_agg plus the
#: count and min/max, operators/bloom.py) and the probe a might_contain
#: filter in the fact scan. The default config still prefers the exact
#: tier until the key set cannot broadcast (sketch_threshold_rows):
#: here the sketch is forced purely to keep the tier exercised and
#: measured.
CASCADE_SKETCH_CONFIG = CASCADE_CONFIG.with_(
    use_sketch=True, sketch_threshold_rows=500_000)


#: the cascade leg set, leg name -> (config, native_rf): no transfer,
#: the exact-key cascade, the Bloom-filter mid -> fact hop, and Spark's
#: native one-hop blooms (set_native_rf lowers the 10GB
#: application-side scan gate so InjectRuntimeFilter fires at fixture
#: sizes). Config None is the query's own default.
LEGS = {"off": (BASELINE, False), "rpt": (None, False),
        "rpt_sketch": (CASCADE_SKETCH_CONFIG, False),
        "native_rf": (BASELINE, True)}


def time_legs(spark: SparkSession, run, runs: int,
              legs: dict = LEGS) -> dict:
    """The cascade harnesses' leg timing (bench.py, cascade2.main,
    tools/cascade_big.py): ``run(config)`` executes the query under each
    leg of ``legs``. The first leg runs once untimed (page cache,
    codegen), then every leg is timed with rotated min-of-``runs``.
    Returns {leg: minimum seconds}."""
    from .common import rotated_min, timed_leg

    def leg(_, name: str) -> float:
        cfg, rf = legs[name]
        return timed_leg(spark, lambda: run(cfg), native_rf=rf)

    def progress(r: int, best: dict) -> None:
        print(f"# run {r + 1}/{runs}: "
              f"{ {k: round(v, 2) for k, v in best[None].items()} }",
              file=sys.stderr, flush=True)

    leg(None, next(iter(legs)))
    return rotated_min(runs, [None], legs, leg, progress)[None]


def run_cascade(spark: SparkSession, base_dir: str = DEFAULT_DIR,
                config: RPTConfig | None = None) -> DataFrame:
    """fact |><| mid |><| dim(d_seg=0), GROUP BY f_cat — via the engine.

    ``m_pad`` is aggregated so column pruning cannot slim the mid side
    below the broadcast threshold: the baseline must sort-merge the
    full fact against the (reduced) wide mid, while the transfer ships
    only the 8-byte key column — the realistic shape where a payload
    column survives to the output.
    """
    e = Engine(spark, base_dir, config or CASCADE_CONFIG)
    j = e.reduce_and_join(
        {"f": "fact", "m": "mid", "d": Rel("dim", "d_seg = 0")},
        [("f", "m", "f_mk", "m_mk"),
         ("m", "d", "m_dk", "d_dk")])
    return (j.groupBy("f_cat")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum("f_amount").alias("amt"),
                 F.max("m_pad").alias("mid_pad_max"),
                 F.max("f_pad").alias("fact_pad_max")))
