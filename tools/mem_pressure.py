"""Memory-pressure certification: the spill path of a persisted build.

The reference delegates spill to its buffer manager — PhysicalCreateBF's
materialized ColumnDataCollection pages out under pressure with no
operator-level code (physical_create_bf.hpp:107-124). Our analogue is
``persist()`` (StorageLevel MEMORY_AND_DISK): when the reduced build
side exceeds executor storage memory, blocks land on disk and the
transfer must still complete correctly.

This tool certifies that regime deliberately (VERDICT r2 "What's
missing" #4): a dedicated SparkSession with a SMALL heap, a cascade
variant whose persisted reduced mid exceeds storage memory, the full
transfer + join, and assertions that (a) the query completes with the
right answer and (b) blocks actually spilled (RDD storage info reports
disk bytes > 0).

Run:  python -u tools/mem_pressure.py          # ~2-3 min
Emits one JSON line; exit 0 = certified.

Driver memory is a static JVM conf, so the tool runs as two
subprocesses: ``--gen`` writes the fixture under a normal heap, then
``--run`` executes the transfer under the deliberately small one.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE_DIR = os.environ.get("DRPT_MEMPRESSURE_DIR", "/tmp/drpt_mempressure")
#: mid sized so the persisted reduced build (~30% survive the dim gate,
#: each row carrying a ~400 B pad) overflows the small heap's storage
#: pool: 6M x 0.3 x ~430 B ~ 0.8 GB of MEMORY_AND_DISK blocks vs a
#: 1.5 GB heap whose storage pool is ~700 MB (1 GB OOMs outright in
#: the columnar cache builders — too small to even hold one task's
#: working set, which is starvation, not the spill regime under test).
MID_ROWS = int(os.environ.get("DRPT_MEMPRESSURE_MID_ROWS", 6_000_000))
FACT_ROWS = int(os.environ.get("DRPT_MEMPRESSURE_FACT_ROWS", 8_000_000))
DIM_ROWS = 100_000


def gen() -> int:
    """Write the fixture (normal heap)."""
    from pyspark.sql import SparkSession, functions as F

    marker = os.path.join(BASE_DIR, "fixture.json")
    params = {"mid": MID_ROWS, "fact": FACT_ROWS, "dim": DIM_ROWS, "v": 2}
    if os.path.exists(marker):
        try:
            with open(marker) as f:
                if json.load(f) == params:
                    return 0
        except Exception:
            pass

    spark = (
        SparkSession.builder.appName("drpt-mempressure-gen")
        .master("local[8]")
        .config("spark.driver.memory", "6g")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(BASE_DIR, exist_ok=True)
    # ~400 B pad: 12 x md5 hex = 384 chars
    pad = F.concat(*[F.md5((F.col("id") + i).cast("string"))
                     for i in range(12)])
    mid = spark.range(MID_ROWS).select(
        F.col("id").alias("m_mk"),
        F.pmod(F.hash(F.col("id"), F.lit(13)), F.lit(DIM_ROWS))
        .cast("long").alias("m_dk"),
        pad.alias("m_pad"))
    mid.repartition(64).write.mode("overwrite").parquet(
        os.path.join(BASE_DIR, "mid.parquet"))
    fact = spark.range(FACT_ROWS).select(
        F.pmod(F.hash(F.col("id"), F.lit(7)), F.lit(MID_ROWS))
        .cast("long").alias("f_mk"),
        (F.col("id") % 100).cast("int").alias("f_cat"))
    fact.repartition(16).write.mode("overwrite").parquet(
        os.path.join(BASE_DIR, "fact.parquet"))
    dim = spark.range(DIM_ROWS).select(
        F.col("id").alias("d_dk"),
        (F.col("id") % 10).cast("int").alias("d_seg"))
    dim.coalesce(2).write.mode("overwrite").parquet(
        os.path.join(BASE_DIR, "dim.parquet"))
    with open(marker, "w") as f:
        json.dump(params, f)
    spark.stop()
    return 0


def run() -> int:
    """Execute the transfer under the deliberately small heap."""
    from pyspark.sql import SparkSession, functions as F

    spark = (
        SparkSession.builder.appName("drpt-mempressure")
        .master("local[4]")
        .config("spark.driver.memory", "1500m")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from duckdb_robust_predicate_transfer_spark.config import RPTConfig
    from duckdb_robust_predicate_transfer_spark.engine import Engine, Rel

    # force the persist path regardless of row-count bounds: the point is
    # certifying MEMORY_AND_DISK under pressure, not the persist policy.
    # d_seg IN (0,1,2) keeps ~30% of mid after transfer (~0.8 GB wide).
    # broadcast_key_rows=0: a ~2M-key broadcast hash relation would
    # compete with the storage pool on the deliberately tiny heap — the
    # shuffle semi join is the right plan under memory pressure anyway
    # (and what AQE would pick with a realistic per-executor heap).
    cfg = RPTConfig(pass_mode="forward_only", persist_min_rows=1,
                    min_probe_rows=0, all_broadcast_bail_rows=0,
                    broadcast_key_rows=0)
    e = Engine(spark, BASE_DIR, cfg)
    t0 = time.time()
    j = e.reduce_and_join(
        {"f": "fact", "m": "mid", "d": Rel("dim", "d_seg IN (0, 1, 2)")},
        [("f", "m", "f_mk", "m_mk"), ("m", "d", "m_dk", "d_dk")])
    got = (j.groupBy()
           .agg(F.count(F.lit(1)).alias("cnt"),
                F.max(F.length("m_pad")).alias("padlen"))
           .collect()[0])
    elapsed = time.time() - t0

    # storage report: MEMORY_AND_DISK blocks that exceeded the storage
    # pool must be on disk for this certification to mean anything
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    mem_used = sum(i.memSize() for i in infos)
    disk_used = sum(i.diskSize() for i in infos)

    # oracle for the same funnel, no persist involved: rewrite-off run
    off = Engine(spark, BASE_DIR, RPTConfig(enabled=False))
    j2 = off.reduce_and_join(
        {"f": "fact", "m": "mid", "d": Rel("dim", "d_seg IN (0, 1, 2)")},
        [("f", "m", "f_mk", "m_mk"), ("m", "d", "m_dk", "d_dk")])
    expect = j2.groupBy().agg(F.count(F.lit(1)).alias("cnt")).collect()[0]

    ok = bool(got.cnt == expect.cnt and got.cnt > 0 and disk_used > 0)
    out = {
        "certified": ok,
        "rows": got.cnt,
        "rows_expected": expect.cnt,
        "persisted_mem_bytes": int(mem_used),
        "persisted_disk_bytes": int(disk_used),
        "elapsed_sec": round(elapsed, 2),
        "mid_rows": MID_ROWS,
        "fact_rows": FACT_ROWS,
        "driver_mem": "1500m",
    }
    print(json.dumps(out), flush=True)
    spark.stop()
    return 0 if ok else 1


def main() -> int:
    me = os.path.abspath(__file__)
    rc = subprocess.call([sys.executable, "-u", me, "--gen"])
    if rc != 0:
        print(json.dumps({"certified": False, "error": "fixture gen failed"}))
        return rc
    return subprocess.call([sys.executable, "-u", me, "--run"])


if __name__ == "__main__":
    if "--gen" in sys.argv:
        sys.exit(gen())
    elif "--run" in sys.argv:
        sys.exit(run())
    else:
        sys.exit(main())
