"""Shared helpers for declared queries.

Cross-engine determinism rules (SURVEY.md section 7 "What's hard" #5):

- money aggregates go through DECIMAL(18,4): the double expression is
  identical IEEE arithmetic on both engines; casting each term to
  decimal makes the *summation* exact and order-independent, and the
  final cast back to double is deterministic. This sidesteps
  float-summation-order divergence entirely.
- counts are BIGINT on both engines; year()/etc cast to INT.
- timestamps compare under a UTC session timezone.
"""

from __future__ import annotations

import math
import time

from pyspark.sql import Column, SparkSession, functions as F

from ..engine import Engine, Rel  # noqa: F401  (re-exported for queries)
from ..config import RPTConfig


#: process-wide config override for declared queries (bench ablations:
#: time the same query surface with the rewrite on vs off, the
#: reference's test_job_queries.sh baseline/rpt protocol)
_CONFIG_OVERRIDE: RPTConfig | None = None


def set_default_config(config: RPTConfig | None) -> None:
    global _CONFIG_OVERRIDE
    _CONFIG_OVERRIDE = config


#: the Engine constructed by the most recent eng() call — certification
#: tooling reads its last_result (applied ops + tiers) after building a
#: declared query, e.g. tools/tpch_scale.py's engagement capture
last_engine: Engine | None = None


def eng(spark: SparkSession, sf_dir: str, config: RPTConfig | None = None) -> Engine:
    global last_engine
    # deterministic timestamp collection vs the DuckDB oracle
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    last_engine = Engine(spark, sf_dir,
                         config if config is not None else _CONFIG_OVERRIDE)
    return last_engine


def dsum(col: Column, alias: str) -> Column:
    """Order-independent double sum via exact decimal accumulation.

    The sum is ROUNDed to 2 decimals (HALF_UP in both engines, verified
    incl. negative halves) BEFORE the double cast: that keeps the
    decimal's unscaled value under 2^53 up to ~9e13 totals, so the
    decimal->double conversion is a single exact-input correctly-rounded
    step in both engines. Without it, sums past ~9e9 (hit at 10x the
    sf0.1 fixture) diverge in the 16th digit because each engine
    double-rounds a >2^53 unscaled value differently."""
    return F.round(F.sum(col.cast("decimal(18,4)")), 2).cast("double").alias(alias)


def davg(col: Column, alias: str) -> Column:
    """avg = rounded exact decimal sum cast to double, divided by count
    (both engines then do the same single IEEE division)."""
    return (F.round(F.sum(col.cast("decimal(18,4)")), 2).cast("double")
            / F.count(col)).alias(alias)


#: the same two helpers, SQL-side (DuckDB)
def sql_dsum(expr: str, alias: str) -> str:
    return (f"CAST(ROUND(SUM(CAST({expr} AS DECIMAL(18,4))), 2) AS DOUBLE)"
            f" AS {alias}")


def sql_davg(expr: str, alias: str) -> str:
    return (f"CAST(ROUND(SUM(CAST({expr} AS DECIMAL(18,4))), 2) AS DOUBLE)"
            f" / COUNT({expr}) AS {alias}")


#: Spark's native one-hop runtime bloom filter (InjectRuntimeFilter) —
#: the built-in yardstick our multi-hop transfer is benchmarked against.
#: Its *default* gates target cluster scale: the application side's scan
#: must exceed spark.sql.optimizer.runtime.bloomFilter
#: .applicationSideScanSizeThreshold = 10GB before a bloom is even
#: considered, so on local fixtures (<=4GB scans) the rule injects
#: NOTHING and a "native" leg silently times the plain off plan
#: (verified: optimizedPlan contains zero might_contain at defaults on
#: the x100 TPC-H and cascade fixtures). Benchmark legs therefore lower
#: the scan gate and widen the creation-side cap so the native tier
#: genuinely engages — emulating the >=10GB-per-scan regime the
#: defaults assume — and restore the defaults when switching off.
_RF_ENABLED = "spark.sql.optimizer.runtime.bloomFilter.enabled"
_RF_APP_GATE = ("spark.sql.optimizer.runtime.bloomFilter."
                "applicationSideScanSizeThreshold")
_RF_CREATE_GATE = ("spark.sql.optimizer.runtime.bloomFilter."
                   "creationSideThreshold")


def set_native_rf(spark: SparkSession, on: bool) -> None:
    """Toggle Spark's native runtime bloom filters for a benchmark leg,
    with thresholds that let them fire at local fixture sizes."""
    if on:
        spark.conf.set(_RF_ENABLED, "true")
        spark.conf.set(_RF_APP_GATE, "64MB")
        spark.conf.set(_RF_CREATE_GATE, "1GB")
    else:
        spark.conf.set(_RF_ENABLED, "false")
        spark.conf.unset(_RF_APP_GATE)
        spark.conf.unset(_RF_CREATE_GATE)


def timed_leg(spark: SparkSession, run, config: RPTConfig | None = None,
              native_rf: bool = False) -> float:
    """Seconds one benchmark leg's ``run()`` takes under the declared-query
    config override ``config`` and native runtime blooms ``native_rf``.
    Both are reset afterwards, and the cache cleared so the next leg
    sees none of this leg's persisted build sides, even if ``run()``
    raises."""
    set_default_config(config)
    set_native_rf(spark, native_rf)
    try:
        t0 = time.time()
        run()
        return time.time() - t0
    finally:
        set_native_rf(spark, False)
        set_default_config(None)
        spark.catalog.clearCache()


def rotated_min(runs: int, items, legs, time_leg, after_run=None) -> dict:
    """Interleaved min-of-N, the reference's baseline-vs-rpt protocol: in
    each run, for each item, time every leg once as ``time_leg(item,
    leg)``, starting item ``i``'s leg order at position ``(run + i) %
    len(legs)`` so no leg always pays the first-leg warmup (codegen, page
    cache), not even in a single run. Returns {item: {leg: minimum
    seconds}}; ``after_run(run, best)`` follows each run."""
    legs = list(legs)
    best = {item: dict.fromkeys(legs, math.inf) for item in items}
    for r in range(runs):
        for i, item in enumerate(items):
            rot = (r + i) % len(legs)
            for leg in legs[rot:] + legs[:rot]:
                best[item][leg] = min(best[item][leg], time_leg(item, leg))
        if after_run is not None:
            after_run(r, best)
    return best


def count_native_blooms(df) -> int:
    """Number of native runtime blooms in the optimized logical plan —
    plan-shape evidence for bench artifacts. Counts the blooms' build
    subqueries (``bloom_filter_agg``), not ``might_contain``: the
    sketch tier's own probes use might_contain over a prebuilt filter
    (operators/bloom.py) and are not Spark-planted."""
    return df._jdf.queryExecution().optimizedPlan().toString().count(
        "bloom_filter_agg(")


def native_counts(engine, df) -> tuple:
    """(ops the last statement of ``engine`` dropped at gate "native",
    applied ops whose edge also carries a native bloom in ``df``'s
    optimized plan, i.e. double-filtered edges) — the per-edge
    native-bloom evidence of composed legs. (0, 0) when the statement
    bailed before the gate stack ran."""
    res = engine.last_result
    if res is None:
        return 0, 0
    drops = sum(d.gate == "native" for d in res.decisions)
    final = engine.native_edges(df) if res.applied else frozenset()

    def table(alias) -> str:
        return str(res.tables.get(alias, alias)).lower()

    double = sum(all((table(op.probe), c.lower(), table(op.build)) in final
                     for c in op.probe_cols)
                 for op in res.applied)
    return drops, double


def ops_and_drops(res) -> tuple:
    """(applied ops as ``"f:build->probe[tier]"``, ``TransferResult.drops``)
    of a statement's transfer result ``res`` — the per-leg engagement
    record of the regime tools; ([], {}) when the statement bailed
    before the gate stack ran."""
    if res is None:
        return [], {}
    return ([f"{op.phase[0]}:{op.build}->{op.probe}[{t}]"
             for op, t in zip(res.applied, res.applied_tiers)],
            res.drops)


REVENUE = "l_extendedprice * (1 - l_discount)"


def revenue_col() -> Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))
