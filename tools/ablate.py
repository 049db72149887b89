"""Gate census and leave-one-out ablation of the transfer's drop sites.

Census: every statement of a regime runs once per transfer leg under
the default config, and each scheduled op's ``Decision`` is recorded as
``[op, label, value, threshold]``: ``op`` is ``"f:build->probe"`` (``b:``
for a backward op), ``label`` the tier it landed on or the gate that
dropped it. A statement that bails before the gate stack records
``null``. Per leg the artifact also counts the labels and lists, per
ablatable site, the statements where it decided an op.

Ablation (``--ablate``): for each site, only on the statements where
the census saw it fire (elsewhere the plan is the same), a rotated
min-of-N over three legs: ``off`` (rewrite disabled, the control),
``default`` and ``site_off`` (the site turned off, ``SITES``). Every
sample is kept, so the spread of the off control between runs gives
the paired noise a ``site_off``/``default`` ratio is read against.

Regimes:
  job_adhoc  perfbench's JOB templates with literals drawn from --seed,
             on its ``bench`` fixture; one leg, the session as created
  tpch       tools/tpch_scale.py's fixture (DRPT_TPCH_SCALE_REP) and
             the 22 TPC-H queries; legs rpt (native blooms off) and
             composed (native blooms on, thresholds lowered)
  job        tools/job_regime.py's fixture (DRPT_JOB_FACT) and its
             QUERIES; legs as for tpch

Run:  python -u tools/ablate.py REGIME [--json OUT] [--runs N]
          [--passes N] [--seed S] [--ablate SITE,...|all] [--legs L,...]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys
from contextlib import contextmanager
from dataclasses import fields, replace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

from duckdb_robust_predicate_transfer_spark.config import (  # noqa: E402
    BASELINE, DEFAULT, RPTConfig)

#: site -> the config that turns it off (None: see no_floor)
SITES = {
    "gate2c": RPTConfig(bf_benefit_probe_ratio=0),
    "dup": RPTConfig(skip_no_exchange_probe=False),
    "gate3": None,
    "gate2g": RPTConfig(weak_observe_max_base=0),
    "probe_big": RPTConfig(bloom_probe_min_rows=0),
}


def label(d) -> str:
    return d.gate or d.tier


def fired(d) -> "str | None":
    """The ablatable site that decided ``d``, if any. ``probe_big`` is
    the probe-side bloom route: a sketch landing no rescue asked for
    (``use_sketch`` is off by default)."""
    if d.gate in SITES:
        return d.gate
    if d.tier == "sketch" and not d.rescue:
        return "probe_big"
    return None


def record(res) -> "list | None":
    if res is None:
        return None
    return [[f"{d.op.phase[0]}:{d.op.build}->{d.op.probe}", label(d),
             d.value, d.threshold] for d in res.decisions]


@contextmanager
def no_floor():
    """Gate 3 (the backward probe floor) off: an op it drops is decided
    again as its forward twin, which no backward gate sees. A
    shuffle-tier build keeps gate 3a's drop, as it would reach 3a."""
    from duckdb_robust_predicate_transfer_spark.operators import rewrite

    decide = rewrite.decide

    def wrapped(op, s, cfg, observe):
        d = decide(op, s, cfg, observe)
        if d.gate != "gate3":
            return d
        est = s.rows_est.get(op.build, math.inf)
        if cfg.backward_broadcast_only and est > cfg.broadcast_key_rows:
            return replace(d, gate="gate3a", value=est,
                           threshold=cfg.broadcast_key_rows)
        return replace(decide(replace(op, phase="forward"), s, cfg,
                              observe), op=op)

    rewrite.decide = wrapped
    try:
        yield
    finally:
        rewrite.decide = decide


class Regime:
    """Statements, their runner and the census legs of one regime."""

    legs: tuple = ("rpt", "composed")

    def run(self, spark, stmt: str, cfg):
        """Collect ``stmt`` under ``cfg``; returns its TransferResult."""
        from duckdb_robust_predicate_transfer_spark.engine import Engine

        e = Engine(spark, self.dir, cfg)
        e.sql(self.text(stmt), auto_rpt=cfg.enabled).collect()
        return e.last_result


class JobAdhoc(Regime):
    legs = ("plain",)

    def __init__(self, args):
        pb = os.path.join(ROOT, "perfbench")
        sys.path.insert(0, pb)
        from jobq import StatementSource

        out = subprocess.run(
            [sys.executable, os.path.join(pb, "fixtures.py"), "job",
             "bench", str(args.seed),
             os.path.join(ROOT, ".bench_build", "perfbench")],
            check=True, capture_output=True, text=True)
        self.dir = out.stdout.split()[0]
        src = StatementSource(args.seed)
        self.texts = {}
        for p in range(args.passes):
            for name, text in src.one_pass():
                self.texts[f"{name}#{p}"] = text
        self.stmts = list(self.texts)

    def spark(self):
        from duckdb_robust_predicate_transfer_spark.session import get_spark

        return get_spark(app_name="ablate",
                         master=f"local[{len(os.sched_getaffinity(0))}]")

    def text(self, stmt):
        return self.texts[stmt]


class Tpch(Regime):
    def __init__(self, args):
        import tpch_scale

        tpch_scale.ensure_fixture()
        self.mod = tpch_scale
        self.dir = tpch_scale.OUT_DIR
        self.stmts = list(tpch_scale.TPCH)

    def spark(self):
        from duckdb_robust_predicate_transfer_spark.session import get_spark

        return get_spark(app_name="ablate",
                         shuffle_partitions=self.mod.SHUFFLE)

    def run(self, spark, stmt, cfg):
        from duckdb_robust_predicate_transfer_spark.workload import (
            QUERIES, common)

        common.set_default_config(cfg)
        try:
            QUERIES[stmt](spark, self.dir).collect()
        finally:
            common.set_default_config(None)
        return common.last_engine.last_result


class Job(Regime):
    def __init__(self, args):
        import job_regime

        job_regime.ensure_fixture()
        self.mod = job_regime
        self.dir = job_regime.OUT_DIR
        self.stmts = list(job_regime.QUERIES)

    spark = Tpch.spark

    def text(self, stmt):
        return self.mod.QUERIES[stmt]


REGIMES = {"job_adhoc": JobAdhoc, "tpch": Tpch, "job": Job}


def census(regime, spark) -> dict:
    from duckdb_robust_predicate_transfer_spark.workload.common import (
        set_native_rf)

    out: dict = {}
    for leg in regime.legs:
        if leg != "plain":
            set_native_rf(spark, leg == "composed")
        stmts: dict = {}
        labels: dict = {}
        sites: dict = {}
        try:
            for stmt in regime.stmts:
                res = regime.run(spark, stmt, DEFAULT)
                spark.catalog.clearCache()
                stmts[stmt] = record(res)
                for d in res.decisions if res is not None else ():
                    labels[label(d)] = labels.get(label(d), 0) + 1
                    site = fired(d)
                    if site and stmt not in sites.setdefault(site, []):
                        sites[site].append(stmt)
        finally:
            if leg != "plain":
                set_native_rf(spark, False)
        out[leg] = {"label_counts": dict(sorted(labels.items())),
                    "sites": sites, "statements": stmts}
        print(f"# census {leg}: {out[leg]['label_counts']}",
              file=sys.stderr, flush=True)
    return out


def ablate(regime, spark, site: str, stmts: list, runs: int) -> dict:
    """Rotated min-of-``runs`` over off / default / site_off on
    ``stmts``, every sample kept."""
    from duckdb_robust_predicate_transfer_spark.workload.common import (
        rotated_min, timed_leg)

    legs = ("off", "default", "site_off")
    assert runs >= len(legs), "runs must be >= legs"
    off = SITES[site]
    samples: dict = {s: {leg: [] for leg in legs} for s in stmts}

    def time_leg(stmt: str, leg: str) -> float:
        cfg = {"off": BASELINE, "default": DEFAULT}.get(leg, off or DEFAULT)

        def body() -> None:
            if leg == "site_off" and off is None:
                with no_floor():
                    regime.run(spark, stmt, cfg)
            else:
                regime.run(spark, stmt, cfg)

        t = timed_leg(spark, body)
        samples[stmt][leg].append(round(t, 4))
        return t

    for stmt in stmts:  # untimed warm-up per statement
        regime.run(spark, stmt, BASELINE)
    best = rotated_min(runs, stmts, legs, time_leg)

    def geo(leg: str) -> float:
        return math.exp(statistics.fmean(
            math.log(best[s][leg]) for s in stmts))

    # paired noise: how far the control's runs spread, per statement
    spread = [max(v["off"]) / min(v["off"]) - 1 for v in samples.values()]
    return {"statements": stmts, "runs": runs,
            "override": ({f.name: getattr(off, f.name) for f in fields(off)
                          if getattr(off, f.name) != getattr(DEFAULT, f.name)}
                         if off else "gate 3 drops re-decided as forward"),
            "geomean_sec": {leg: round(geo(leg), 4) for leg in legs},
            "site_off_over_default": round(geo("site_off")
                                           / geo("default"), 3),
            "off_spread_median": round(statistics.median(spread), 3),
            "per_statement_min": {s: {leg: round(v, 4)
                                      for leg, v in best[s].items()}
                                  for s in stmts},
            "samples": samples}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("regime", choices=sorted(REGIMES))
    ap.add_argument("--json", help="write the artifact here")
    ap.add_argument("--runs", type=int, default=3,
                    help="ablation runs per leg (>= 3 legs)")
    ap.add_argument("--passes", type=int, default=6,
                    help="job_adhoc passes of five statements")
    ap.add_argument("--seed", type=int, default=801,
                    help="job_adhoc fixture and literal seed")
    ap.add_argument("--ablate", default="",
                    help="comma-separated SITES, or 'all'")
    ap.add_argument("--legs", help="comma-separated census legs "
                    "(default: all of the regime's)")
    args = ap.parse_args()
    regime = REGIMES[args.regime](args)
    if args.legs:
        regime.legs = tuple(args.legs.split(","))
    spark = regime.spark()
    spark.sparkContext.setLogLevel("ERROR")

    def save(out: dict) -> None:
        # rewritten after the census and after each site, so a run cut
        # short keeps every leg it finished (a 10M-fact site takes
        # 20-30 min on a 4-core host)
        if args.json:
            with open(args.json, "w") as fh:
                fh.write(json.dumps(out, indent=1))

    try:
        out = {"regime": args.regime, "census": census(regime, spark),
               "ablation": {}}
        save(out)
        sites = (list(SITES) if args.ablate == "all"
                 else [s for s in args.ablate.split(",") if s])
        for site in sites:
            # the first census leg is the one the ablation legs run in
            where = out["census"][regime.legs[0]]["sites"].get(site, [])
            if not where:
                out["ablation"][site] = None
                continue
            out["ablation"][site] = ablate(regime, spark, site, where,
                                           args.runs)
            save(out)
            print(f"# ablate {site}: "
                  f"{out['ablation'][site]['site_off_over_default']} "
                  f"(off spread {out['ablation'][site]['off_spread_median']})",
                  file=sys.stderr, flush=True)
    finally:
        spark.stop()
    if not args.json:
        print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
