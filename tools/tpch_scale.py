"""TPC-H breadth at 10x the driver's largest fixture (~60M lineitem).

The 22 adapted TPC-H queries are graded at sf0.01 and locally swept at
sf0.1; this certifies the SAME query texts (through ``Engine.sql()``
auto-extraction + transfer) at one more order of magnitude, where the
lineitem shuffle stops being trivially memory-resident:

  1. fixture — DuckDB replicates sf0.1 lineitem+orders REP times with
     disjoint order-key ranges (``SELECT * REPLACE (l_orderkey + off)``),
     dims unchanged: FK-valid, deterministic, single parquet files both
     engines read byte-identically.
  2. correctness — tools/oracle_check.py (rowcount + columns + value
     multiset + types) for all 22 queries against DuckDB ON THE SCALED
     DATA, i.e. a full oracle check at 10x the graded scale.
  3. timing — interleaved min-of-N legs per query, leg order rotated
     each run (the first leg of a query pays codegen + page-cache
     warmup the later legs ride): rewrite off / rewrite on (native
     runtime filters disabled, isolating the transfer) / Spark's
     native runtime bloom filter alone (thresholds lowered so
     InjectRuntimeFilter actually fires at local fixture sizes — at
     its 10GB-scan default gate it injects nothing below cluster
     scale; see workload.common.set_native_rf) / COMPOSED = transfer
     + native blooms together, the production default at cluster
     scale, under the engine's one native-bloom rule (the statement
     runs with injection on, only its eager jobs with it off, and an
     op a native bloom of the original plan covers drops at gate
     "native"). Per-query native-bloom injection counts, cessions,
     gate-"native" drops and double-filtered edges are recorded in
     the artifact as plan-shape evidence, and each
     transfer leg's own engagement as ``rpt_engaged_by_leg``.

Run:  python -u tools/tpch_scale.py [--json OUT] [--runs N] [--skip-oracle]
Env:  DRPT_TPCH_SCALE_DIR (default /tmp/drpt_tpch_x10)
      DRPT_TPCH_SCALE_REP (default 10)
      DRPT_TPCH_SCALE_BASE (default /root/testdata/sf0.1)

Exit 0 when the oracle check passes and every query ran in all legs.
"""

from __future__ import annotations

import gc
import json
import math
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = os.environ.get("DRPT_TPCH_SCALE_BASE", "/root/testdata/sf0.1")
SMALL = "/root/testdata/sf0.001"  # unused-by-TPC-H tables, view registration
OUT_DIR = os.environ.get("DRPT_TPCH_SCALE_DIR", "/tmp/drpt_tpch_x10")
REP = int(os.environ.get("DRPT_TPCH_SCALE_REP", 10))

os.environ.setdefault("DRPT_DRIVER_MEM", "16g")


RF_ENABLED = "spark.sql.optimizer.runtime.bloomFilter.enabled"


def _ratio(num, den):
    return round(num / den, 3) if num and den else None

TPCH = [f"q_tpch_q{i}" for i in range(1, 23)]
# optional subset (comma-separated query names) for very large replications
# where the full 22-query sweep would not fit a round's wall clock
if os.environ.get("DRPT_TPCH_SCALE_QUERIES"):
    TPCH = [q for q in os.environ["DRPT_TPCH_SCALE_QUERIES"].split(",")
            if q]
#: at REP>=1000 (>=600M lineitem rows) 64 shuffle partitions put ~10M
#: rows in each — raise via env so partitions stay executor-memory-sized
SHUFFLE = int(os.environ.get("DRPT_TPCH_SCALE_SHUFFLE", "64"))
#: native-bloom emulation (lowered thresholds) is for fixtures whose
#: scans sit under Spark's 10GB gate; at x1000 the lineitem scan is
#: ~12GB and stock thresholds admit the filters — set "0" to run the
#: native/composed legs at true production defaults
EMULATE_RF = os.environ.get("DRPT_TPCH_SCALE_EMULATE_RF", "1") != "0"


def ensure_fixture() -> None:
    import duckdb
    # REP+BASE-keyed marker: rerunning with a different replication but
    # the same DRPT_TPCH_SCALE_DIR must regenerate, not silently reuse
    # a fixture at the wrong scale (ADVICE r4)
    tag = f"rep{REP}_{os.path.basename(BASE.rstrip('/'))}"
    marker = os.path.join(OUT_DIR, f"_DONE_{tag}")
    if os.path.exists(marker):
        return
    legacy = os.path.join(OUT_DIR, "_DONE")
    if os.path.exists(legacy):
        os.remove(legacy)  # unkeyed marker: cannot trust the scale
    os.makedirs(OUT_DIR, exist_ok=True)
    t0 = time.time()
    con = duckdb.connect()
    off_unit = con.sql(
        f"SELECT MAX(o_orderkey) + 1 FROM '{BASE}/orders.parquet'"
    ).fetchone()[0]
    reps = f"(SELECT g * {off_unit} AS off FROM generate_series(0, {REP - 1}) t(g))"
    for t, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        con.sql(f"""
            COPY (SELECT * REPLACE ({key} + i.off AS {key})
                  FROM '{BASE}/{t}.parquet' CROSS JOIN {reps} i)
            TO '{OUT_DIR}/{t}.parquet'
            (FORMAT PARQUET, ROW_GROUP_SIZE 1048576)
        """)
    for t in ("region", "nation", "customer", "supplier", "part"):
        shutil.copy(f"{BASE}/{t}.parquet", f"{OUT_DIR}/{t}.parquet")
    for t in ("events", "documents", "embeddings"):  # view registration only
        shutil.copy(f"{SMALL}/{t}.parquet", f"{OUT_DIR}/{t}.parquet")
    n = con.sql(f"SELECT COUNT(*) FROM '{OUT_DIR}/lineitem.parquet'").fetchone()[0]
    open(marker, "w").close()
    print(f"# fixture: {n} lineitem rows in {time.time() - t0:.1f}s at {OUT_DIR}",
          file=sys.stderr, flush=True)


def main() -> int:
    argv = sys.argv[1:]
    # default 4 runs: with 4 rotated leg orders every mode samples every
    # position once, cancelling the first-leg warmup bias
    out_json, runs, skip_oracle = None, 4, False
    i = 0
    while i < len(argv):
        if argv[i] == "--json":
            out_json = argv[i + 1]; i += 2
        elif argv[i] == "--runs":
            runs = int(argv[i + 1]); i += 2
        elif argv[i] == "--skip-oracle":
            skip_oracle = True; i += 1
        else:
            i += 1

    ensure_fixture()

    oracle_ok, oracle_log = None, None
    if not skip_oracle:
        here = os.path.dirname(os.path.abspath(__file__))
        env = dict(os.environ)
        if REP >= 300:
            # bounded-disk: recycle the oracle session every few queries
            # so 22 queries' shuffle spill (Q21's self-join alone is
            # tens of GB at x1000) never accumulates to ENOSPC, and
            # compress spill with zstd (~2x smaller than lz4)
            env.setdefault("DRPT_ORACLE_RESTART_EVERY", "3")
            env.setdefault("DRPT_IO_CODEC", "zstd")
            env.setdefault("DRPT_ORACLE_SHUFFLE", "128")
        r = subprocess.run(
            [sys.executable, "-u", os.path.join(here, "oracle_check.py"),
             OUT_DIR] + TPCH,
            env=env, capture_output=True, text=True, timeout=7200)
        tail = (r.stdout or "").strip().splitlines()
        print("\n".join(tail[-3:]), file=sys.stderr, flush=True)
        # persist the full oracle output: a '21 ok, 1 fail' summary
        # without the FAIL line is undiagnosable after the fact (r7).
        # Run-unique path (replication + pid): back-to-back scale runs
        # must not clobber each other's only failure diagnostics.
        oracle_log = f"/tmp/tpch_scale_oracle_x{REP}_{os.getpid()}.log"
        with open(oracle_log, "w") as fh:
            fh.write(r.stdout or "")
            fh.write("\n--- stderr ---\n")
            fh.write((r.stderr or "")[-20000:])
        oracle_ok = r.returncode == 0

    from duckdb_robust_predicate_transfer_spark.config import RPTConfig
    from duckdb_robust_predicate_transfer_spark.workload import QUERIES
    from duckdb_robust_predicate_transfer_spark.workload import common
    from duckdb_robust_predicate_transfer_spark.session import get_spark
    from duckdb_robust_predicate_transfer_spark.workload.common import (
        count_native_blooms, native_counts, rotated_min, timed_leg)

    spark = get_spark(app_name="drpt-tpch-scale",
                      shuffle_partitions=SHUFFLE)
    spark.sparkContext.setLogLevel("ERROR")
    failed: list = []
    #: the query whose legs the live session has run (None: fresh)
    session_q = None

    def restart_spark() -> None:
        """Bounded-disk discipline for big replications: shuffle files
        are only guaranteed gone when their SparkContext stops (stop()
        removes the whole blockmgr tree). Per-leg JVM GC turned out not
        to keep up at x1000 — 57 GB of spill accumulated inside ten
        minutes and ENOSPC'd the r5 first attempts — so the session is
        recycled between queries, capping live spill at one query's
        four legs (~10 s restart cost each, paid equally by all legs)."""
        nonlocal spark, session_q
        try:
            spark.stop()
        except Exception:
            pass
        spark = get_spark(app_name="drpt-tpch-scale",
                          shuffle_partitions=SHUFFLE)
        spark.sparkContext.setLogLevel("ERROR")
        session_q = None

    def free_gb() -> float:
        st = os.statvfs("/tmp")
        return st.f_bavail * st.f_frsize / 2**30

    off_cfg = RPTConfig(enabled=False)

    def mode_leg(mode: str, run) -> float:
        """timed_leg under ``mode``. Native blooms get lowered thresholds
        (EMULATE_RF) or, at x1000+, where the scan clears the 10GB gate
        on its own, just the enabled flag: true production defaults."""
        rf = mode in ("native", "composed")

        def body() -> None:
            if rf and not EMULATE_RF:
                spark.conf.set(RF_ENABLED, "true")
            run()

        return timed_leg(spark, body,
                         None if mode in ("rpt", "composed") else off_cfg,
                         rf and EMULATE_RF)

    def verdict() -> tuple:
        """(engaged, "native" for a cession else None) of the last
        statement, off the query function's Engine."""
        e = common.last_engine
        engaged = bool(e.last_result is not None and e.last_result.applied)
        return engaged, "native" if e.last_cede else None

    def leg(name: str, mode: str) -> float:
        # emergency valve: a leg mid-query can still spill big; never
        # start one without headroom
        if free_gb() < 10:
            restart_spark()
        # best-effort early release between legs (the hard guarantee is
        # the per-query restart_spark)
        try:
            gc.collect()
            spark._jvm.System.gc()
        except Exception:
            pass

        def run() -> None:
            df = QUERIES[name](spark, OUT_DIR)
            df.collect()
            if mode in engaged_by_leg:
                # each transfer leg's own engagement, off its timed
                # statement: a leg can only be read against off for a
                # query it actually engaged on
                engaged_by_leg[mode][name] = verdict()[0]
            if mode == "composed":
                # free engagement/cession capture (feeds the
                # engaged-only geomeans) — works under
                # DRPT_TPCH_SCALE_BLOOMS_FROM reuse too, where the
                # blooms pass never runs
                engaged[name], c = verdict()
                if c is not None or name not in cede:
                    cede[name] = c

        return mode_leg(mode, run)

    MODES = ("off", "rpt", "native", "composed")

    # plan-shape evidence: how many native bloom probes each mode's
    # optimized plan carries. Note: for the 'composed' mode constructing
    # the DataFrame runs the transfer's eager Spark jobs (min/max aggs,
    # key counts, persists) before the explain — a real cost at x1000,
    # accepted for the plan evidence (ADVICE r4: the old "nothing
    # executed" comment was wrong for that mode)
    blooms: dict = {}
    engaged: dict = {}
    engaged_by_leg: dict = {"rpt": {}, "composed": {}}
    cede: dict = {}
    #: per query, off the composed pass: ops dropped at gate "native",
    #: and applied ops whose edge also carries a native bloom
    native_drops: dict = {}
    double_filtered: dict = {}
    blooms_from = os.environ.get("DRPT_TPCH_SCALE_BLOOMS_FROM", "")
    if blooms_from:
        # plan evidence is timing-independent; a re-timing run (e.g.
        # after a methodology fix) reuses the counts from the previous
        # artifact instead of paying the composed pass's eager transfer
        # jobs again (~45 min at x1000)
        with open(blooms_from) as fh:
            prior = json.load(fh)
        blooms = prior.get("native_blooms_injected", {})
        engaged = prior.get("rpt_engaged", {})
        cede = prior.get("composed_cede", {})
        native_drops = prior.get("composed_native_drops", {})
        double_filtered = prior.get("composed_double_filtered", {})
    else:
        for q in TPCH:
            blooms[q] = {}
            for mode in ("native", "composed"):

                def count() -> None:
                    df = QUERIES[q](spark, OUT_DIR)
                    blooms[q][mode] = count_native_blooms(df)
                    if mode == "composed":
                        engaged[q], cede[q] = verdict()
                        native_drops[q], double_filtered[q] = (
                            native_counts(common.last_engine, df))

                try:
                    mode_leg(mode, count)
                except Exception:
                    blooms[q][mode] = None

    if REP >= 300:
        restart_spark()  # shed any spill from the bloom-count pass

    def timed(q: str, mode: str) -> float:
        """One rotated leg of ``q``; a failed query times inf from then
        on. Big replications give each query a fresh session (see
        restart_spark) and level it with an untimed off-mode warmup:
        the first leg after a restart pays page-cache faults and codegen
        JIT (~10-25 s at x1000), and with few runs the rotation alone
        left modes at unequal positions (join-free Q1 "losing" 12%
        rpt-vs-off)."""
        nonlocal session_q
        if q in failed:
            return math.inf
        try:
            if REP >= 300 and session_q != q:
                if session_q is not None:
                    restart_spark()
                leg(q, "off")
            session_q = q
            return leg(q, mode)
        except Exception as exc:  # record and move on; artifact lands
            print(f"# FAIL {q}: {str(exc)[:200]}", file=sys.stderr,
                  flush=True)
            failed.append(q)
            restart_spark()  # a dead/ENOSPC'd session poisons the rest
            return math.inf

    def progress(r_i: int, best: dict) -> None:
        if REP >= 300:
            restart_spark()
        done = [q for q, v in best.items() if v["rpt"] < math.inf]
        print(f"# run {r_i + 1}/{runs}: {len(done)}/{len(TPCH)} rpt legs ok",
              file=sys.stderr, flush=True)

    leg(TPCH[0], "off")  # untimed warmup: page cache + codegen
    # rotate the leg order every run: the first leg of a fresh query
    # pays codegen compilation + page-cache faults that later legs ride
    # for free (measured up to 40% on sub-second queries whose four legs
    # share one physical plan) — min-of-N over rotated orders gives
    # every mode a turn in each position
    best = rotated_min(runs, TPCH, MODES, timed, progress)

    ok_qs = [q for q in TPCH if q not in failed]

    def geo(mode: str, subset=None) -> float | None:
        # legs that never completed show as inf — exclude them, and an
        # all-failed run must still write its artifact (ADVICE r4)
        vals = [best[q][mode] for q in (ok_qs if subset is None
                                        else subset)
                if math.isfinite(best[q][mode])]
        if not vals:
            return None
        return round(math.exp(sum(math.log(v) for v in vals) / len(vals)), 3)

    summary = {
        "suite": "tpch-scale",
        "base": BASE,
        "replication": REP,
        "runs": runs,
        "shuffle_partitions": SHUFFLE,
        "io_codec": os.environ.get("DRPT_IO_CODEC", "lz4"),
        "rf_emulated": EMULATE_RF,
        "oracle_22_queries_ok": oracle_ok,
        "oracle_log": oracle_log,
        "queries_timed": len(ok_qs),
        "failed": failed,
        "geomean_sec": {m: geo(m) for m in MODES},
        "rpt_vs_off_geomean": _ratio(geo("off"), geo("rpt")),
        "rpt_vs_native_geomean": _ratio(geo("native"), geo("rpt")),
        "composed_vs_native_geomean": _ratio(geo("native"), geo("composed")),
        "composed_vs_off_geomean": _ratio(geo("off"), geo("composed")),
        # engaged-only twins (VERDICT r9 #7): the full-22 composed
        # headline wobbles +-5% on the no-op giants (Q12/Q18/Q19,
        # plan-identical to off); the engaged-only geomean isolates
        # what the engine actually does from that noise floor
        "rpt_engaged": engaged,
        "rpt_engaged_by_leg": engaged_by_leg,
        "composed_cede": cede,
        "composed_native_drops": native_drops,
        "composed_double_filtered": double_filtered,
        "geomean_engaged_only_sec": {
            m: geo(m, [q for q in ok_qs if engaged.get(q)])
            for m in MODES},
        "rpt_vs_off_engaged_only": _ratio(
            geo("off", [q for q in ok_qs if engaged.get(q)]),
            geo("rpt", [q for q in ok_qs if engaged.get(q)])),
        "composed_vs_off_engaged_only": _ratio(
            geo("off", [q for q in ok_qs if engaged.get(q)]),
            geo("composed", [q for q in ok_qs if engaged.get(q)])),
        "per_query_sec": {q: {m: (None if best[q][m] is math.inf
                                  else round(best[q][m], 3))
                              for m in MODES}
                          for q in TPCH},
        "native_blooms_injected": blooms,
    }
    print(json.dumps(summary), flush=True)
    if out_json:
        with open(out_json, "w") as f:
            json.dump(summary, f, indent=1)
    spark.stop()
    return 0 if (oracle_ok is not False and not failed) else 1


if __name__ == "__main__":
    sys.exit(main())
