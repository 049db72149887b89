#!/usr/bin/env python3
"""The repository benchmark: one seeded workload, one closed-loop client.

    python3 perfbench/run.py --workload job_adhoc --seed 1 --seconds 4 \
        --trace 0

Run from the repository root. For the given seed it generates (or
reuses) the workload's Parquet inputs, sets the engine up several times
(``setup_s``), runs two untimed warm-up passes, then runs whole passes
until at least three have run and ``--seconds`` have passed. A host-speed
probe (hostprobe.py) runs beside it from the first set-up to the end of
the timed window, and the end-to-end times are scaled by it to the
reference host speed, less the share of busy time the host stole
(/proc/stat). Every timed statement is checked against DuckDB on the
same files after the window.
The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run (see README.md). Exit status: 0 when
every statement succeeded and matched DuckDB, 1 otherwise, 2 when the
program under test cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import statistics
import subprocess
import sys
import threading
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
PKG = "duckdb_robust_predicate_transfer_spark"

#: engine set-ups per run; ``setup_s`` is their median
SETUPS = 5
#: untimed passes before the timed ones: the JIT keeps speeding passes
#: up for several passes, steepest over the first two
WARMUP_PASSES = 2
#: fewest timed passes; ``pass_s`` is their median
MIN_TIMED_PASSES = 3
#: a run that has not finished by then is killed without a result
DEADLINE_S = 170
#: CPU seconds of one host-probe sample on the reference host: the
#: end-to-end times are scaled to a host on which the probe loop takes
#: this long
REF_PROBE_S = 0.0028
RF_KEY = "spark.sql.optimizer.runtime.bloomFilter.enabled"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["job_adhoc", "llm_pipeline"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["bench", "tiny"], default="bench",
                   help="input size; 'tiny' is for the self-test")
    p.add_argument("--corrupt", action="store_true",
                   help="drop a row from one result before checking it "
                        "(self-test of the correctness check)")
    return p.parse_args(argv)


def prepare_env() -> int:
    """Point every scratch location of Spark, the JVM and Python into the
    benchmark's work directory; returns the core count."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "DRPT_SHUFFLE_PARTITIONS": str(cpus),
        "DRPT_DRIVER_MEM": "2g",
        "DRPT_LOCAL_DIR": os.path.join(WORK, "spark-local"),
        "DRPT_WAREHOUSE_DIR": os.path.join(WORK, "warehouse"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS":
            f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell",
    })
    import tempfile

    tempfile.tempdir = None
    return cpus


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus this Python process."""
    def hwm_kb(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    jvm = spark.sparkContext._gateway.proc.pid
    return (hwm_kb(jvm) + hwm_kb("self")) / 1024.0


def host_ticks() -> tuple:
    """(stolen, busy) clock ticks of all cores since boot, from
    /proc/stat: ticks the host took from this VM while it had work to
    run, and ticks it had work to run (stolen ones included)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _, _, irq, softirq, steal = v
    return steal, user + nice + system + irq + softirq + steal


def stolen_frac(t0: tuple, t1: tuple) -> float:
    """Share of the busy ticks between two ``host_ticks()`` readings
    that the host stole."""
    return (t1[0] - t0[0]) / max(t1[1] - t0[1], 1)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


class HostProbe:
    """The host-speed probe (hostprobe.py), run as a child process from
    before the first set-up to the end of the timed window."""

    def __init__(self):
        self.path = os.path.join(WORK, f"probe-{os.getpid()}.txt")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "hostprobe.py"), self.path],
            stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL)
        #: CPU seconds of each sample's loop
        self.samples: list = []

    def stop(self) -> None:
        """Stop the probe, wait for it, and read its samples."""
        if self.proc.returncode is not None:
            return
        self.proc.terminate()
        self.proc.wait(timeout=30)
        with open(self.path) as f:
            self.samples = [float(x) for x in f if x.endswith("\n")]
        os.remove(self.path)

    def loop_s(self) -> float:
        """Median CPU time of the probe loop over the run."""
        return statistics.median(self.samples)

    def scaled(self, seconds: float, stolen: float) -> float:
        """``seconds`` measured in this run, at the reference host speed
        and without the ``stolen`` share of the time the VM was busy."""
        return seconds * REF_PROBE_S / self.loop_s() * (1 - stolen)


class Run:
    """One benchmark run: set-up, warm-up, timed passes, checks."""

    def __init__(self, args, cpus: int):
        from workloads import WORKLOADS

        self.args, self.cpus = args, cpus
        #: wall seconds per phase of the run, for the summary line
        self.phases: dict = {}
        t0 = time.perf_counter()
        fixture = self._fixture(WORKLOADS[args.workload].kind)
        self.phases["fixture"] = time.perf_counter() - t0
        out_dir = os.path.join(WORK, "out", f"{args.workload}-{os.getpid()}")
        self.wl = WORKLOADS[args.workload](args.seed, fixture, out_dir)
        self.tracer = None
        self.results: list = []
        self.latencies: list = []
        self.by_name: dict = {}  # statement name -> latencies
        self.passes: list = []   # (traced, pass_s)
        self.off_on = [0.0, 0.0]  # rewrite-off / rewrite-on statement time
        self.off_mismatch: list = []
        self.conf_flips = 0
        self.cached_max = 0
        self.sink_bytes = 0
        self.setup_times: list = []
        #: stolen share of busy time over the set-ups and the timed window
        self.stolen = {"setup": 0.0, "measure": 0.0}
        self._sessions: list = []
        self.probe: "HostProbe | None" = None

    def _fixture(self, kind: str) -> str:
        # a child process, so the generator's memory stays out of
        # this process's peak RSS
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "fixtures.py"), kind,
             self.args.scale, str(self.args.seed), WORK],
            check=True, capture_output=True, text=True)
        return out.stdout.split()[0]

    # -- set-up ---------------------------------------------------------

    def setup(self) -> None:
        from duckdb_robust_predicate_transfer_spark import Engine
        from duckdb_robust_predicate_transfer_spark.session import get_spark

        begin, ticks = time.perf_counter(), host_ticks()
        # stopped sessions stay referenced: the engine caches catalogs
        # by id(session), which must not be reused within the run
        for _ in range(SETUPS):
            if self._sessions:
                self._sessions[-1].stop()
            t0 = time.perf_counter()
            spark = get_spark(app_name="perfbench",
                              master=f"local[{self.cpus}]")
            Engine(spark, self.wl.fixture).catalog.register_views()
            self.setup_times.append(time.perf_counter() - t0)
            spark.sparkContext.setLogLevel("ERROR")
            self._sessions.append(spark)
        self.spark = self._sessions[-1]
        self.phases["setup"] = time.perf_counter() - begin
        self.stolen["setup"] = stolen_frac(ticks, host_ticks())

    # -- passes -----------------------------------------------------------

    def run_pass(self, pass_no: int, timed: bool, traced: bool,
                 off_leg: bool) -> float:
        from workloads import Result, canon

        tr = self.tracer
        if tr is not None:
            tr.on = traced
        total = 0.0
        for name, text in self.wl.one_pass():
            res = Result(name, text)
            if traced:
                rf0 = self.spark.conf.get(RF_KEY, None)
            if tr is not None:
                tr.stmt = f"p{pass_no}:{name}"
            df = None
            t0 = time.perf_counter()
            try:
                with _span(tr, "construct"):
                    df = self.wl.construct(self.spark, name, text)
                if self.wl.joins:
                    with _span(tr, "execute"):
                        rows = df.collect()
                else:
                    res.path = self.wl.sink_path(pass_no, name)
                    with _span(tr, "sink"):
                        df.write.mode("overwrite").parquet(res.path)
            except Exception as exc:  # a failed statement is counted
                res.error = f"{type(exc).__name__}: {exc}"[:300]
            lat = time.perf_counter() - t0
            total += lat
            if tr is not None:
                tr.on = False
            if res.error is None and self.wl.joins:
                res.rows = [tuple(r) for r in rows]
                res.columns = df.columns
            if traced:
                self._probe_side_effects(rf0)
                if res.path:
                    self.sink_bytes += dir_bytes(res.path)
            if off_leg and res.error is None:
                self._off_leg(res, lat, canon)
            if timed:
                self.results.append(res)
                if res.error is None:
                    self.latencies.append(lat)
                    self.by_name.setdefault(name, []).append(lat)
                else:
                    print(f"# {name}: {res.error}", file=sys.stderr)
            if tr is not None:
                tr.on = traced
        if tr is not None:
            tr.on = False
            if traced:
                tr.collect_jobs()
        return total

    def _probe_side_effects(self, rf0) -> None:
        """Counted from outside the engine after each statement: the
        runtime-bloom conf left changed, and persisted data left alive
        (the benchmark never clears the cache, as users do not)."""
        self.tracer._internal += 1
        try:
            self.conf_flips += self.spark.conf.get(RF_KEY, None) != rf0
            alive = self.spark.sparkContext._jsc.getPersistentRDDs().size()
            self.cached_max = max(self.cached_max, alive)
        finally:
            self.tracer._internal -= 1

    def _off_leg(self, res, on_s: float, canon) -> None:
        """The same statement with the rewrite off: its time, and the
        paper's invariant that both legs return the same rows."""
        t0 = time.perf_counter()
        df = self.wl.construct(self.spark, res.name, res.text,
                               rewrite=False)
        rows = df.collect()
        self.off_on[0] += time.perf_counter() - t0
        self.off_on[1] += on_s
        if canon(rows, df.columns) != canon(res.rows, res.columns):
            self.off_mismatch.append(res.name)

    def measure(self) -> None:
        args = self.args
        if args.trace:
            from spans import Tracer

            self.tracer = Tracer(self.spark, PKG)
            self.tracer.install()
        t0 = time.perf_counter()
        for k in range(WARMUP_PASSES):
            self.run_pass(-k, timed=False, traced=False, off_leg=False)
        start, ticks = time.perf_counter(), host_ticks()
        self.phases["warmup"] = start - t0
        # a fixed least number of passes, so that a slow machine and a
        # fast one report passes equally far into the warm-up
        while len(self.passes) < MIN_TIMED_PASSES \
                or time.perf_counter() - start < args.seconds:
            k = len(self.passes) + 1
            # traced passes first: the residual warm-up of the first
            # timed pass then counts against tracing, not for it
            traced = bool(args.trace) and k % 2 == 1
            off_leg = bool(args.trace) and self.wl.joins and not traced
            self.passes.append(
                (traced, self.run_pass(k, True, traced, off_leg)))
        self.phases["measure"] = time.perf_counter() - start
        self.stolen["measure"] = stolen_frac(ticks, host_ticks())
        self.rss_mb = peak_rss_mb(self.spark)
        if self.tracer is not None:
            self.tracer.uninstall()

    def shutdown(self) -> None:
        """Stop Spark and wait for the driver JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self._sessions:
            self._sessions[-1].stop()
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=30)
        self.wl.cleanup()

    # -- report -------------------------------------------------------------

    def end_to_end(self) -> dict:
        plain = [s for t, s in self.passes if not t]
        return {
            "setup_s": (self.probe.scaled(statistics.median(self.setup_times),
                                          self.stolen["setup"]), "s"),
            "pass_s": (self.probe.scaled(statistics.median(plain),
                                         self.stolen["measure"]), "s"),
        }

    def per_layer(self) -> dict:
        tr = self.tracer
        n = sum(1 for t, _ in self.passes if t)
        L, c = tr.layer_totals(), tr.counts
        traced = [s for t, s in self.passes if t]
        plain = [s for t, s in self.passes if not t]

        def frac(a, b):
            return a / b if b else 0.0

        def per(v):
            return v / n

        top = sum(L[x]["s"] for x in ("construct", "execute", "sink"))
        m = {
            "peak_rss_mb": (self.rss_mb, "MB"),
            "pass_wall_s": (statistics.median(plain), "s"),
            "host.probe_ms": (self.probe.loop_s() * 1e3, "ms"),
            "host.stolen_frac": (self.stolen["measure"], "ratio"),
            "session.start_s": (self.setup_times[0], "s"),
            "catalog.register_s": (per(L["catalog.register"]["s"]), "s"),
            "catalog.register_calls":
                (per(L["catalog.register"]["calls"]), "count"),
            "plans.extract_s": (per(L["plans.extract"]["s"]), "s"),
            "plans.extract_calls": (per(L["plans.extract"]["calls"]), "count"),
            "plans.extract_bail_frac":
                (frac(c["extract_bails"], L["plans.extract"]["calls"]),
                 "ratio"),
            "plans.schedule_s": (per(L["plans.schedule"]["s"]), "s"),
            "plans.ops_scheduled": (per(c["ops_scheduled"]), "count"),
            "plans.catalyst_order_s":
                (per(L["plans.catalyst_order"]["s"]), "s"),
            "plans.catalyst_order_calls":
                (per(L["plans.catalyst_order"]["calls"]), "count"),
            "engine.sql_self_s": (per(L["engine.sql"]["self_s"]), "s"),
            "engine.reduce_self_s": (per(L["engine.reduce"]["self_s"]), "s"),
            "engine.engaged_frac":
                (frac(c["engaged"], c["sql_calls"]), "ratio"),
            "engine.ceded_frac": (frac(c["ceded"], c["sql_calls"]), "ratio"),
            "engine.conf_flips": (per(self.conf_flips), "count"),
            "engine.cached_after_stmt_max": (self.cached_max, "count"),
            "rewrite.transfer_s": (per(L["rewrite.transfer"]["s"]), "s"),
            "rewrite.eager_jobs": (per(L["rewrite.transfer"]["jobs"]), "count"),
            "rewrite.ops_applied": (per(c["ops_applied"]), "count"),
            "rewrite.ops_dropped": (per(c["ops_dropped"]), "count"),
            "rewrite.applied_frac":
                (frac(c["ops_applied"], c["ops_scheduled"]), "ratio"),
            "rewrite.persisted": (per(c["persisted"]), "count"),
            "transfer.off_over_on":
                (frac(*self.off_on) if self.wl.joins else 1.0, "ratio"),
            "execute.s": (per(L["execute"]["s"]), "s"),
            "execute.jobs": (per(L["execute"]["jobs"]), "count"),
            "execute.tasks": (per(L["execute"]["tasks"]), "count"),
            "execute.input_mb": (per(L["execute"]["in_b"]) / 2**20, "MB"),
            "execute.shuffle_write_mb":
                (per(L["execute"]["shuffle_b"]) / 2**20, "MB"),
            "construct.s": (per(L["construct"]["s"]), "s"),
            "construct.py4j_calls": (per(tr.py4j["construct"]), "count"),
            "sink.s": (per(L["sink"]["s"]), "s"),
            "sink.mb_written": (per(self.sink_bytes) / 2**20, "MB"),
            "trace.overhead_frac":
                (statistics.median(traced) / statistics.median(plain) - 1,
                 "ratio"),
            "trace.coverage_frac": (frac(top, sum(traced)), "ratio"),
        }
        for layer in ("dedup", "similarity", "cluster"):
            m[f"{layer}.s"] = (per(L[layer]["s"]), "s")
            m[f"{layer}.jobs"] = (per(L[layer]["jobs"]), "count")
        return m


def _span(tracer, name: str):
    return tracer.span(name) if tracer is not None else nullcontext()


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        __import__(PKG)
    except ImportError as exc:
        print(f"perfbench: cannot import {PKG} from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    watchdog = threading.Timer(DEADLINE_S, os._exit, args=(3,))
    watchdog.daemon = True
    watchdog.start()
    cpus = prepare_env()
    run = Run(args, cpus)
    run.probe = probe = HostProbe()
    try:
        run.setup()
        run.measure()
        probe.stop()
        t0 = time.perf_counter()
        verified, wrong, first = run.wl.verify(run.results, args.corrupt)
        run.phases["verify"] = time.perf_counter() - t0
    finally:
        probe.stop()
        t0 = time.perf_counter()
        run.shutdown()
        run.phases["shutdown"] = time.perf_counter() - t0
    attempted = len(run.results)
    failed = sum(r.error is not None for r in run.results)
    wrong += len(run.off_mismatch)
    metrics = run.per_layer() if args.trace else run.end_to_end()
    lat = sorted(run.latencies)
    p50 = f"{statistics.median(lat):.4f}" if lat else "n/a"
    # p90 only with at least ten samples beyond it
    p90 = len(lat) * 9 // 10
    p90 = f"{lat[p90]:.4f}" if len(lat) - p90 - 1 >= 10 else "n/a"
    print(f"# {args.workload} seed={args.seed} passes="
          f"{[round(s, 2) for _, s in run.passes]} "
          f"statements={attempted} samples={len(lat)} "
          f"query_p50_s={p50} query_p90_s={p90} "
          f"failed_frac={failed / max(attempted, 1):.4f} "
          f"wrong_frac={wrong / max(verified, 1):.4f}"
          + (f" first_wrong={first}" if first else "")
          + (f" off_mismatch={run.off_mismatch}" if run.off_mismatch else "")
          + f" setups={[round(x, 2) for x in run.setup_times]}"
          + f" probe_ms={probe.loop_s() * 1e3:.3f}"
          + "".join(f" stolen_{k}={v:.3f}" for k, v in run.stolen.items())
          + " wall:" + "".join(f" {k}={v:.1f}s" for k, v in run.phases.items()),
          file=sys.stderr)
    print("# median latency:" + "".join(
        f" {k}={statistics.median(v):.3f}" for k, v in run.by_name.items()),
        file=sys.stderr)
    if run.tracer is not None:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        run.tracer.dump(os.path.join(
            WORK, "traces", f"{args.workload}-s{args.seed}.json"))
    correct = failed == 0 and wrong == 0
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
