"""SparkSession factory tuned for this engine.

Settings chosen for correctness against a DuckDB oracle (UTC session
timezone, ANSI off to match permissive semantics) and for scale
(AQE on with skew-join handling; shuffle partitions sized by env).
On a real cluster only master/shuffle-partitions change — everything
else is scale-independent.
"""

from __future__ import annotations

import functools
import os
import threading
import weakref

from pyspark.sql import DataFrame, SparkSession


def get_spark(app_name: str = "drpt-spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("DRPT_SHUFFLE_PARTITIONS", cpus))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # one-hop native runtime bloom filters as belt-and-braces under our
        # multi-hop schedule (SURVEY.md section 7)
        # NOTE: do NOT enable runtimeFilter.semiJoinReduction — it hangs
        # local-mode jobs on Spark 4.1.2 (observed: any parquet action
        # deadlocks with that flag set)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # nanosecond parquet timestamps (events table) read as TIMESTAMP_NTZ
        .config("spark.sql.legacy.parquet.nanosAsLong", "false")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # write INT64 micros (the modern representation), not INT96 —
        # deterministic roundtrips through our own footer probing
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.ansi.enabled", "false")
        # per-call origin capture for DataFrame error context costs THREE
        # py4j round-trips per wrapped DataFrame API call (conf.get +
        # PySparkCurrentOrigin.set/.clear) plus a Python stack walk — a
        # wide query makes hundreds of such calls while being built, and
        # the cost is per API call, not per row, so it never amortizes at
        # any scale. Measured: q_star_join_rpt construction 0.119->0.055 s
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Arrow speeds toPandas/createDataFrame but the DRIVER'S harness
        # session leaves it off, so DRPT_ARROW=0 gives a driver-parity
        # session for the local gate (r4 regression: code green under
        # Arrow failed at the driver on the non-Arrow verifier path)
        .config("spark.sql.execution.arrow.pyspark.enabled",
                "false" if os.environ.get("DRPT_ARROW") == "0" else "true")
        .config("spark.driver.memory", os.environ.get("DRPT_DRIVER_MEM", "8g"))
        # spill-aware (SURVEY §7): shuffle/spill files compress ~2x
        # smaller under zstd than the lz4 default — opt-in for
        # disk-bounded certification runs (x1000's Q21 triple-lineitem
        # self-join spills ~46 GB with lz4 against a ~49 GB-free /tmp,
        # the round-7 ENOSPC). Default stays lz4, Spark's own default.
        .config("spark.io.compression.codec",
                os.environ.get("DRPT_IO_CODEC", "lz4"))
        .config("spark.ui.enabled", "false")
        # artifact hygiene (VERDICT r5 #2): stage-progress bars written
        # to stdout interleave with, and corrupt, captured JSON lines
        # from the tools/ harnesses — keep stdout machine-readable
        .config("spark.ui.showConsoleProgress", "false")
        # saved (bucketed) tables land outside the repo; static conf, so
        # it must be set at session build
        .config("spark.sql.warehouse.dir",
                os.environ.get("DRPT_WAREHOUSE_DIR", "/tmp/drpt-warehouse"))
        # shuffle/block-manager scratch pinned to a dedicated dir that
        # no fixture-reclaim script touches: BENCH_r08 was invalidated
        # by blockmgr-*/shuffle_*.index vanishing mid-run when a chain
        # step's rm -rf swept the default /tmp scratch (VERDICT r8 #2)
        .config("spark.local.dir",
                os.environ.get("DRPT_LOCAL_DIR", "/tmp/drpt-spark-local"))
    )
    return b.getOrCreate()


#: py4j gateway client -> {dotted JVM path: its resolved handle}
_HANDLES: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def jvm_handle(view, path: str):
    """The JVM class, static method or static field at the dotted
    ``path`` (``"org.apache.hadoop.fs.Path"``,
    ``"scala.concurrent.Await.ready"``), resolved once per py4j gateway.
    ``view`` is a py4j ``JVMView`` such as ``spark._jvm``.

    Walking ``view.org.apache...`` costs one reflection round trip per
    dotted segment, and a static member one more, on every use. The
    handles hold no session state, so they outlive a stopped
    ``SparkContext`` as the gateway does, and any thread may share them.
    This is the one place the package walks a JVM package path."""
    handles = _HANDLES.setdefault(view._gateway_client, {})
    h = handles.get(path)
    if h is None:
        h = handles[path] = functools.reduce(getattr, path.split("."), view)
    return h


#: guards the ``RDD.toDF`` swap in ``clone_session`` (sessions may be
#: cloned on several threads at once)
_LOCK = threading.Lock()


def clone_session(spark: SparkSession) -> SparkSession:
    """A new session with a copy of ``spark``'s SQL conf and temp views
    (``cloneSession``; ``newSession`` would drop the runtime confs).
    Conf writes and view shadows in the clone never reach ``spark``.
    PySpark's constructor re-points ``RDD.toDF`` at the newest session;
    it is put back so the clone stays private."""
    from pyspark import RDD

    with _LOCK:
        to_df = RDD.toDF
        clone = SparkSession(spark.sparkContext,
                             spark._jsparkSession.cloneSession())
        RDD.toDF = to_df
    return clone


def bind(df: DataFrame, s: SparkSession) -> DataFrame:
    """``df``'s analyzed plan as a fresh DataFrame of session ``s``:
    planning and jobs on it run under ``s``'s conf, and planning it
    leaves ``df``'s own plan unfixed. Not ``s.table(name)``: replacing
    a temp view uncaches every cached plan that reads it by name, so
    shadowing ``name`` would drop the transfer's persisted builds."""
    jds = jvm_handle(s._jvm, "org.apache.spark.sql.classic.Dataset.ofRows")(
        s._jsparkSession, df._jdf.queryExecution().analyzed())
    return DataFrame(jds, s)


#: How long ``observed`` waits for an observation's metrics. Delivery
#: trails the observed action by milliseconds; the bound only stops a
#: lost delivery from blocking the caller forever.
OBSERVE_WAIT_S = 10.0


def observed(obs, timeout_s: float = OBSERVE_WAIT_S) -> "dict | None":
    """The metrics of ``obs`` (a ``pyspark.sql.Observation``) as a
    dict, or None when it was never attached to a DataFrame or no
    action delivered its metrics within ``timeout_s``.
    ``Observation.get`` waits without a bound, and Spark posts the
    metrics through the listener bus after the observed action has
    already returned, so a caller that needs them must wait, but never
    forever. Callers fall back to computing the value with a job."""
    from py4j.protocol import Py4JJavaError

    jo, jvm = getattr(obs, "_jo", None), getattr(obs, "_jvm", None)
    if jo is None or jvm is None:
        return None
    wait = jvm_handle(jvm, "scala.concurrent.duration.Duration.create")(
        max(1, int(timeout_s * 1000)), "ms")
    try:
        jvm_handle(jvm, "scala.concurrent.Await.ready")(jo.future(), wait)
        return obs.get
    except Py4JJavaError:  # timed out, or the observed action failed
        return None
