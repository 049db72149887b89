"""Contract tests for the r11 optimizations.

1. Bucketed-state-key streaming operators (streaming/ops.py
   ``n_buckets``): coarsening the applyInPandasWithState key from
   ``user_id`` to ``pmod(xxhash64(user_id), n)`` with per-user
   sub-state must emit EXACTLY the per-user operator's rows — the
   optimization removes per-group fixed cost, never changes output.
2. Double pointer-jump connected components (operators/cluster.py):
   two label-chain contractions per checkpointed round must reach the
   same fixpoint labels, in no more driver rounds than before.
"""

import os
from datetime import timedelta

import pyspark.sql.functions as F


def _event_drop_zone(spark, sf_dir, tmp_path, tag):
    """Three time-ordered micro-batch files + far-future sentinel —
    the same shape as the pipeline's stream fixtures."""
    from duckdb_robust_predicate_transfer_spark.catalog import get_catalog

    raw = get_catalog(spark, sf_dir).table("events")
    qs = (raw.select(F.unix_micros("ts").alias("us"))
          .approxQuantile("us", [0.33, 0.66], 0.01))
    us = F.unix_micros("ts")
    parts = [raw.filter(us <= qs[0]),
             raw.filter((us > qs[0]) & (us <= qs[1])),
             raw.filter(us > qs[1])]
    far_future = (raw.agg(F.max("ts")).collect()[0][0]
                  + timedelta(days=11))
    sentinel = spark.createDataFrame(
        [(-1, far_future, -1, "view", 0.0, "{}")], raw.schema)
    sdir = str(tmp_path / f"zone_{tag}")
    os.makedirs(sdir, exist_ok=True)
    for i, p in enumerate(parts + [sentinel]):
        tmp = str(tmp_path / f"tmp_{tag}_b{i}")
        p.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = os.path.join(sdir, f"b{i}.parquet")
        os.rename(os.path.join(tmp, part), dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))
    return sdir


def test_bucketed_sessionize_equals_per_user(spark, sf_dir, tmp_path):
    from duckdb_robust_predicate_transfer_spark.streaming.ops import (
        read_event_stream, run_to_memory, sessionize_stream)

    sdir = _event_drop_zone(spark, sf_dir, tmp_path, "sess")
    cols = ["user_id", "session_start", "session_end", "n_events"]

    per_user = run_to_memory(
        sessionize_stream(read_event_stream(spark, sdir, glob="*.parquet")),
        "r11_sess_per_user")
    expect = sorted(tuple(r) for r in per_user.select(*cols).collect())
    assert expect, "fixture produced no sessions"

    for nb in (1, 7, 64):
        got = run_to_memory(
            sessionize_stream(
                read_event_stream(spark, sdir, glob="*.parquet"),
                n_buckets=nb),
            f"r11_sess_bucketed_{nb}")
        rows = sorted(tuple(r) for r in got.select(*cols).collect())
        assert rows == expect, f"n_buckets={nb} diverged"


def test_bucketed_asof_equals_per_user(spark, sf_dir, tmp_path):
    from duckdb_robust_predicate_transfer_spark.streaming.ops import (
        asof_stream, read_event_stream, run_to_memory)

    sdir = _event_drop_zone(spark, sf_dir, tmp_path, "asof")
    cols = ["event_id", "user_id", "ts", "purchase_ts", "purchase_value"]

    per_user = run_to_memory(
        asof_stream(read_event_stream(spark, sdir, glob="*.parquet")),
        "r11_asof_per_user")
    expect = sorted((tuple(r) for r in per_user.select(*cols).collect()),
                    key=str)
    assert expect, "fixture produced no asof matches"

    for nb in (1, 7, 64):
        got = run_to_memory(
            asof_stream(read_event_stream(spark, sdir, glob="*.parquet"),
                        n_buckets=nb),
            f"r11_asof_bucketed_{nb}")
        rows = sorted((tuple(r) for r in got.select(*cols).collect()),
                      key=str)
        assert rows == expect, f"n_buckets={nb} diverged"


def test_cc_double_jump_same_fixpoint_fewer_rounds(spark, conf_set):
    from duckdb_robust_predicate_transfer_spark.operators.cluster import (
        connected_components)

    # 64-node chain: worst-case diameter for its size. One propagation
    # step + two in-round contractions must contract it within 4 label-
    # changing rounds (the single-contraction variant needed 6). Run on
    # the Spark loop (broadcasts off), not the local finish.
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long")
    # star + triangle + singleton-pair mix: correctness of min labels
    mix = spark.createDataFrame(
        [(100, i) for i in (101, 102, 103)]
        + [(200, 201), (201, 202), (202, 200), (300, 301)],
        "id_a long, id_b long")
    with conf_set("spark.sql.autoBroadcastJoinThreshold", "-1"):
        capped = sorted(map(tuple, connected_components(
            pairs, max_iters=4).collect()))
        got = dict(connected_components(mix).collect())
    assert capped == [(i, 0) for i in range(64)]
    assert {n: got[n] for n in (100, 101, 102, 103)} == {
        n: 100 for n in (100, 101, 102, 103)}
    assert {got[200], got[201], got[202]} == {200}
    assert got[300] == 300 and got[301] == 300


def test_footer_ts_range_matches_agg(spark, sf_dir):
    """3. Footer-stat stream prep (workload/pipeline._footer_ts_us):
    the metadata-only (min, max) of events.ts must equal the values the
    replaced scan-and-aggregate job produced, so the ts-range cuts and
    the far-future sentinel are byte-identical to the agg-job path."""
    from duckdb_robust_predicate_transfer_spark.catalog import get_catalog
    from duckdb_robust_predicate_transfer_spark.workload.pipeline import (
        _EPOCH, _footer_ts_us)

    cat = get_catalog(spark, sf_dir)
    rng = _footer_ts_us(cat.path("events"))
    assert rng is not None, "fixture footers should carry ts statistics"
    lo, hi, mx = cat.table("events").agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts")),
        F.max("ts")).collect()[0]
    assert rng == (lo, hi)
    # the same instant (the collected max is a driver-local naive
    # datetime, _EPOCH is UTC-aware; .timestamp() reads either zone)
    assert (_EPOCH + timedelta(microseconds=rng[1])).timestamp() \
        == mx.timestamp()


def test_stream_sentinel_independent_of_driver_tz(spark, sf_dir,
                                                  monkeypatch, tmp_path):
    """ADVICE r11: on a non-UTC driver the footer path and the agg-job
    path of BOTH stream preps must plant the far-future sentinel at the
    same instant (max ts + 11 days). PySpark converts naive datetimes
    through the driver's local zone, so a naive UTC footer value used
    to land hours off the agg path's collected value."""
    import time

    from duckdb_robust_predicate_transfer_spark.catalog import get_catalog
    from duckdb_robust_predicate_transfer_spark.workload import pipeline

    class _Stop(Exception):
        pass

    planted = []
    real_one_row_df = pipeline._one_row_df

    def capture(spark_, schema, values):
        df = real_one_row_df(spark_, schema, values)
        planted.append(df.select(F.unix_micros("ts")).first()[0])
        raise _Stop  # the sentinel is all this test needs

    monkeypatch.setattr(pipeline, "_one_row_df", capture)
    monkeypatch.setattr(pipeline, "_scratch_base", lambda: str(tmp_path))
    hi = get_catalog(spark, sf_dir).table("events").agg(
        F.max(F.unix_micros("ts"))).first()[0]
    want = hi + 11 * 86_400 * 1_000_000
    footer = pipeline._footer_ts_us
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        for path, ts_us in (("footer", footer), ("agg", lambda p: None)):
            monkeypatch.setattr(pipeline, "_footer_ts_us", ts_us)
            for prep in (pipeline.q_stream_sessionize,
                         pipeline.q_stream_asof):
                planted.clear()
                try:
                    prep(spark, sf_dir)
                except _Stop:
                    pass
                assert planted == [want], (path, prep.__name__)
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def test_footer_ts_range_none_without_stats(tmp_path):
    """Statistics-free parquet must fall back (return None), keeping
    the original agg-job path alive."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from duckdb_robust_predicate_transfer_spark.workload.pipeline import (
        _footer_ts_us)

    t = pa.table({"ts": pa.array([1, 2, 3], type=pa.timestamp("us"))})
    p = str(tmp_path / "nostats.parquet")
    pq.write_table(t, p, write_statistics=False)
    assert _footer_ts_us(p) is None


def test_footer_ts_range_plain_int64_falls_back(tmp_path):
    """An integer ts statistic is read as nanoseconds only under a
    TIMESTAMP(NANOS) footer: a plain INT64 column (here holding micros)
    must fall back to the agg job instead of coming back 1000x small."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from duckdb_robust_predicate_transfer_spark.workload.pipeline import (
        _footer_ts_us)

    us = [1_700_000_000_000_000, 1_700_000_060_000_000]
    p = str(tmp_path / "int64.parquet")
    pq.write_table(pa.table({"ts": pa.array(us, type=pa.int64())}), p)
    assert _footer_ts_us(p) is None
    # the declared-unit flavors still read from the footer
    for unit, scale in (("ns", 1000), ("us", 1)):
        q = str(tmp_path / f"{unit}.parquet")
        pq.write_table(pa.table({"ts": pa.array(
            [u * scale for u in us], type=pa.timestamp(unit))}), q)
        assert _footer_ts_us(q) == (us[0], us[1]), unit


def test_observation_delivered_on_parquet_write(spark, tmp_path):
    """The stream preps (workload/pipeline.q_stream_sessionize and
    q_stream_asof) read their user count from an ``observe()`` riding a
    parquet write, and connected_components (operators/cluster.py) its
    edge count from one riding ``localCheckpoint(eager=True)``. Pin
    that Spark delivers observed metrics for both actions: ``obs.get``
    must return the row count (read on a side thread, so a missing
    delivery fails here instead of blocking the suite)."""
    import threading

    from pyspark.sql import Observation

    actions = {
        "parquet write": lambda df: df.write.mode("overwrite").parquet(
            str(tmp_path / "obs")),
        "localCheckpoint": lambda df: df.localCheckpoint(eager=True),
    }
    for name, action in actions.items():
        obs = Observation()
        action(spark.range(1234).observe(obs, F.count(F.lit(1)).alias("n")))
        got: list = []
        t = threading.Thread(target=lambda: got.append(obs.get),
                             daemon=True)
        t.start()
        t.join(60)
        assert got, f"observed metrics were not delivered by the {name}"
        assert got[0]["n"] == 1234, name


def test_observed_returns_none_within_bound(spark):
    """session.observed never blocks past its bound: an observation no
    action delivered (and one never attached) reads None, a delivered
    one reads its row."""
    import time

    from pyspark.sql import Observation

    from duckdb_robust_predicate_transfer_spark.session import observed

    pending = Observation()
    spark.range(3).observe(pending, F.count(F.lit(1)).alias("n"))
    t0 = time.perf_counter()
    assert observed(pending, timeout_s=0.5) is None
    assert time.perf_counter() - t0 < 10
    assert observed(Observation()) is None

    done = Observation()
    spark.range(7).observe(done, F.count(F.lit(1)).alias("n")).collect()
    assert observed(done) == {"n": 7}


def test_cc_pairs_canonical_same_labels(spark, conf_set):
    """4. pairs_canonical skips the edge-dedup exchange; labels must be
    identical to the default path on canonical (distinct, a<b) input.
    Run on the Spark loop (broadcasts off), not the local finish."""
    from duckdb_robust_predicate_transfer_spark.operators.cluster import (
        connected_components)

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (10, 11), (10, 12)],
        "id_a long, id_b long")
    with conf_set("spark.sql.autoBroadcastJoinThreshold", "-1"):
        base = sorted(map(tuple, connected_components(pairs).collect()))
        fast = sorted(map(tuple, connected_components(
            pairs, pairs_canonical=True).collect()))
    assert fast == base == [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5),
                            (10, 10), (11, 10), (12, 10)]
