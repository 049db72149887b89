"""Catalog registration: tables open from their footers without a Spark
job, exactly as ``spark.read.parquet`` would open them, ``register_views``
registers them concurrently exactly as one at a time, and it only
re-registers a view the caller has changed.
"""

import glob
import os
import re
import sys
import threading

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.types import TimestampType

from duckdb_robust_predicate_transfer_spark.catalog import (
    Catalog, open_parquet)
from duckdb_robust_predicate_transfer_spark.config import RPTConfig
from duckdb_robust_predicate_transfer_spark.engine import Engine
from duckdb_robust_predicate_transfer_spark.session import clone_session

FLAGSHIP_SQL = """
    SELECT n_name, COUNT(*) AS cnt
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY n_name
"""

#: zeroed gates => the rewrite engages at sf0.001 scale
FORCE = RPTConfig(min_probe_rows=0, require_selective_build=False,
                  persist_min_rows=0,
                  all_broadcast_bail_rows=0,
                  backward_broadcast_only=False, max_build_keep_frac=1.0,
                  host_broadcast_rows=0)


def _plan(df):
    """Executed plan text with expression ids blanked out."""
    return re.sub(r"#\d+L?", "#",
                  df._jdf.queryExecution().executedPlan().toString())


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _assert_same_read(spark, path, rows=False):
    ours, theirs = open_parquet(spark, path), spark.read.parquet(path)
    assert ours.schema == theirs.schema  # nullability and metadata too
    assert _plan(ours) == _plan(theirs)
    if rows:
        assert _rows(ours) == _rows(theirs)


def _jobs(spark):
    """Jobs the status store has seen, once the listener bus drained."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return sc.statusStore().jobsList(None).size()


def _analyzed(df):
    """Analyzed plan text with expression ids blanked out."""
    return re.sub(r"#\d+L?", "#",
                  df._jdf.queryExecution().analyzed().toString())


def _write_events(path, unit):
    base_us = 1_700_000_000_000_000
    mult = {"us": 1, "ns": 1000}[unit]
    pq.write_table(pa.table({
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "ts": pa.array([(base_us + i * 60_000_000) * mult for i in range(3)],
                       pa.timestamp(unit)),
    }), path)
    return [base_us + i * 60_000_000 for i in range(3)]


def test_fixture_tables_match_spark_read(spark, sf_dir):
    paths = sorted(glob.glob(os.path.join(sf_dir, "*.parquet")))
    assert paths
    for p in paths:
        _assert_same_read(spark, p)


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_events_flavors_match_spark_read(spark, tmp_path, conf_set, unit):
    path = str(tmp_path / "events.parquet")
    _write_events(path, unit)
    # the conf Catalog._read_events sets for a nanos footer
    with conf_set("spark.sql.legacy.parquet.nanosAsLong",
                  "true" if unit == "ns" else "false"):
        _assert_same_read(spark, path, rows=True)


def test_spark_written_directory_matches_spark_read(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    (spark.range(0, 300, 1, 3)
     .selectExpr("id", "CAST(id AS STRING) AS s", "id * 1.5 AS x")
     .write.parquet(path))
    assert len(glob.glob(os.path.join(path, "*.parquet"))) == 3
    _assert_same_read(spark, path, rows=True)


def test_duckdb_row_groups_match_spark_read(spark, tmp_path):
    path = str(tmp_path / "d.parquet")
    duckdb.sql(f"""
        COPY (SELECT i AS id, 'k' || i AS name, i * 0.5 AS x,
                     DATE '2020-01-01' + CAST(i AS INTEGER) AS d,
                     CAST(i AS DECIMAL(12, 2)) AS m,
                     [CAST(i AS FLOAT), 1.5] AS v
              FROM range(5000) t(i))
        TO '{path}' (FORMAT PARQUET, ROW_GROUP_SIZE 1000)""")
    assert pq.ParquetFile(path).metadata.num_row_groups > 1
    _assert_same_read(spark, path, rows=True)


def test_register_views_runs_no_job(spark, sf_dir):
    before = _jobs(spark)
    Catalog(spark, sf_dir).register_views()
    assert _jobs(spark) == before


def test_concurrent_registration_matches_sequential(spark, sf_dir):
    names = sorted(n for n in Catalog(spark, sf_dir).known_tables()
                   if os.path.exists(os.path.join(sf_dir, f"{n}.parquet")))
    assert "events" in names and len(names) > 2
    ours, theirs = clone_session(spark), clone_session(spark)
    threads = threading.active_count()
    Catalog(ours, sf_dir).register_views()
    assert threading.active_count() == threads
    ref = Catalog(theirs, sf_dir)
    for n in names:
        ref.table(n).createOrReplaceTempView(n)
    for n in names:
        a, b = ours.table(n), theirs.table(n)
        assert a.schema == b.schema, n
        assert _analyzed(a) == _analyzed(b), n


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_events_flavors_register_concurrently(spark, tmp_path, unit):
    micros = _write_events(str(tmp_path / "events.parquet"), unit)
    cat = Catalog(clone_session(spark), str(tmp_path))  # conf stays private
    for name in ("region", "nation"):  # so the pool runs several tables
        pq.write_table(pa.table({"k": [1, 2]}), cat.path(name))
    cat.register_views()
    s = cat.spark
    ev = s.table("events")
    assert isinstance(ev.schema["ts"].dataType, TimestampType)
    assert sorted(r[0] for r in ev.selectExpr("unix_micros(ts)").collect()) \
        == micros
    assert s.table("nation").count() == 2


def test_concurrent_registration_keeps_every_table_apart(spark, tmp_path):
    """Many tables under a short switch interval: each view is its own
    table, and the catalog keeps every frame and stored view."""
    names = [f"t{i:02d}" for i in range(12)]
    cat = Catalog(clone_session(spark), str(tmp_path))
    for n in names:
        pq.write_table(pa.table({n: [len(n)]}), cat.path(n))
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        cat.register_views(names)
    finally:
        sys.setswitchinterval(interval)
    assert sorted(cat._dfs) == sorted(cat._views) == names
    for n in names:
        assert cat.spark.table(n).columns == [n]


def test_missing_and_empty_tables_raise(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        cat.table("nosuch")
    # a directory whose members are not *.parquet never opens empty
    os.makedirs(cat.path("empty"))
    open(os.path.join(cat.path("empty"), "_SUCCESS"), "w").close()
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        cat.table("empty")
    # and from the concurrent pass, beside a table that opens
    pq.write_table(pa.table({"k": [1]}), cat.path("region"))
    threads = threading.active_count()
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        Catalog(clone_session(spark), str(tmp_path)).register_views()
    assert threading.active_count() == threads


@pytest.fixture
def caller_registrations(spark, sf_dir, monkeypatch):
    """Names passed to ``createOrReplaceTempView`` on frames of the
    caller's session (the rewrite's shadows live in clone sessions)."""
    eng = Engine(spark, sf_dir)
    cls = type(eng.catalog.table("orders"))
    plain = cls.createOrReplaceTempView
    calls = []

    def counted(df, name):
        if df.sparkSession is spark:
            calls.append(name)
        return plain(df, name)

    monkeypatch.setattr(cls, "createOrReplaceTempView", counted)
    return eng, calls


def test_unchanged_views_are_not_registered_again(caller_registrations):
    eng, calls = caller_registrations
    first = _rows(eng.sql(FLAGSHIP_SQL, config=FORCE))
    calls.clear()
    assert _rows(eng.sql(FLAGSHIP_SQL, config=FORCE)) == first
    assert calls == []


def test_replaced_view_is_registered_again(caller_registrations, spark):
    eng, calls = caller_registrations
    eng.sql(FLAGSHIP_SQL, config=FORCE)
    eng.catalog.table("orders").filter("o_orderkey < 0") \
        .createOrReplaceTempView("orders")
    calls.clear()
    got = _rows(eng.sql(FLAGSHIP_SQL, config=FORCE))
    assert calls == ["orders"]
    assert eng.last_sql_rewritten
    assert got and got == _rows(eng.sql(FLAGSHIP_SQL, auto_rpt=False))
    assert spark.table("orders").count() == eng.catalog.row_count("orders")
