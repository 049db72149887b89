"""Lock the native-runtime-filter benchmark-leg mechanics.

Round-4 finding: Spark's InjectRuntimeFilter gates on the application
side's scan exceeding ``applicationSideScanSizeThreshold`` (default
10GB), so at local fixture sizes a "native runtime filter" benchmark
leg that only flips ``runtime.bloomFilter.enabled`` times the plain
baseline plan — zero ``might_contain`` anywhere. These tests pin:

1. the detection needle (``count_native_blooms``) actually sees an
   injected bloom when the gates allow one (guards against the probe
   expression being renamed across Spark versions, which would make
   every recorded injection count silently read 0);
2. at default thresholds nothing injects at our fixture sizes (the
   original bug: if this ever starts injecting, the lowered-threshold
   emulation in set_native_rf should be revisited);
3. ``set_native_rf`` round-trips the session confs (benchmark legs must
   not leak lowered gates into later legs);
4. the engine's one native-bloom rule (config.suppress_native_rf):
   the statement runs with the caller's injection setting and only its
   eager transfer jobs run with injection off, while an op whose edge a
   native bloom of the original plan covers drops at gate "native" —
   covered edges ride native, the rest ride the transfer, and a
   statement whose every op drops is a plain bail. The value lands on
   the DataFrame the engine returns (bound to the statement's cloned
   session) and never on the caller's session.
"""

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from duckdb_robust_predicate_transfer_spark.workload.common import (
    count_native_blooms, set_native_rf)

SF = "/root/testdata/sf0.01"

_ENABLED = "spark.sql.optimizer.runtime.bloomFilter.enabled"
_APP = ("spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold")
_CREATE = "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"


@contextmanager
def _injection_live(spark):
    """Broadcast joins off and Spark's bloom injection on with its size
    gates lowered, so InjectRuntimeFilter fires at sf0.001/sf0.01; the
    caller's values come back afterwards."""
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(_ENABLED, "true")
    spark.conf.set(_APP, "1")
    spark.conf.set(_CREATE, "8GB")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.conf.set(_ENABLED, "false")
        spark.conf.unset(_APP)
        spark.conf.unset(_CREATE)


#: both chain edges filtered: the original plan's native blooms cover
#: customer->orders and orders->lineitem, so every op drops at gate
#: "native" and the statement bails to the host (the cession)
COVERED_SQL = """
    SELECT COUNT(*) AS n
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE o_orderstatus = 'F' AND c_mktsegment = 'BUILDING'
"""

#: a three-table chain whose customer filter native blooms can carry to
#: orders, while orders itself is unfiltered: no native bloom can exist
#: on the orders->lineitem edge, yet the transfer's reduced-orders op
#: applies there — reach native lacks, so the covered customer->orders
#: op stays with the transfer too and the statement engages
REACH_SQL = """
    SELECT COUNT(*) AS n
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
"""


def _shuffle_join(spark):
    """lineitem |><| filtered orders, forced to shuffle (broadcast off):
    the shape InjectRuntimeFilter targets."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    od = spark.read.parquet(f"{SF}/orders.parquet")
    return (li.join(od.filter(F.col("o_orderpriority") == "1-URGENT"),
                    li.l_orderkey == od.o_orderkey)
            .groupBy("l_returnflag").count())


def test_bloom_injects_when_gates_open(spark):
    with _injection_live(spark):
        assert count_native_blooms(_shuffle_join(spark)) >= 1


def test_no_bloom_at_default_thresholds(spark):
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(_ENABLED, "true")
    try:
        # the 10GB default application-side gate swallows every local
        # fixture: enabling the flag alone injects nothing
        assert count_native_blooms(_shuffle_join(spark)) == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.conf.set(_ENABLED, "false")


def test_set_native_rf_roundtrip(spark):
    default_app = spark.conf.get(_APP)
    set_native_rf(spark, True)
    assert spark.conf.get(_ENABLED) == "true"
    assert spark.conf.get(_APP) == "64MB"
    assert spark.conf.get(_CREATE) == "1GB"
    set_native_rf(spark, False)
    assert spark.conf.get(_ENABLED) == "false"
    assert spark.conf.get(_APP) == default_app


def test_composed_arbitration_dup_bail_runs_with_caller_setting(spark):
    """A query whose only lost transfer candidates died to the
    duplication gates (2d/2e) bails like any other: it runs with the
    caller's injection, on the first pass and on the bail-cache pass
    alike. A query that bails for any other reason does too. The value
    is read off each returned DataFrame's session; the caller's conf
    never changes."""
    from duckdb_robust_predicate_transfer_spark.config import RPTConfig
    from duckdb_robust_predicate_transfer_spark.engine import Engine

    sf = "/root/testdata/sf0.001"
    cfg = RPTConfig(all_broadcast_bail_rows=0, min_probe_rows=0,
                    host_broadcast_rows=1_000_000)
    dup_sql = """
        SELECT COUNT(*) AS n
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE o_orderstatus = 'F' AND s_nationkey = 1
    """
    one_edge_sql = """
        SELECT COUNT(*) AS n
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'F'
    """
    spark.conf.set(_ENABLED, "true")
    try:
        for attempt in ("first", "bail-cache"):  # cached path must match
            e = Engine(spark, sf, cfg)
            df = e.sql(dup_sql)
            assert not e.last_sql_rewritten
            assert df.sparkSession.conf.get(_ENABLED) == "true", attempt
            assert spark.conf.get(_ENABLED) == "true", attempt
            assert e.last_result is None or (
                not e.last_result.applied
                and e.last_result.drops.get("dup", 0) > 0)
            # a non-dup bail runs with the caller's value
            e2 = Engine(spark, sf, cfg)
            df2 = e2.sql(one_edge_sql)
            assert df2.sparkSession.conf.get(_ENABLED) == "true", attempt
            assert spark.conf.get(_ENABLED) == "true", attempt
    finally:
        spark.conf.set(_ENABLED, "false")


def test_leg_assertion_clears_stale_suppression_stash(spark):
    """Benchmark-leg integrity (r8): an ENGAGED query under composed
    mode must not leave anything behind that a later leg inherits. When
    a later leg asserts injection OFF via set_native_rf, that leg owns
    the conf — the first un-engaged query afterwards must run with
    injection off (r8 found un-engaged rpt legs timed with native
    injection live whenever an earlier composed leg had engaged). The
    engine never writes the caller's conf at all."""
    from duckdb_robust_predicate_transfer_spark.config import RPTConfig
    from duckdb_robust_predicate_transfer_spark.engine import Engine

    sf = "/root/testdata/sf0.001"
    # force engagement: no duplication gates, everything transferable
    cfg = RPTConfig(min_probe_rows=0, all_broadcast_bail_rows=0,
                    skip_no_exchange_probe=False,
                    skip_host_prefiltered_semi=False)
    star_sql = """
        SELECT COUNT(*) AS n
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE o_orderstatus = 'F'
    """
    bail_sql = """
        SELECT COUNT(*) AS n
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    """
    # composed leg: injection on; the engaged query runs with it
    set_native_rf(spark, True)
    try:
        e = Engine(spark, sf, cfg)
        star_df = e.sql(star_sql)
        assert e.last_sql_rewritten, "engagement premise broken"
        assert star_df.sparkSession.conf.get(_ENABLED) == "true"
        assert spark.conf.get(_ENABLED) == "true", "caller conf changed"
        # rpt leg: the harness asserts injection OFF (owns the conf)
        set_native_rf(spark, False)
        # un-engaged query inside the rpt leg: must run with it off
        e2 = Engine(spark, sf, cfg)
        bail_df = e2.sql(bail_sql)
        assert not e2.last_sql_rewritten
        assert spark.conf.get(_ENABLED) == "false", "caller conf changed"
        assert bail_df.sparkSession.conf.get(_ENABLED) == "false", \
            "un-engaged query runs with injection on in an off leg"
        bail_df.collect()
        assert count_native_blooms(bail_df) == 0
    finally:
        set_native_rf(spark, False)

def test_native_bloom_edges_extraction(spark):
    """Pin native_bloom_edges against Spark renames: an injected bloom
    on the lineitem |><| filtered-orders shuffle join must come back as
    the (orders -> lineitem, l_orderkey) edge with both sides resolved
    structurally from the scan rootPaths."""
    from duckdb_robust_predicate_transfer_spark.plans.catalyst_order import (
        native_bloom_edges)

    with _injection_live(spark):
        edges = native_bloom_edges(
            _shuffle_join(spark),
            {"lineitem": f"{SF}/lineitem.parquet",
             "orders": f"{SF}/orders.parquet"})
        assert edges, "no bloom extracted where one must inject"
        assert {"probe_table": "lineitem", "probe_col": "l_orderkey",
                "build_table": "orders", "build_col": "o_orderkey"
                } in edges


def test_native_detectors_skip_sketch_probes(spark):
    """The sketch tier probes with might_contain over a prebuilt filter
    (operators/bloom.py); that is not a Spark-planted bloom.
    count_native_blooms must not count it, and native_bloom_edges must
    give it no resolved build (an unresolved build counts as covered),
    so composed runs never mistake a sketch op for a native bloom."""
    from duckdb_robust_predicate_transfer_spark.operators.bloom import (
        build_bloom, probe_bloom)
    from duckdb_robust_predicate_transfer_spark.plans.catalyst_order import (
        native_bloom_edges)

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    od = spark.read.parquet(f"{SF}/orders.parquet").filter(
        F.col("o_orderpriority") == "1-URGENT")
    probed = probe_bloom(li, ["l_orderkey"],
                         build_bloom(od, ["o_orderkey"], est_rows=5000))
    assert count_native_blooms(probed) == 0
    edges = native_bloom_edges(
        probed, {"lineitem": f"{SF}/lineitem.parquet",
                 "orders": f"{SF}/orders.parquet"})
    assert edges is not None
    assert all(e["build_table"] is None for e in edges)


def _native_drops_keep_blooms(e, df):
    """Every op of ``e``'s last statement that dropped at gate "native"
    has its bloom in the plan ``df`` runs: no edge loses both filters.
    Returns the number of such ops."""
    drops = [d.op for d in e.last_result.decisions if d.gate == "native"]
    final = e.native_edges(df)
    for op in drops:
        for c in op.probe_cols:
            assert (op.probe, c.lower(), op.build) in final, (op, final)
    return len(drops)


def test_engaged_statement_runs_without_native_blooms(spark):
    """The one rule's engaged half: with the caller's injection live, an
    engaged statement runs with the caller's value (only its eager jobs
    ran with injection off). Per edge: part->lineitem is covered by a
    native bloom of the original plan and drops at gate "native", while
    customer->orders and orders->lineitem stay with the transfer —
    orders is unfiltered, so no bloom covers its edge, and
    customer->orders feeds it. The dropped edge keeps its native bloom
    in the plan the statement runs, through execution."""
    from duckdb_robust_predicate_transfer_spark.config import RPTConfig
    from duckdb_robust_predicate_transfer_spark.engine import Engine

    sf = "/root/testdata/sf0.001"
    mixed_sql = """
        SELECT COUNT(*) AS n
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN part ON l_partkey = p_partkey
        WHERE c_mktsegment = 'BUILDING' AND p_size < 10
    """
    cfg = RPTConfig(all_broadcast_bail_rows=0, skip_no_exchange_probe=False,
                    skip_host_prefiltered_semi=False,
                    require_selective_build=False, min_probe_rows=0)
    with _injection_live(spark):
        e = Engine(spark, sf, cfg)
        df = e.sql(mixed_sql)
        assert e.last_sql_rewritten and not e.last_cede
        ops = {(o.build, o.probe) for o in e.last_result.applied}
        assert ops == {("customer", "orders"), ("orders", "lineitem")}, ops
        assert df.sparkSession.conf.get(_ENABLED) == "true"
        assert spark.conf.get(_ENABLED) == "true", "caller conf changed"
        rows = df.collect()
        assert _native_drops_keep_blooms(e, df) == 1
    off = Engine(spark, sf, RPTConfig(enabled=False)).sql(mixed_sql)
    assert rows == off.collect()


def test_cession_arbitration(spark):
    """The cession is the all-covered case of gate "native": when the
    original plan's native blooms cover every op edge, every op drops
    before any eager job and the statement bails to the host, which
    runs it with the caller's injection — native — on the first pass
    and on the bail-cache pass. A statement with reach beyond the
    blooms engages, and runs with the caller's injection as well. Read
    off the returned DataFrame's session."""
    from duckdb_robust_predicate_transfer_spark.config import RPTConfig
    from duckdb_robust_predicate_transfer_spark.engine import Engine

    sf = "/root/testdata/sf0.001"
    cfg = RPTConfig(min_probe_rows=0, all_broadcast_bail_rows=0,
                    skip_no_exchange_probe=False,
                    skip_host_prefiltered_semi=False)
    with _injection_live(spark):
        for attempt in ("first", "cached"):
            e = Engine(spark, sf, cfg)
            df = e.sql(COVERED_SQL)
            assert e.last_cede, attempt
            assert not e.last_sql_rewritten, attempt
            assert df.sparkSession.conf.get(_ENABLED) == "true", \
                f"cession must ride native ({attempt})"
            assert spark.conf.get(_ENABLED) == "true", "caller conf changed"
            if attempt == "first":
                assert e.last_result.drops.get("native") == 2, \
                    e.last_result.decisions
                assert _native_drops_keep_blooms(e, df) == 2

        # uncovered reach -> engaged, caller's injection
        e2 = Engine(spark, sf, cfg)
        df2 = e2.sql(REACH_SQL)
        assert not e2.last_cede, "reach beyond blooms must engage"
        assert e2.last_sql_rewritten
        ops = {(o.build, o.probe) for o in e2.last_result.applied}
        assert {("customer", "orders"), ("orders", "lineitem")} <= ops, ops
        assert df2.sparkSession.conf.get(_ENABLED) == "true"


def test_host_pairs_do_not_depend_on_injection(spark):
    """The one planning pass reads gate 2e's host-prefiltered pairs off
    the original statement as planned with the caller's injection. That
    is sound only if injected blooms move no join and no exchange:
    scan_prefilter_pairs must give the same pairs with injection on and
    off, on plans where the blooms are really there. The gate-2e shape
    runs with a broadcast threshold that lets the filtered supplier
    broadcast into the lineitem scan while customer shuffles and gets a
    bloom."""
    from duckdb_robust_predicate_transfer_spark.engine import Engine
    from duckdb_robust_predicate_transfer_spark.plans.catalyst_order import (
        scan_prefilter_pairs)

    e = Engine(spark, "/root/testdata/sf0.001")
    e.catalog.register_views()
    chain = {a: e.catalog.path(a) for a in ("lineitem", "orders",
                                             "customer")}
    host_pre_sql = """
        SELECT COUNT(*) AS n
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE s.s_nationkey = 1 AND c.c_mktsegment = 'BUILDING'
    """
    shapes = [(REACH_SQL, chain, "-1"), (COVERED_SQL, chain, "-1"),
              (host_pre_sql,
               {a: e.catalog.path(t) for a, t in (
                   ("l", "lineitem"), ("s", "supplier"), ("o", "orders"),
                   ("c", "customer"))}, "3000")]
    with _injection_live(spark):
        for sql, alias_paths, thresh in shapes:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
            spark.conf.set(_ENABLED, "true")
            on = spark.sql(sql)
            assert count_native_blooms(on) > 0, "premise: blooms planted"
            spark.conf.set(_ENABLED, "false")
            off = spark.sql(sql)
            pairs = scan_prefilter_pairs(on, alias_paths)
            assert pairs is not None
            assert pairs == scan_prefilter_pairs(off, alias_paths), sql
            if thresh != "-1":
                assert ("l", "s", frozenset({"l_suppkey"})) in pairs, pairs


def test_engaged_statement_plans_native_blooms_once(spark, sf_dir,
                                                    monkeypatch):
    """An engaged statement under live injection pays one planning pass
    over the original statement: both the gate-2e pairs and the native
    bloom edges are read from the one DataFrame the statement would run
    as a bail, and its rewritten plan is never read. The statement text
    is used by no other test, so the module memos miss."""
    from duckdb_robust_predicate_transfer_spark.config import RPTConfig
    from duckdb_robust_predicate_transfer_spark.engine import Engine
    from duckdb_robust_predicate_transfer_spark.plans import catalyst_order

    seen = {"statement_evidence": [], "scan_prefilter_pairs": [],
            "native_bloom_edges": []}
    for name, calls in seen.items():
        real = getattr(catalyst_order, name)
        monkeypatch.setattr(
            catalyst_order, name,
            lambda df, *a, _real=real, _calls=calls, **k:
            _calls.append(df) or _real(df, *a, **k))
    cfg = RPTConfig(min_probe_rows=0, all_broadcast_bail_rows=0,
                    skip_no_exchange_probe=False,
                    skip_host_prefiltered_semi=False)
    sql = REACH_SQL.replace("'BUILDING'", "'AUTOMOBILE'")
    with _injection_live(spark):
        e = Engine(spark, sf_dir, cfg)
        df = e.sql(sql)
        assert e.last_sql_rewritten and not e.last_cede
        assert df.sparkSession.conf.get(_ENABLED) == "true"
    (planned,) = seen["statement_evidence"]
    assert all(d is planned for d in seen["scan_prefilter_pairs"]
               + seen["native_bloom_edges"]), seen
    assert planned is not df


def test_interleaved_statements_keep_their_arbitration(spark, sf_dir):
    """Per-query scope: plan A (engaged, runs with the caller's
    injection on), then turn the caller's injection off and plan B (a
    bail, which runs with it off), then execute A. A must execute with
    the native blooms it carries when it runs alone: B's setting must
    not reach A's plan. After every statement the caller's views are as
    they were, and its conf is the one it set."""
    from duckdb_robust_predicate_transfer_spark.config import RPTConfig
    from duckdb_robust_predicate_transfer_spark.engine import Engine

    sf = sf_dir
    one_edge_sql = """
        SELECT COUNT(*) AS n
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'F'
    """
    cfg = RPTConfig(min_probe_rows=0, all_broadcast_bail_rows=0,
                    skip_no_exchange_probe=False,
                    skip_host_prefiltered_semi=False,
                    require_selective_build=False)
    orders_rows = spark.read.parquet(f"{sf}/orders.parquet").count()

    def caller_untouched(rf):
        assert spark.conf.get(_ENABLED) == rf, "caller conf changed"
        assert spark.table("orders").count() == orders_rows, \
            "caller's orders view left shadowed"

    with _injection_live(spark):
        alone = Engine(spark, sf, cfg).sql(REACH_SQL)
        want = alone.collect()
        blooms = count_native_blooms(alone)
        assert blooms > 0, "premise: A carries native blooms"

        ea = Engine(spark, sf, cfg)
        a_df = ea.sql(REACH_SQL)  # planned, not collected
        assert ea.last_sql_rewritten
        caller_untouched("true")
        spark.conf.set(_ENABLED, "false")
        eb = Engine(spark, sf, cfg)
        b_df = eb.sql(one_edge_sql)
        assert not eb.last_sql_rewritten
        assert b_df.sparkSession.conf.get(_ENABLED) == "false"
        caller_untouched("false")

        assert a_df.collect() == want
        assert count_native_blooms(a_df) == blooms, \
            "a later statement's setting reached A's plan"


def test_table_cols_skips_missing_tables(spark, tmp_path, monkeypatch):
    """Engine._table_cols reads only tables whose file exists: a fixture
    dir holding none of the standard catalog names must not pay one
    failing Spark read (and logged stack trace) per absent name."""
    from duckdb_robust_predicate_transfer_spark.catalog import (TABLES,
                                                               Catalog)
    from duckdb_robust_predicate_transfer_spark.engine import Engine

    spark.range(3).withColumnRenamed("id", "T_ID").write.parquet(
        str(tmp_path / "title.parquet"))
    e = Engine(spark, str(tmp_path))
    read = []
    table = Catalog.table
    monkeypatch.setattr(Catalog, "table",
                        lambda self, n: read.append(n) or table(self, n))
    assert e._table_cols() == {"title": {"t_id"}}
    assert read == ["title"]
    assert not set(read) & set(TABLES)
