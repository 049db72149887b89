"""Automatic join-graph extraction from Catalyst analyzed plans.

The reference rewrites arbitrary SQL through its optimizer hook with no
user-declared join graph (rpt_optimizer.cpp:25-139, :1702-1722). These
tests pin the PySpark analogue (plans/extract.py + Engine.sql):
extraction fidelity, the rewrite==no-rewrite invariant on SQL input,
and — just as important — the conservative bail-outs on constructs the
extractor cannot prove safe.
"""

import pytest

from duckdb_robust_predicate_transfer_spark.config import RPTConfig
from duckdb_robust_predicate_transfer_spark.engine import Engine, Rel
from duckdb_robust_predicate_transfer_spark.plans.extract import (
    extract_join_graph)

KNOWN = {"region", "nation", "customer", "supplier", "part",
         "orders", "lineitem", "events", "documents", "embeddings"}

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

#: zeroed gates => the cascade actually runs at sf0.001 scale
FORCE = RPTConfig(min_probe_rows=0, require_selective_build=False,
                  persist_min_rows=0,
                  all_broadcast_bail_rows=0,
                  backward_broadcast_only=False, max_build_keep_frac=1.0,
                  host_broadcast_rows=0)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def eng(spark, sf_dir):
    return Engine(spark, sf_dir)


def test_extract_flagship_graph(eng):
    df = eng.sql(FLAGSHIP_SQL, auto_rpt=False)
    ext = extract_join_graph(df, KNOWN)
    assert ext is not None
    assert {a: i.table for a, i in ext.instances.items()} == {
        t: t for t in ("lineitem", "orders", "customer", "nation", "region")}
    got = {(e.left, e.right, e.left_cols, e.right_cols, e.how)
           for e in ext.edges}
    assert got == {
        ("lineitem", "orders", ("l_orderkey",), ("o_orderkey",), "inner"),
        ("orders", "customer", ("o_custkey",), ("c_custkey",), "inner"),
        ("customer", "nation", ("c_nationkey",), ("n_nationkey",), "inner"),
        ("nation", "region", ("n_regionkey",), ("r_regionkey",), "inner"),
    }
    # WHERE conjuncts attach to their single owning instance
    assert ext.instances["region"].filters
    assert ext.instances["orders"].filters
    assert not ext.instances["lineitem"].filters


def test_extract_sql_alias_and_on_clause_filter(eng):
    df = eng.sql("""
        SELECT o.o_orderstatus, COUNT(*) AS cnt
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
                      AND o.o_orderstatus = 'F'
        GROUP BY o.o_orderstatus
    """, auto_rpt=False)
    ext = extract_join_graph(df, KNOWN)
    assert ext is not None
    assert ext.instances["l"].table == "lineitem"
    assert ext.instances["o"].table == "orders"
    # single-instance ON conjunct becomes a local filter on o
    assert any("o_orderstatus" in f for f in ext.instances["o"].filters)
    assert [(e.left_cols, e.right_cols) for e in ext.edges] == [
        (("l_orderkey",), ("o_orderkey",))]


def test_extract_comma_join_where_equality(eng):
    """Equality in WHERE over a cross join is harvested as an inner edge."""
    df = eng.sql("""
        SELECT COUNT(*) AS cnt
        FROM nation, region
        WHERE n_regionkey = r_regionkey AND r_name = 'ASIA'
    """, auto_rpt=False)
    ext = extract_join_graph(df, KNOWN)
    assert ext is not None
    assert [(e.left, e.right, e.how) for e in ext.edges] == [
        ("nation", "region", "inner")]


def test_extract_bails_on_subquery_expression(eng):
    df = eng.sql("""
        SELECT COUNT(*) AS cnt FROM orders
        JOIN customer ON o_custkey = c_custkey
        WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
    """, auto_rpt=False)
    assert extract_join_graph(df, KNOWN) is None


def test_extract_full_outer_is_protected(eng):
    df = eng.sql("""
        SELECT COUNT(*) AS cnt
        FROM nation FULL OUTER JOIN region ON n_regionkey = r_regionkey
    """, auto_rpt=False)
    # the only edge touches a protected instance -> nothing to extract
    assert extract_join_graph(df, KNOWN) is None


def test_extract_derived_subquery_blocks_edge(eng):
    """A projection-renaming subquery is not a base leaf: the deeper
    relation registers, but no edge crosses the rename boundary."""
    df = eng.sql("""
        SELECT COUNT(*) AS cnt
        FROM (SELECT o_orderkey + 0 AS k FROM orders) x
        JOIN lineitem ON x.k = l_orderkey
    """, auto_rpt=False)
    ext = extract_join_graph(df, KNOWN)
    assert ext is None or all(
        i.table != "orders" or not ext.edges for i in ext.instances.values())


def test_sql_auto_matches_plain_and_declared(eng, spark, sf_dir):
    plain = _rows(eng.sql(FLAGSHIP_SQL, auto_rpt=False))
    auto = _rows(eng.sql(FLAGSHIP_SQL, config=FORCE))
    assert eng.last_result is not None, "rewrite should have applied"
    assert auto == plain
    # and equals the hand-declared graph's result
    e2 = Engine(spark, sf_dir, FORCE)
    j = e2.reduce_and_join(
        {"l": "lineitem",
         "o": Rel("orders", "o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'"),
         "c": "customer", "n": "nation",
         "rg": Rel("region", "r_name = 'ASIA'")},
        [("l", "o", "l_orderkey", "o_orderkey"),
         ("o", "c", "o_custkey", "c_custkey"),
         ("c", "n", "c_nationkey", "n_nationkey"),
         ("n", "rg", "n_regionkey", "r_regionkey")])
    from pyspark.sql import functions as F
    declared = _rows(j.groupBy("n_name").agg(F.count(F.lit(1)).alias("cnt")))
    assert auto == declared


def test_sql_auto_semi_and_outer_differential(eng):
    for sql in [
        """SELECT c_name FROM customer LEFT SEMI JOIN orders
           ON c_custkey = o_custkey AND o_orderstatus = 'F'""",
        """SELECT n_name, o_orderkey FROM orders
           JOIN customer ON o_custkey = c_custkey
           LEFT JOIN nation ON c_nationkey = n_nationkey AND n_name = 'JAPAN'
           WHERE o_orderstatus = 'F'""",
    ]:
        assert _rows(eng.sql(sql, config=FORCE)) == \
            _rows(eng.sql(sql, auto_rpt=False))


def test_sql_auto_single_join_unchanged(eng):
    """<=1 edge: the reference bails unchanged (rpt_optimizer.cpp:
    1592-1595); the auto path must return the plain result."""
    sql = """SELECT COUNT(*) AS cnt FROM lineitem
             JOIN orders ON l_orderkey = o_orderkey"""
    eng.last_result = None
    out = eng.sql(sql, config=FORCE)
    assert eng.last_result is None
    assert _rows(out) == _rows(eng.sql(sql, auto_rpt=False))


def test_sql_auto_self_join_differential(eng):
    """Self-joined tables occur twice and must never be shadowed (each
    instance would need a different reduction); the result is identical
    either way."""
    sql = """
        SELECT a.n_name AS n1, b.n_name AS n2
        FROM nation a JOIN nation b
          ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
        JOIN region ON a.n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
    """
    assert _rows(eng.sql(sql, config=FORCE)) == \
        _rows(eng.sql(sql, auto_rpt=False))


def test_sql_auto_non_join_queries_pass_through(eng):
    for sql in ["SELECT COUNT(*) AS c FROM lineitem",
                "SELECT r_name FROM region ORDER BY r_name LIMIT 2"]:
        assert _rows(eng.sql(sql)) == _rows(eng.sql(sql, auto_rpt=False))


def test_sql_auto_subquery_predicate_composes(eng):
    """An IN-subquery conjunct no longer aborts extraction: the rest of
    the join graph still transfers (the reference lifts BF blocks above
    MARK joins, rpt_optimizer.cpp:1518-1549), the subquery conjunct is
    replayed verbatim, and its inner table is barred from shadowing."""
    sql = """
        SELECT o_orderpriority, COUNT(*) AS cnt
        FROM lineitem, orders, customer, nation
        WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
          AND c_nationkey = n_nationkey AND n_name = 'NATION_3'
          AND l_partkey IN (SELECT p_partkey FROM part WHERE p_size < 25)
        GROUP BY o_orderpriority
    """
    on = eng.sql(sql, config=FORCE)
    assert eng.last_sql_rewritten
    assert _rows(on) == _rows(eng.sql(sql, auto_rpt=False))


def test_sql_auto_subquery_table_never_shadowed(eng):
    """A table referenced BOTH in the outer query and inside a subquery
    is protected everywhere: the replay would otherwise substitute the
    reduced shadow into the subquery and change its result. With the
    only other edge gone, extraction correctly declines."""
    sql = """
        SELECT COUNT(*) AS cnt
        FROM lineitem, part
        WHERE l_partkey = p_partkey AND p_size < 10
          AND l_orderkey IN (SELECT l_orderkey FROM lineitem
                             WHERE l_quantity > 49)
    """
    on = eng.sql(sql, config=FORCE)
    assert not eng.last_sql_rewritten
    assert _rows(on) == _rows(eng.sql(sql, auto_rpt=False))


def test_sql_auto_cte_composes(eng):
    """A CTE no longer aborts extraction: the main plan's join graph
    still transfers while every table inside a CTE body is barred from
    shadowing (the replay re-analyzes the CTE definition against the
    shadow views)."""
    sql = """
        WITH cheap AS (
          SELECT p_partkey AS pk FROM part WHERE p_retailprice < 1200
        )
        SELECT COUNT(*) AS cnt
        FROM lineitem, orders, customer, cheap
        WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
          AND l_partkey = pk AND c_acctbal > 0
    """
    on = eng.sql(sql, config=FORCE)
    assert eng.last_sql_rewritten
    assert _rows(on) == _rows(eng.sql(sql, auto_rpt=False))


def test_sql_auto_cte_table_protected(eng):
    """When the CTE body reads a table the outer query also joins, that
    table is protected everywhere; with its edges gone this graph drops
    to <=1 usable edge and extraction correctly declines."""
    sql = """
        WITH big AS (
          SELECT o_orderkey AS bk FROM orders WHERE o_totalprice > 200000
        )
        SELECT COUNT(*) AS cnt
        FROM lineitem, orders, customer, big
        WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
          AND o_orderkey = bk AND c_acctbal > 0
    """
    on = eng.sql(sql, config=FORCE)
    assert not eng.last_sql_rewritten
    assert _rows(on) == _rows(eng.sql(sql, auto_rpt=False))


Q7_SHAPE_SQL = """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           COUNT(*) AS cnt
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    GROUP BY n1.n_name, n2.n_name
"""


def test_implied_predicates_from_cross_table_or(eng):
    """Predicate move-around (TPC-H Q7 shape): the disjunction
    constrains BOTH nation instances in every branch, so each gets a
    sound implied local filter — without it neither dim is 'filtered'
    and the transfer cascade has no selective source (the measured
    whole-query regression at TPCH_SCALE 100x)."""
    df = eng.sql(Q7_SHAPE_SQL, auto_rpt=False)
    ext = extract_join_graph(df, KNOWN)
    assert ext is not None
    for alias in ("n1", "n2"):
        filt = " ".join(ext.instances[alias].filters)
        assert "NATION_1" in filt and "NATION_2" in filt, (alias, filt)
        assert " OR " in filt, (alias, filt)
    # single-owner branches only: no other instance got the implication
    for alias in ("supplier", "customer", "lineitem", "orders"):
        assert not ext.instances[alias].filters, alias


def test_implied_predicate_partial_branch_bails(eng):
    """A disjunct that does NOT constrain the alias kills the
    implication for it (OR of branches would not be implied)."""
    sql = """
        SELECT COUNT(*) AS cnt
        FROM nation n1 JOIN nation n2 ON n1.n_regionkey = n2.n_regionkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n2.n_name = 'NATION_3'))
    """
    df = eng.sql(sql, auto_rpt=False)
    ext = extract_join_graph(df, KNOWN)
    assert ext is not None
    assert not ext.instances["n1"].filters          # n1 missing in branch 2
    filt = " ".join(ext.instances["n2"].filters)    # n2 in every branch
    assert "NATION_2" in filt and "NATION_3" in filt


def test_q7_shape_rewrite_matches_off(eng, spark, sf_dir):
    off = Engine(spark, sf_dir, RPTConfig(enabled=False))
    assert _rows(eng.sql(Q7_SHAPE_SQL)) == _rows(off.sql(Q7_SHAPE_SQL))


OUTER_ON_OR_SQL = """
    SELECT c.c_custkey, o.o_orderkey
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      AND ((c.c_mktsegment = 'BUILDING'   AND o.o_orderstatus = 'F')
        OR (c.c_mktsegment = 'AUTOMOBILE' AND o.o_orderstatus = 'O'))
    WHERE n.n_regionkey = 1
"""


def test_outer_on_clause_filter_only_null_side(eng):
    """ADVICE r4 (high): an ON-clause conjunct of an OUTER join may be
    baked into a shadow view ONLY on the null-producing side. On the
    preserved side the join keeps rows that fail the clause (NULL
    padding), so a baked filter drops preserved rows at replay and
    unsoundly marks the instance prefiltered for the cascade."""
    df = eng.sql(OUTER_ON_OR_SQL, auto_rpt=False)
    ext = extract_join_graph(df, KNOWN)
    assert ext is not None
    # preserved side (customer): NO implied filter from the ON clause
    assert not any("c_mktsegment" in f for f in ext.instances["c"].filters)
    # null-producing side (orders): the OR-implication IS sound
    filt = " ".join(ext.instances["o"].filters)
    assert "o_orderstatus" in filt and " OR " in filt

    # single-owner conjunct, same rule
    df2 = eng.sql("""
        SELECT c.c_custkey, o.o_orderkey
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        LEFT JOIN orders o ON c.c_custkey = o.o_custkey
          AND c.c_mktsegment = 'BUILDING' AND o.o_orderstatus = 'F'
        WHERE n.n_regionkey = 1
    """, auto_rpt=False)
    ext2 = extract_join_graph(df2, KNOWN)
    assert ext2 is not None
    assert not any("c_mktsegment" in f for f in ext2.instances["c"].filters)
    assert any("o_orderstatus" in f for f in ext2.instances["o"].filters)


def test_outer_on_clause_rewrite_matches_off(eng, spark, sf_dir):
    """End-to-end differential for the judge's r4 counterexample shape:
    rewrite under zeroed gates must equal the plain run, preserving
    outer rows whose ON disjunction fails."""
    forced = Engine(spark, sf_dir, FORCE)
    off = Engine(spark, sf_dir, RPTConfig(enabled=False))
    assert _rows(forced.sql(OUTER_ON_OR_SQL)) == _rows(off.sql(OUTER_ON_OR_SQL))


Q17_SHAPE_SQL = """
    SELECT SUM(l_extendedprice) AS s
    FROM lineitem, part
    WHERE p_partkey = l_partkey AND p_brand = 'Brand#3'
      AND l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
           FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
"""


def test_delim_shared_subquery_recognized(eng):
    """The reference extracts edges from LOGICAL_DELIM_JOIN
    (rpt_optimizer.cpp:49-50); our analogue recognizes the correlated
    scalar aggregate and records the allowed reduction key instead of
    protecting the table."""
    df = eng.sql(Q17_SHAPE_SQL, auto_rpt=False)
    ext = extract_join_graph(df, KNOWN)
    assert ext is not None
    assert not ext.instances["lineitem"].protected
    assert ext.shared_sub == {
        "lineitem": [[("l_partkey", "part", "p_partkey")]]}


def test_delim_unrecognized_shapes_stay_protected(eng):
    # correlation through an expression (not a bare equi pair)
    df = eng.sql("""
        SELECT SUM(l_extendedprice) AS s FROM lineitem, part
        WHERE p_partkey = l_partkey
          AND l_quantity < (SELECT AVG(l2.l_quantity) FROM lineitem l2
                            WHERE l2.l_partkey = p_partkey + 1)
    """, auto_rpt=False)
    ext = extract_join_graph(df, KNOWN)
    assert ext is None or ext.instances["lineitem"].protected

    # two tables inside the subquery
    df = eng.sql("""
        SELECT SUM(l_extendedprice) AS s FROM lineitem, part
        WHERE p_partkey = l_partkey
          AND l_quantity < (SELECT AVG(l2.l_quantity)
                            FROM lineitem l2 JOIN orders
                              ON l2.l_orderkey = o_orderkey
                            WHERE l2.l_partkey = p_partkey)
    """, auto_rpt=False)
    ext = extract_join_graph(df, KNOWN)
    assert ext is None or ext.instances["lineitem"].protected
    if ext is not None:
        assert "lineitem" not in ext.shared_sub


def test_delim_rewrite_matches_off(eng, spark, sf_dir):
    forced = Engine(spark, sf_dir, FORCE)
    off = Engine(spark, sf_dir, RPTConfig(enabled=False))
    assert _rows(forced.sql(Q17_SHAPE_SQL)) == _rows(off.sql(Q17_SHAPE_SQL))
    assert forced.last_sql_rewritten


def test_delim_disallowed_key_skips_shadow(eng, spark, sf_dir):
    """lineitem joined to BOTH part and orders, but the subquery only
    licenses l_partkey reductions: the shadow must be skipped (orders
    keys would change subquery groups that surviving rows reference) —
    and results must still match the plain run."""
    sql = """
        SELECT SUM(l_extendedprice) AS s
        FROM lineitem, part, orders
        WHERE p_partkey = l_partkey AND l_orderkey = o_orderkey
          AND p_brand = 'Brand#3' AND o_orderstatus = 'F'
          AND l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
               FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """
    forced = Engine(spark, sf_dir, FORCE)
    off = Engine(spark, sf_dir, RPTConfig(enabled=False))
    assert _rows(forced.sql(sql)) == _rows(off.sql(sql))


def test_delim_virtual_edge_never_reduces_outer(spark, sf_dir):
    """The DELIM virtual edge is one-way (how='left'): the subquery
    table's keys must NEVER reduce the outer side. An outer row whose
    correlation key has no inner rows is still a valid result row when
    the scalar's consumption tolerates an empty group — COUNT(*) over
    zero rows returns 0 (not NULL), and `(SELECT AVG(..)) IS NULL` is
    TRUE — exactly an outer join's preserved-side discipline. The
    fixture data has full referential integrity, so this pins the
    mechanism structurally AND differentially."""
    count_sql = """
        SELECT COUNT(*) AS c
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE n_name = 'FRANCE'
          AND (SELECT COUNT(*) FROM orders o
               WHERE o.o_custkey = c_custkey) >= 0
    """
    forced = Engine(spark, sf_dir, FORCE)
    off = Engine(spark, sf_dir, RPTConfig(enabled=False))
    assert _rows(forced.sql(count_sql)) == _rows(off.sql(count_sql))
    if forced.last_result is not None:
        for op in forced.last_result.applied:
            assert not op.build.startswith("__sub"), (
                f"virtual subquery node {op.build} reduced real "
                f"alias {op.probe} — unsound for empty-group-"
                f"tolerant consumption")

    # and on the Q17 shape: the win (lineitem reduced via the REAL
    # part edge) must survive the directional restriction
    forced2 = Engine(spark, sf_dir, FORCE)
    forced2.sql(Q17_SHAPE_SQL)
    assert forced2.last_sql_rewritten
    assert forced2.last_result is not None
    for op in forced2.last_result.applied:
        assert not op.build.startswith("__sub")
    assert any(op.probe == "lineitem" for op in forced2.last_result.applied)


def test_engaged_rewrite_suppresses_native_blooms(eng, spark, sf_dir):
    """config.suppress_native_rf: one filter per edge. An engaged
    rewrite keeps the caller's injection value in the returned
    DataFrame's session (only its eager jobs ran with it off), and every
    op it dropped at gate "native" still has its bloom in the plan the
    statement runs; the next un-rewritten query runs with the caller's
    value too, which the engine never changes."""
    key = "spark.sql.optimizer.runtime.bloomFilter.enabled"
    prev = spark.conf.get(key, "false")
    spark.conf.set(key, "true")
    try:
        forced = Engine(spark, sf_dir, FORCE)
        df = forced.sql(FLAGSHIP_SQL)
        assert forced.last_sql_rewritten
        assert df.sparkSession.conf.get(key) == "true"
        assert spark.conf.get(key) == "true"
        df.collect()
        final = forced.native_edges(df)
        for d in forced.last_result.decisions:
            if d.gate == "native":
                assert all((d.op.probe, c.lower(), d.op.build) in final
                           for c in d.op.probe_cols), (d, final)
        plain = forced.sql("SELECT COUNT(*) AS c FROM nation")
        assert not forced.last_sql_rewritten
        assert plain.sparkSession.conf.get(key) == "true"
        assert spark.conf.get(key) == "true"
    finally:
        spark.conf.set(key, prev)


def test_native_rf_restore_across_engine_instances(spark, sf_dir):
    """The workload layer builds a fresh Engine per query: an engaged
    query on one instance must not leave native blooms disabled for a
    later un-engaged query on a DIFFERENT instance (ADVICE r5). Each
    statement's value lives in its own cloned session, so the caller's
    conf is never changed and the later query runs with it."""
    key = "spark.sql.optimizer.runtime.bloomFilter.enabled"
    prev = spark.conf.get(key, "false")
    spark.conf.set(key, "true")
    try:
        forced = Engine(spark, sf_dir, FORCE)
        forced.sql(FLAGSHIP_SQL)
        assert forced.last_sql_rewritten
        assert spark.conf.get(key) == "true"
        # fresh instance, un-engaged query: runs with the caller's value
        other = Engine(spark, sf_dir, FORCE)
        plain = other.sql("SELECT COUNT(*) AS c FROM nation")
        assert not other.last_sql_rewritten
        assert plain.sparkSession.conf.get(key) == "true"
    finally:
        spark.conf.set(key, prev)


def test_all_broadcast_bail_skips_evidence(spark, sf_dir, monkeypatch):
    """A statement whose relations all but the largest fit a broadcast
    bails right after extraction, from footer counts: it runs no
    host-plan evidence pass, returns the plain rows, and leaves the
    previous statement's persists alone, since they belong to that
    statement's DataFrame. The statement text is used by no other test,
    so the module memos miss."""
    from duckdb_robust_predicate_transfer_spark.plans import catalyst_order

    e1 = Engine(spark, sf_dir, FORCE)
    first = e1.sql(FLAGSHIP_SQL)
    assert e1.last_result is not None and e1.last_result.persisted
    held = list(e1.last_result.persisted)
    calls: list = []
    real = catalyst_order.statement_evidence
    monkeypatch.setattr(catalyst_order, "statement_evidence",
                        lambda *a, **k: calls.append(a) or real(*a, **k))
    sql = FLAGSHIP_SQL.replace("'ASIA'", "'AFRICA'").replace(
        "1996-01-01", "1995-03-01")
    # the default config: every sf0.001 table is under the 400k-row bail
    e2 = Engine(spark, sf_dir)
    got = e2.sql(sql).collect()
    assert not e2.last_sql_rewritten and e2.last_result is None
    assert calls == [], "the all-broadcast bail paid the evidence pass"
    want = Engine(spark, sf_dir, RPTConfig(enabled=False)).sql(
        sql, auto_rpt=False).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert e1.last_result.persisted == held, "the bail released them"
    for jdf, _ in held:
        assert jdf.storageLevel().useMemory()
    del first
    assert not e1.last_result.persisted


def test_persist_release_across_engine_instances(spark, sf_dir):
    """Persisted build sides release when their statement's DataFrame
    is dropped, whichever Engine instance planned it (the workload
    layer builds a fresh Engine per query) and while that instance
    lives on. A leaked persist would let a long-lived session
    accumulate one query's persisted builds per execution —
    CacheManager substitutes the leaked InMemoryRelations into later
    plans and storage pressure makes repeat timings bimodal (Q5 at
    x1000: 13 s with per-leg clearCache vs 32 s without)."""
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    e1 = Engine(spark, sf_dir, FORCE)
    df1 = e1.sql(FLAGSHIP_SQL)
    assert e1.last_sql_rewritten
    assert e1.last_result is not None and e1.last_result.persisted
    held = list(e1.last_result.persisted)
    df1.collect()
    # the last DataFrame of the statement goes, both engines stay: the
    # persists release with no further query, gc.collect or clearCache
    e2 = Engine(spark, sf_dir, FORCE)
    del df1
    assert not e1.last_result.persisted, "statement release missed"
    for jdf, _ in held:
        assert not jdf.storageLevel().useMemory(), (
            "a dropped statement's persisted build leaked")
    assert jsc.getPersistentRDDs().size() == before
    assert e2.last_result is None


def test_statement_persists_outlive_other_statements(spark, sf_dir):
    """Statement A's persisted builds belong to A's DataFrame: a
    different engaged statement B, planned and run through another
    Engine after A was planned, leaves them cached, so A's execution
    reads them. Dropping A's DataFrame releases them, with A's Engine
    still alive and no later statement."""
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    ea = Engine(spark, sf_dir, FORCE)
    a = ea.sql(FLAGSHIP_SQL)
    assert ea.last_sql_rewritten and ea.last_result.persisted
    held = list(ea.last_result.persisted)
    eb = Engine(spark, sf_dir, FORCE)
    b = eb.sql(FLAGSHIP_SQL.replace("'ASIA'", "'AMERICA'"))
    assert eb.last_sql_rewritten
    b.collect()
    a.collect()
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan, "B released A's builds"
    for jdf, _ in held:
        assert jdf.storageLevel().useMemory()
    del a, b
    assert not ea.last_result.persisted
    for jdf, _ in held:
        assert not jdf.storageLevel().useMemory()
    assert jsc.getPersistentRDDs().size() == before


def test_left_join_is_null_filter_never_baked(spark, sf_dir):
    """The LEFT-JOIN-...-WHERE-IS-NULL anti idiom: a WHERE conjunct
    owned by a table under the null-PRODUCING side of an outer join
    sees post-padding values, so baking it into the base table's
    shadow would pre-filter the table to its NULL keys and flip the
    anti into keep-everything (r8 finding via JOB jq22). Extraction
    must refuse the bake; the rewrite (forced gates) must still match
    the off leg exactly. ON-clause conjuncts inside the derived table
    (pre-padding) keep baking."""
    sql = """
        SELECT COUNT(*) AS n
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        LEFT JOIN (SELECT l_orderkey FROM lineitem, supplier
                   WHERE l_suppkey = s_suppkey AND s_nationkey = 1) sk
               ON sk.l_orderkey = o_orderkey
        WHERE sk.l_orderkey IS NULL AND c_custkey % 3 = 0
    """
    e = Engine(spark, sf_dir)
    e.catalog.register_views()
    ext = extract_join_graph(spark.sql(sql), e.catalog.known_tables())
    assert ext is not None and hasattr(ext, "instances")
    assert ext.instances["lineitem"].filters == [], (
        "post-padding IS NULL conjunct must not bake")
    assert any("s_nationkey" in f
               for f in ext.instances["supplier"].filters), (
        "pre-padding derived-table filter must still bake")

    cfg = RPTConfig(all_broadcast_bail_rows=0, min_probe_rows=0,
                    host_broadcast_rows=0, require_selective_build=False)
    on = Engine(spark, sf_dir, cfg).sql(sql).collect()
    off = Engine(spark, sf_dir, RPTConfig(enabled=False)).sql(
        sql, auto_rpt=False).collect()
    assert sorted(map(tuple, on)) == sorted(map(tuple, off))


def test_sql_without_catalog_runs_plain(spark):
    """An Engine built without ``sf_dir`` has no catalog to register or
    rewrite against: ``sql`` runs the statement as plain ``spark.sql``
    whatever ``auto_rpt`` says."""
    eng = Engine(spark)
    for auto_rpt in (True, False):
        rows = eng.sql("select 1 as a", auto_rpt=auto_rpt).collect()
        assert [r.a for r in rows] == [1], auto_rpt
        assert not eng.last_sql_rewritten
