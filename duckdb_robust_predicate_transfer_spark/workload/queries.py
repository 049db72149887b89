"""Declared star-schema queries (SURVEY.md section 2d).

Two styles:

- multi-join queries are built through ``Engine.reduce`` so the robust
  predicate-transfer rewrite applies (and is differentially tested
  RPT-on vs RPT-off, the reference's core invariant README.md:21);
- pure relational-surface queries (window/set-ops/scalar functions)
  use dialect-shared SQL run by both Spark and the DuckDB oracle.

Aliases match the oracle exactly; see common.py for the determinism
conventions on floats/timestamps.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import get_catalog
from .common import (REVENUE, Rel, davg, dsum, eng, revenue_col, sql_davg,
                     sql_dsum)
from .registry import query

# --------------------------------------------------------------------------
# scans / filters / projections
# --------------------------------------------------------------------------


@query(
    "q_scan_project",
    oracle=f"""
    SELECT l_orderkey, l_linenumber, {REVENUE} AS revenue
    FROM lineitem
    """,
)
def q_scan_project(spark, sf_dir):
    e = eng(spark, sf_dir)
    return e.table("lineitem").select(
        "l_orderkey", "l_linenumber", revenue_col().alias("revenue")
    )


@query(
    "q_filter_scan",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
    FROM lineitem
    WHERE l_quantity > 30 AND l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
    """,
)
def q_filter_scan(spark, sf_dir):
    e = eng(spark, sf_dir)
    return (
        e.table("lineitem")
        .filter((F.col("l_quantity") > 30)
                & (F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp")))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
    )


# --------------------------------------------------------------------------
# joins (through the predicate-transfer engine)
# --------------------------------------------------------------------------


@query(
    "q_join_2way_inner",
    oracle=f"""
    SELECT o_orderstatus, COUNT(*) AS cnt, {sql_dsum(REVENUE, "rev")}
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def q_join_2way_inner(spark, sf_dir):
    e = eng(spark, sf_dir)
    j = e.reduce_and_join({"l": "lineitem", "o": "orders"},
                          [("l", "o", "l_orderkey", "o_orderkey")])
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt"), dsum(revenue_col(), "rev"))


FLAGSHIP_ORACLE = f"""
    SELECT n_name, COUNT(*) AS cnt, {sql_dsum(REVENUE, "revenue")}
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY n_name
"""


@query("q_star_join_rpt", oracle=FLAGSHIP_ORACLE)
def q_star_join_rpt(spark, sf_dir, config=None):
    """Flagship: the full forward+backward transfer chain
    lineitem<-orders<-customer<-nation<-region (rpt_optimizer.cpp:826-995)."""
    e = eng(spark, sf_dir, config)
    j = e.reduce_and_join(
        {"l": "lineitem",
         "o": Rel("orders", "o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'"),
         "c": "customer", "n": "nation",
         "rg": Rel("region", "r_name = 'ASIA'")},
        [("l", "o", "l_orderkey", "o_orderkey"),
         ("o", "c", "o_custkey", "c_custkey"),
         ("c", "n", "c_nationkey", "n_nationkey"),
         ("n", "rg", "n_regionkey", "r_regionkey")])
    return j.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("cnt"), dsum(revenue_col(), "revenue"))


@query("q_star_join_forced", oracle=FLAGSHIP_ORACLE)
def q_star_join_forced(spark, sf_dir):
    """Flagship with zeroed cost gates — the reference's faithful
    always-transfer behavior (it applies whenever the graph has >1 edge,
    rpt_optimizer.cpp:1592-1595). Keeps the full forward+backward
    semi-join cascade exercised by the driver correctness gate even at
    scale factors where the scale-adaptive gates would bail out."""
    from ..config import RPTConfig

    cfg = RPTConfig(min_probe_rows=0, require_selective_build=False,
                    all_broadcast_bail_rows=0)
    return q_star_join_rpt(spark, sf_dir, config=cfg)


@query("q_sketch_transfer", oracle=FLAGSHIP_ORACLE)
def q_sketch_transfer(spark, sf_dir):
    """Flagship through the Bloom-SKETCH tier: every transfer ships a
    fixed-size Bloom filter instead of an exact key set (PTBloomFilter's
    role, bloom_filter.cpp:27-78) — the scale path for build sides
    whose distinct-key shuffle would dominate. False positives only
    ever ADD probe rows the final join drops, so the oracle (the same
    SQL) must still match exactly."""
    from ..config import RPTConfig

    cfg = RPTConfig(use_sketch=True, sketch_threshold_rows=0,
                    filter_type="bf_only", min_probe_rows=0,
                    require_selective_build=False, all_broadcast_bail_rows=0)
    return q_star_join_rpt(spark, sf_dir, config=cfg)


@query(
    "q_subtree_rescue",
    oracle=f"""
    SELECT o_orderstatus, COUNT(*) AS cnt, {sql_dsum(REVENUE, "rev")}
    FROM lineitem
    JOIN orders   ON CAST(l_orderkey AS VARCHAR) = CAST(o_orderkey AS VARCHAR)
    JOIN customer ON CAST(o_custkey AS VARCHAR) = CAST(c_custkey AS VARCHAR)
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE n_name = 'NATION_19'
    GROUP BY o_orderstatus
    """,
)
def q_subtree_rescue(spark, sf_dir):
    """Gate 2f (subtree sketch rescue) forced at every SF: with an
    8-key broadcast ceiling and every host join marked broadcastable,
    both mid hops (customer->orders, orders->lineitem) are exactly the
    shape gate 2b3 drops — and the rescue re-expresses each as a
    scan-fused bloom built from the ALREADY-REDUCED build lineage (the
    reference's forward pass over reduced rows, rpt_optimizer.cpp:
    884-937): nation's selectivity crosses two shuffle-tier
    intermediates without a single exchange. The mid-hop join keys are
    STRING-cast (cast is bijective on BIGINT, so the oracle's casted
    joins are value-identical to the integer joins): the r8 string-key
    conditioning only admits rescues whose probe join pays per-row
    string cost — the JOB-fixture shape — so a bare integer chain
    would, by design, apply no rescue at all. Bloom false positives
    only ADD rows the final joins drop, so the same-SQL oracle must
    match exactly."""
    from ..config import RPTConfig

    cfg = RPTConfig(broadcast_key_rows=8, filter_type="bf_only",
                    min_probe_rows=0, all_broadcast_bail_rows=0,
                    pass_mode="forward_only", host_broadcast_rows=10**9)
    e = eng(spark, sf_dir, cfg)
    l = e.table("lineitem").withColumn(
        "l_okey_s", F.col("l_orderkey").cast("string"))
    o = (e.table("orders")
         .withColumn("o_okey_s", F.col("o_orderkey").cast("string"))
         .withColumn("o_ckey_s", F.col("o_custkey").cast("string")))
    c = e.table("customer").withColumn(
        "c_ckey_s", F.col("c_custkey").cast("string"))
    j = e.reduce_and_join(
        {"l": Rel("lineitem", df=l), "o": Rel("orders", df=o),
         "c": Rel("customer", df=c),
         "n": Rel("nation", "n_name = 'NATION_19'")},
        [("l", "o", "l_okey_s", "o_okey_s"),
         ("o", "c", "o_ckey_s", "c_ckey_s"),
         ("c", "n", "c_nationkey", "n_nationkey")])
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt"), dsum(revenue_col(), "rev"))


@query("q_sql_auto_rpt", oracle=FLAGSHIP_ORACLE)
def q_sql_auto_rpt(spark, sf_dir, config=None):
    """The flagship star join as a plain SQL string: the join graph is
    auto-extracted from the Catalyst analyzed plan and rewritten with
    no hand-declared relations or edges — the analogue of the
    reference's optimizer-extension hook rewriting arbitrary statements
    (rpt_optimizer.cpp:25-139, hook :1702-1722). The oracle is the
    *same* SQL text, so this also proves rewrite == no-rewrite."""
    return eng(spark, sf_dir, config).sql(FLAGSHIP_ORACLE)


@query(
    "q_snowflake_agg",
    oracle=f"""
    SELECT r_name, n_name, COUNT(*) AS cnt,
           {sql_dsum(REVENUE, "revenue")},
           {sql_davg("l_quantity", "avg_qty")}
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY r_name, n_name
    """,
)
def q_snowflake_agg(spark, sf_dir):
    e = eng(spark, sf_dir)
    j = e.reduce_and_join(
        {"l": "lineitem", "o": "orders",
         "c": Rel("customer", "c_mktsegment = 'BUILDING'"),
         "n": "nation", "rg": "region"},
        [("l", "o", "l_orderkey", "o_orderkey"),
         ("o", "c", "o_custkey", "c_custkey"),
         ("c", "n", "c_nationkey", "n_nationkey"),
         ("n", "rg", "n_regionkey", "r_regionkey")])
    return j.groupBy("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("cnt"),
        dsum(revenue_col(), "revenue"),
        davg(F.col("l_quantity"), "avg_qty"))


@query(
    "q_multi_col_join",
    oracle=f"""
    WITH g AS (
      SELECT l_orderkey AS g_orderkey, l_suppkey AS g_suppkey,
             COUNT(*) AS supp_lines
      FROM lineitem GROUP BY 1, 2
    )
    SELECT o_orderpriority, COUNT(*) AS cnt,
           {sql_dsum("l_extendedprice", "total_price")}
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN g ON l_orderkey = g_orderkey AND l_suppkey = g_suppkey
    WHERE supp_lines >= 2 AND o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def q_multi_col_join(spark, sf_dir):
    """Multi-column equi-edge => weight-2 edge preferred by the max
    spanning tree (graph_manager.hpp:37-43)."""
    e = eng(spark, sf_dir)
    li = e.table("lineitem")
    g = (li.groupBy(F.col("l_orderkey").alias("g_orderkey"),
                    F.col("l_suppkey").alias("g_suppkey"))
         .agg(F.count(F.lit(1)).alias("supp_lines"))
         .filter(F.col("supp_lines") >= 2))
    j = e.reduce_and_join(
        {"l": "lineitem",
         "o": Rel("orders", "o_orderstatus = 'F'"),
         "g": Rel("g", df=g)},
        [("l", "o", "l_orderkey", "o_orderkey"),
         ("l", "g", ("l_orderkey", "l_suppkey"), ("g_orderkey", "g_suppkey"))])
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt"),
        dsum(F.col("l_extendedprice"), "total_price"))


@query(
    "q_cyclic_join_graph",
    oracle=f"""
    SELECT n_name, COUNT(*) AS cnt, {sql_dsum(REVENUE, "revenue")}
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON c_nationkey = n_nationkey AND s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
    GROUP BY n_name
    """,
)
def q_cyclic_join_graph(spark, sf_dir):
    """TPC-H Q5 shape: the cycle l-o-c-n-s-l forces spanning-tree edge
    selection (rpt_optimizer.cpp:215-276); the dropped edge is still
    enforced in the final join."""
    e = eng(spark, sf_dir)
    j = e.reduce_and_join(
        {"l": "lineitem", "o": "orders", "c": "customer", "s": "supplier",
         "n": "nation", "rg": Rel("region", "r_name = 'EUROPE'")},
        [("l", "o", "l_orderkey", "o_orderkey"),
         ("o", "c", "o_custkey", "c_custkey"),
         ("l", "s", "l_suppkey", "s_suppkey"),
         ("c", "n", "c_nationkey", "n_nationkey"),
         ("s", "n", "s_nationkey", "n_nationkey"),
         ("n", "rg", "n_regionkey", "r_regionkey")])
    return j.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("cnt"), dsum(revenue_col(), "revenue"))


@query(
    "q_left_join",
    oracle="""
    SELECT c_custkey, n_name, COUNT(o_orderkey) AS n_orders
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
        AND o_orderstatus = 'O'
    JOIN nation ON c_nationkey = n_nationkey
    WHERE n_name IN ('NATION_3', 'NATION_7')
    GROUP BY c_custkey, n_name
    """,
)
def q_left_join(spark, sf_dir):
    """LEFT join: the preserved side (customer) must never be reduced by
    the transfer (ir.JoinEdge.may_filter); orders may be."""
    e = eng(spark, sf_dir)
    j = e.reduce_and_join(
        {"c": "customer",
         "o": Rel("orders", "o_orderstatus = 'O'"),
         "n": Rel("nation", "n_name IN ('NATION_3', 'NATION_7')")},
        [("c", "o", "c_custkey", "o_custkey", "left"),
         ("c", "n", "c_nationkey", "n_nationkey")])
    return j.groupBy("c_custkey", "n_name").agg(
        F.count(F.col("o_orderkey")).alias("n_orders"))


@query(
    "q_right_join",
    oracle="""
    SELECT s_suppkey, s_name, COUNT(l_orderkey) AS n_lines
    FROM (SELECT * FROM lineitem WHERE l_quantity >= 48) l
    RIGHT JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_suppkey, s_name
    """,
)
def q_right_join(spark, sf_dir):
    e = eng(spark, sf_dir)
    li = e.table("lineitem").filter(F.col("l_quantity") >= 48)
    j = li.join(e.table("supplier"), li.l_suppkey == F.col("s_suppkey"), "right")
    return j.groupBy("s_suppkey", "s_name").agg(
        F.count(F.col("l_orderkey")).alias("n_lines"))


@query(
    "q_semi_join",
    oracle=f"""
    SELECT o_orderpriority, COUNT(*) AS cnt
    FROM orders
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem WHERE l_quantity > 49)
    GROUP BY o_orderpriority
    """,
)
def q_semi_join(spark, sf_dir):
    e = eng(spark, sf_dir)
    li = e.table("lineitem").filter(F.col("l_quantity") > 49)
    j = e.table("orders").join(
        li, F.col("o_orderkey") == li.l_orderkey, "left_semi")
    return j.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("cnt"))


@query(
    "q_anti_join",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS cnt
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    GROUP BY c_mktsegment
    """,
)
def q_anti_join(spark, sf_dir):
    """Anti join is ineligible for transfer (rpt_optimizer.cpp:52-69
    default branch) but must still execute correctly.

    Note o_custkey has no NULLs, so NOT IN == anti join here."""
    e = eng(spark, sf_dir)
    j = e.table("customer").join(
        e.table("orders"), F.col("c_custkey") == F.col("o_custkey"),
        "left_anti")
    return j.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("cnt"))


@query(
    "q_in_subquery_mark",
    oracle=f"""
    SELECT p_brand, COUNT(*) AS cnt, {sql_dsum("l_extendedprice", "total")}
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE l_orderkey IN (
        SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
      AND p_size < 10 AND s_acctbal > 0
    GROUP BY p_brand
    """,
)
def q_in_subquery_mark(spark, sf_dir):
    """IN-subquery: the reference lifts BF creation above MARK joins so
    builds see mark-filtered rows (rpt_optimizer.cpp:1518-1549); here the
    IN becomes a semi join applied before transfer by construction."""
    e = eng(spark, sf_dir)
    urgent = e.table("orders").filter(F.col("o_orderpriority") == "1-URGENT")
    li = e.table("lineitem").join(
        urgent.select("o_orderkey"),
        F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
    j = e.reduce_and_join(
        {"l": Rel("l", df=li), "p": Rel("part", "p_size < 10"),
         "s": Rel("supplier", "s_acctbal > 0")},
        [("l", "p", "l_partkey", "p_partkey"),
         ("l", "s", "l_suppkey", "s_suppkey")])
    return j.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("cnt"),
        dsum(F.col("l_extendedprice"), "total"))


@query(
    "q_correlated_exists",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS cnt
    FROM orders
    WHERE EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_quantity > 45)
    GROUP BY o_orderstatus
    """,
)
def q_correlated_exists(spark, sf_dir):
    e = eng(spark, sf_dir)
    return e.sql("""
        SELECT o_orderstatus, COUNT(*) AS cnt
        FROM orders
        WHERE EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        GROUP BY o_orderstatus
    """)


@query(
    "q_values_join",
    oracle="""
    SELECT tag, COUNT(*) AS cnt
    FROM nation
    JOIN (VALUES (0, 'ZERO'), (1, 'ONE'), (2, 'TWO')) AS v(id, tag)
      ON n_regionkey = id
    GROUP BY tag
    """,
)
def q_values_join(spark, sf_dir):
    """Join against a literal relation (CHUNK_GET/EXPRESSION_GET leaf,
    rpt_optimizer.cpp:125-133)."""
    e = eng(spark, sf_dir)
    v = spark.createDataFrame([(0, "ZERO"), (1, "ONE"), (2, "TWO")],
                              ["id", "tag"])
    j = e.table("nation").join(v, F.col("n_regionkey") == v.id)
    return j.groupBy("tag").agg(F.count(F.lit(1)).alias("cnt"))


@query(
    "q_empty_build_side",
    oracle=f"""
    SELECT n_name, {REVENUE} AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ATLANTIS'
    """,
)
def q_empty_build_side(spark, sf_dir):
    """Dim filter matches zero rows => always-false pushdown => empty
    result without scanning the fact table
    (physical_create_bf.cpp:290-297)."""
    e = eng(spark, sf_dir)
    j = e.reduce_and_join(
        {"l": "lineitem", "o": "orders", "c": "customer", "n": "nation",
         "rg": Rel("region", "r_name = 'ATLANTIS'")},
        [("l", "o", "l_orderkey", "o_orderkey"),
         ("o", "c", "o_custkey", "c_custkey"),
         ("c", "n", "c_nationkey", "n_nationkey"),
         ("n", "rg", "n_regionkey", "r_regionkey")])
    return j.select("n_name", revenue_col().alias("revenue"))


# --------------------------------------------------------------------------
# aggregation variants
# --------------------------------------------------------------------------


@query(
    "q_scalar_agg",
    oracle=f"""
    SELECT COUNT(*) AS cnt, {sql_dsum("l_quantity", "sum_qty")},
           MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship
    FROM lineitem
    """,
)
def q_scalar_agg(spark, sf_dir):
    e = eng(spark, sf_dir)
    return e.table("lineitem").agg(
        F.count(F.lit(1)).alias("cnt"),
        dsum(F.col("l_quantity"), "sum_qty"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"))


@query(
    "q_groupby_having",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
           {sql_dsum("l_quantity", "sum_qty")}
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    HAVING COUNT(*) > 100
    """,
)
def q_groupby_having(spark, sf_dir):
    e = eng(spark, sf_dir)
    return (e.table("lineitem")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 dsum(F.col("l_quantity"), "sum_qty"))
            .filter(F.col("cnt") > 100))


@query(
    "q_distinct",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
)
def q_distinct(spark, sf_dir):
    e = eng(spark, sf_dir)
    return e.table("customer").select("c_mktsegment", "c_nationkey").distinct()


@query(
    "q_count_distinct",
    oracle="""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_cust,
           COUNT(DISTINCT o_orderpriority) AS n_prio
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_count_distinct(spark, sf_dir):
    e = eng(spark, sf_dir)
    return (e.table("orders").groupBy("o_orderstatus")
            .agg(F.countDistinct("o_custkey").alias("n_cust"),
                 F.countDistinct("o_orderpriority").alias("n_prio")))


@query("q_approx_count_distinct")  # no exact oracle: rows-only check
def q_approx_count_distinct(spark, sf_dir):
    e = eng(spark, sf_dir)
    return (e.table("orders").groupBy("o_orderstatus")
            .agg(F.approx_count_distinct("o_custkey").alias("approx_cust")))


_GSETS_BODY = f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
           {sql_dsum("l_extendedprice", "total")}
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


@query("q_grouping_sets", oracle=_GSETS_BODY)
def q_grouping_sets(spark, sf_dir):
    return eng(spark, sf_dir).sql(_GSETS_BODY)


_ROLLUP_BODY = f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
           {sql_dsum("l_quantity", "sum_qty")}
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@query("q_rollup", oracle=_ROLLUP_BODY)
def q_rollup(spark, sf_dir):
    return eng(spark, sf_dir).sql(_ROLLUP_BODY)


_CUBE_BODY = f"""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
           {sql_dsum("o_totalprice", "total")}
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@query("q_cube", oracle=_CUBE_BODY)
def q_cube(spark, sf_dir):
    return eng(spark, sf_dir).sql(_CUBE_BODY)


@query(
    "q_rollup_star",
    oracle=f"""
    SELECT r_name, n_name, COUNT(*) AS cnt,
           {sql_dsum(REVENUE, "revenue")}
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderstatus = 'F'
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def q_rollup_star(spark, sf_dir):
    """Grouping sets ABOVE a transfer-reduced join: the reference treats
    a grouped aggregate as binding-transparent so transfer composes
    under it (rpt_optimizer.cpp:86, :90-98); the rollup's NULL
    super-aggregate rows must come from the reduced-but-identical join
    input."""
    e = eng(spark, sf_dir)
    j = e.reduce_and_join(
        {"l": "lineitem", "o": Rel("orders", "o_orderstatus = 'F'"),
         "c": "customer", "n": "nation", "rg": "region"},
        [("l", "o", "l_orderkey", "o_orderkey"),
         ("o", "c", "o_custkey", "c_custkey"),
         ("c", "n", "c_nationkey", "n_nationkey"),
         ("n", "rg", "n_regionkey", "r_regionkey")])
    return j.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("cnt"), dsum(revenue_col(), "revenue"))


# --------------------------------------------------------------------------
# set operations (opaque transfer nodes, rpt_optimizer.cpp:112-119)
# --------------------------------------------------------------------------


@query(
    "q_union",
    oracle="""
    SELECT c_nationkey AS nk FROM customer
    UNION
    SELECT s_nationkey AS nk FROM supplier
    """,
)
def q_union(spark, sf_dir):
    e = eng(spark, sf_dir)
    return (e.table("customer").select(F.col("c_nationkey").alias("nk"))
            .union(e.table("supplier").select(F.col("s_nationkey").alias("nk")))
            .distinct())


@query(
    "q_except",
    oracle="""
    SELECT c_nationkey AS nk FROM customer
    EXCEPT
    SELECT s_nationkey AS nk FROM supplier
    """,
)
def q_except(spark, sf_dir):
    e = eng(spark, sf_dir)
    return (e.table("customer").select(F.col("c_nationkey").alias("nk"))
            .subtract(e.table("supplier")
                      .select(F.col("s_nationkey").alias("nk"))))


@query(
    "q_intersect",
    oracle="""
    SELECT c_nationkey AS nk FROM customer
    INTERSECT
    SELECT s_nationkey AS nk FROM supplier
    """,
)
def q_intersect(spark, sf_dir):
    e = eng(spark, sf_dir)
    return (e.table("customer").select(F.col("c_nationkey").alias("nk"))
            .intersect(e.table("supplier")
                       .select(F.col("s_nationkey").alias("nk"))))


# --------------------------------------------------------------------------
# window functions (boundary nodes, rpt_optimizer.cpp:120-124)
# --------------------------------------------------------------------------


@query(
    "q_window_rank",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           RANK() OVER (PARTITION BY o_orderstatus
                        ORDER BY o_totalprice DESC) AS price_rank
    FROM orders
    WHERE o_totalprice > 60000
    """,
)
def q_window_rank(spark, sf_dir):
    e = eng(spark, sf_dir)
    w = Window.partitionBy("o_orderstatus").orderBy(F.col("o_totalprice").desc())
    return (e.table("orders").filter(F.col("o_totalprice") > 60000)
            .select("o_orderkey", "o_orderstatus", "o_totalprice",
                    F.rank().over(w).alias("price_rank")))


@query(
    "q_window_running_sum",
    oracle="""
    SELECT c_custkey, c_nationkey,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) OVER (
               PARTITION BY c_nationkey ORDER BY c_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS running_bal
    FROM customer
    """,
)
def q_window_running_sum(spark, sf_dir):
    e = eng(spark, sf_dir)
    w = (Window.partitionBy("c_nationkey").orderBy("c_custkey")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (e.table("customer")
            .select("c_custkey", "c_nationkey",
                    F.sum(F.col("c_acctbal").cast("decimal(18,4)")).over(w)
                    .cast("double").alias("running_bal")))


@query(
    "q_window_range_frame",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
               PARTITION BY o_orderstatus ORDER BY o_orderkey
               RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS nearby_total,
           LAG(o_orderkey, 1) OVER (
               PARTITION BY o_orderstatus ORDER BY o_orderkey) AS prev_key
    FROM orders
    """,
)
def q_window_range_frame(spark, sf_dir):
    e = eng(spark, sf_dir)
    wr = (Window.partitionBy("o_orderstatus").orderBy("o_orderkey")
          .rangeBetween(-100, Window.currentRow))
    wl = Window.partitionBy("o_orderstatus").orderBy("o_orderkey")
    return (e.table("orders")
            .select("o_orderkey", "o_orderstatus",
                    F.sum(F.col("o_totalprice").cast("decimal(18,4)")).over(wr)
                    .cast("double").alias("nearby_total"),
                    F.lag("o_orderkey", 1).over(wl).alias("prev_key")))


_NTILE_BODY = """
    SELECT o_orderkey, o_orderstatus,
           CAST(NTILE(4) OVER (
               PARTITION BY o_orderstatus
               ORDER BY o_totalprice, o_orderkey) AS INT) AS quartile
    FROM orders
    WHERE o_totalprice > 100000
"""


@query("q_window_ntile", oracle=_NTILE_BODY)
def q_window_ntile(spark, sf_dir):
    """NTILE bucketing — deterministic because the window's ORDER BY is
    a total order (o_orderkey tiebreak); both engines share the frame
    semantics. Window = opaque transfer boundary
    (rpt_optimizer.cpp:120-124)."""
    return eng(spark, sf_dir).sql(_NTILE_BODY)


@query(
    "q_string_agg",
    # dialect split: DuckDB spells ordered concatenation string_agg(x,
    # sep ORDER BY x); Spark 4 spells it listagg(x, sep) WITHIN GROUP.
    # Same ordered-list semantics, so values hash-match exactly.
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation GROUP BY n_regionkey
    """,
)
def q_string_agg(spark, sf_dir):
    return eng(spark, sf_dir).sql("""
        SELECT n_regionkey,
               listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)
                 AS nations
        FROM nation GROUP BY n_regionkey
    """)


_LATERAL_BODY = """
    SELECT r.r_name, t.n_name, t.n_nationkey
    FROM region r, LATERAL (
        SELECT n_name, n_nationkey FROM nation n
        WHERE n.n_regionkey = r.r_regionkey
        ORDER BY n_name LIMIT 2) t
"""


@query("q_lateral_topn", oracle=_LATERAL_BODY)
def q_lateral_topn(spark, sf_dir):
    """Correlated LATERAL subquery (top-N per outer row) — shared
    syntax in both dialects; Catalyst decorrelates it to a ranked
    join, the same way DuckDB's DELIM_JOIN path does
    (rpt_optimizer.cpp:49-50)."""
    return eng(spark, sf_dir).sql(_LATERAL_BODY)


@query(
    "q_unnest_array",
    # dialect split: DuckDB aligns unnest() with generate_subscripts()
    # (1-based); Spark spells the same thing posexplode (0-based, +1)
    oracle="""
    SELECT vec_id,
           CAST(generate_subscripts(embedding, 1) AS INT) AS pos,
           ROUND(CAST(unnest(embedding) AS DOUBLE), 6) AS val
    FROM embeddings WHERE vec_id < 8
    """,
)
def q_unnest_array(spark, sf_dir):
    """Array unnesting with ordinality over the embedding fixture —
    the array<float> surface as a relational operator (generator =
    generic recursion for the transfer planner,
    rpt_optimizer.cpp:134-137)."""
    e = eng(spark, sf_dir)
    return (e.table("embeddings").filter(F.col("vec_id") < 8)
            .select("vec_id", F.posexplode("embedding")
                    .alias("pos0", "fval"))
            .select("vec_id",
                    (F.col("pos0") + 1).cast("int").alias("pos"),
                    F.round(F.col("fval").cast("double"), 6).alias("val")))


@query(
    "q_pivot",
    # dialect split: Spark's SQL PIVOT clause vs the universal
    # conditional-aggregation spelling (CAST: DuckDB types SUM(CASE) as
    # HUGEINT); empty pivot cells are NULL in Spark and 0 in the CASE
    # form, so the Spark side coalesces
    oracle="""
    SELECT o_orderstatus,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                    THEN 1 ELSE 0 END) AS BIGINT) AS urgent,
           CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH'
                    THEN 1 ELSE 0 END) AS BIGINT) AS high,
           CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM'
                    THEN 1 ELSE 0 END) AS BIGINT) AS medium
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_pivot(spark, sf_dir):
    """PIVOT (wide conditional aggregation) through Spark's native SQL
    PIVOT clause — an aggregate boundary for the transfer planner like
    any other (rpt_optimizer.cpp:84-88)."""
    return eng(spark, sf_dir).sql("""
        SELECT o_orderstatus,
               COALESCE(urgent, 0) AS urgent,
               COALESCE(high, 0) AS high,
               COALESCE(medium, 0) AS medium
        FROM (SELECT o_orderstatus, o_orderpriority FROM orders)
        PIVOT (COUNT(*) FOR o_orderpriority IN
               ('1-URGENT' AS urgent, '2-HIGH' AS high,
                '3-MEDIUM' AS medium))
    """)


# --------------------------------------------------------------------------
# sort / limit / top-k
# --------------------------------------------------------------------------


@query(
    "q_orderby_limit",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 100
    """,
)
def q_orderby_limit(spark, sf_dir):
    e = eng(spark, sf_dir)
    return (e.table("lineitem")
            .select("l_orderkey", "l_linenumber", "l_extendedprice")
            .orderBy(F.col("l_extendedprice").desc(), "l_orderkey",
                     "l_linenumber")
            .limit(100))


@query(
    "q_topk",
    oracle="""
    SELECT * FROM (
      SELECT o_orderstatus, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                 ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) t
    WHERE rn <= 3
    """,
)
def q_topk(spark, sf_dir):
    e = eng(spark, sf_dir)
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey")
    return (e.table("orders")
            .select("o_orderstatus", "o_orderkey", "o_totalprice",
                    F.row_number().over(w).alias("rn"))
            .filter(F.col("rn") <= 3))


# --------------------------------------------------------------------------
# scalar expression surface (dialect-shared SQL)
# --------------------------------------------------------------------------

_STRING_BODY = """
    SELECT p_partkey,
           UPPER(p_brand) AS brand_up,
           LOWER(p_type) AS type_lo,
           SUBSTRING(p_name, 1, 8) AS name8,
           LENGTH(p_name) AS name_len,
           REPLACE(p_brand, 'Brand#', 'B') AS brand_short,
           TRIM(CONCAT(p_brand, ' ')) AS brand_trim,
           p_type LIKE '%STEEL%' AS is_steel
    FROM part
    WHERE p_name LIKE '%ol%'
"""


@query("q_string_funcs", oracle=_STRING_BODY)
def q_string_funcs(spark, sf_dir):
    return eng(spark, sf_dir).sql(_STRING_BODY)


_DATE_BODY = """
    SELECT o_orderkey,
           CAST(YEAR(o_orderdate) AS INT) AS yr,
           CAST(MONTH(o_orderdate) AS INT) AS mth,
           CAST(DAY(o_orderdate) AS INT) AS dom,
           CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month_start
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
"""


@query("q_date_funcs", oracle=_DATE_BODY)
def q_date_funcs(spark, sf_dir):
    return eng(spark, sf_dir).sql(_DATE_BODY)


_MATH_BODY = """
    SELECT p_partkey,
           ABS(p_retailprice - 1000.0) AS dev,
           CAST(CEIL(p_retailprice) AS BIGINT) AS ceil_price,
           CAST(FLOOR(p_retailprice) AS BIGINT) AS floor_price,
           ROUND(SQRT(p_retailprice), 6) AS sqrt_price,
           ROUND(LN(p_retailprice + 1.0), 6) AS ln_price,
           CAST(p_size % 5 AS INT) AS size_mod,
           ROUND(POWER(p_size, 2), 1) AS size_sq
    FROM part
    WHERE p_retailprice > 0
"""


@query("q_math_funcs", oracle=_MATH_BODY)
def q_math_funcs(spark, sf_dir):
    return eng(spark, sf_dir).sql(_MATH_BODY)


_CASE_BODY = """
    SELECT o_orderkey,
           CASE WHEN o_totalprice >= 100000 THEN 'high'
                WHEN o_totalprice >= 30000 THEN 'mid'
                ELSE 'low' END AS price_band,
           CASE o_orderstatus WHEN 'F' THEN 'done'
                              WHEN 'O' THEN 'open'
                              ELSE 'partial' END AS status_word,
           COALESCE(NULLIF(o_orderpriority, '1-URGENT'), 'TOP') AS prio
    FROM orders
"""


@query("q_case_expr", oracle=_CASE_BODY)
def q_case_expr(spark, sf_dir):
    return eng(spark, sf_dir).sql(_CASE_BODY)


@query(
    "q_job_style_wide",
    oracle=f"""
    SELECT cn.n_name AS cust_nation, COUNT(*) AS cnt,
           {sql_dsum(REVENUE, "revenue")}
    FROM lineitem
    JOIN orders    ON l_orderkey = o_orderkey
    JOIN customer  ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN region cr ON cn.n_regionkey = cr.r_regionkey
    JOIN supplier  ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN region sr ON sn.n_regionkey = sr.r_regionkey
    JOIN part      ON l_partkey = p_partkey
    WHERE cr.r_name = 'ASIA' AND sr.r_name = 'EUROPE'
      AND p_size < 20
      AND o_orderdate >= TIMESTAMP '1995-07-01 00:00:00'
    GROUP BY cn.n_name
    """,
)
def q_job_style_wide(spark, sf_dir):
    """JOB-regime width: 9 relations / 8 edges with nation and region
    joined twice through disjoint alias chains (customer side vs
    supplier side) — the planner must treat the two occurrences as
    distinct transfer units, like the reference's per-table-index
    registration does (table_manager.cpp:41-62)."""
    e = eng(spark, sf_dir)
    sn = e.table("nation").select(
        F.col("n_nationkey").alias("sn_nationkey"),
        F.col("n_regionkey").alias("sn_regionkey"))
    sr = e.table("region").select(
        F.col("r_regionkey").alias("sr_regionkey"),
        F.col("r_name").alias("sr_name"))
    j = e.reduce_and_join(
        {"l": "lineitem",
         "o": Rel("orders",
                  "o_orderdate >= TIMESTAMP '1995-07-01 00:00:00'"),
         "c": "customer", "cn": "nation",
         "cr": Rel("region", "r_name = 'ASIA'"),
         "s": "supplier",
         "sn": Rel("sn", df=sn),
         "sr": Rel("sr", df=sr, filter="sr_name = 'EUROPE'"),
         "p": Rel("part", "p_size < 20")},
        [("l", "o", "l_orderkey", "o_orderkey"),
         ("o", "c", "o_custkey", "c_custkey"),
         ("c", "cn", "c_nationkey", "n_nationkey"),
         ("cn", "cr", "n_regionkey", "r_regionkey"),
         ("l", "s", "l_suppkey", "s_suppkey"),
         ("s", "sn", "s_nationkey", "sn_nationkey"),
         ("sn", "sr", "sn_regionkey", "sr_regionkey"),
         ("l", "p", "l_partkey", "p_partkey")])
    return j.groupBy(F.col("n_name").alias("cust_nation")).agg(
        F.count(F.lit(1)).alias("cnt"), dsum(revenue_col(), "revenue"))


@query(
    "q_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
           ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
           ROUND(quantile_cont(l_extendedprice, 0.99), 6) AS p99
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per group: Spark's percentile()
    and DuckDB's quantile_cont() share linear-interpolation semantics,
    so the oracle is exact. (percentile_approx is the cluster-scale
    single-pass variant; it is engine-specific and not declared.)"""
    e = eng(spark, sf_dir)
    pct = "percentile(l_extendedprice, {})"
    return (e.table("lineitem").groupBy("l_returnflag")
            .agg(*[F.round(F.expr(pct.format(q)), 6).alias(n)
                   for q, n in ((0.25, "p25"), (0.5, "p50"),
                                (0.9, "p90"), (0.99, "p99"))]))


@query(
    "q_job_style_like_in",
    oracle="""
    SELECT MIN(p_name) AS min_part, MAX(s_name) AS max_supp,
           COUNT(*) AS cnt
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE p_name LIKE '%r%'
      AND o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND c_mktsegment = 'BUILDING'
    """,
)
def q_job_style_like_in(spark, sf_dir):
    """JOB-signature query shape: MIN/MAX over string columns, LIKE and
    IN-list dimension predicates (the JOB workload's predicate surface,
    README.md:83). LIKE/IN filters belong to the FILTER+GET transfer
    unit, so the key filters are built from the *filtered* dims
    (rpt_optimizer.cpp:74-83)."""
    e = eng(spark, sf_dir)
    j = e.reduce_and_join(
        {"l": "lineitem",
         "p": Rel("part", "p_name LIKE '%r%'"),
         "s": "supplier",
         "o": Rel("orders",
                  "o_orderpriority IN ('1-URGENT', '2-HIGH')"),
         "c": Rel("customer", "c_mktsegment = 'BUILDING'")},
        [("l", "p", "l_partkey", "p_partkey"),
         ("l", "s", "l_suppkey", "s_suppkey"),
         ("l", "o", "l_orderkey", "o_orderkey"),
         ("o", "c", "o_custkey", "c_custkey")])
    return j.agg(F.min("p_name").alias("min_part"),
                 F.max("s_name").alias("max_supp"),
                 F.count(F.lit(1)).alias("cnt"))


@query(
    "q_job_style_dim_fanout",
    oracle=f"""
    SELECT p_brand, n_name AS supp_nation, COUNT(*) AS cnt,
           {sql_dsum(REVENUE, "revenue")},
           MIN(l_shipdate) AS first_ship
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE p_type IN ('ECONOMY', 'STANDARD')
      AND r_name IN ('AMERICA', 'AFRICA')
      AND l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
    GROUP BY p_brand, n_name
    """,
)
def q_job_style_dim_fanout(spark, sf_dir):
    """Fact with two independent dimension chains (part; supplier ->
    nation -> region) and a local fact filter: the filtered fact is
    itself a transfer unit, so forward filters flow into it from both
    chains and the backward pass flows out of it."""
    e = eng(spark, sf_dir)
    j = e.reduce_and_join(
        {"l": Rel("lineitem",
                  "l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'"),
         "p": Rel("part", "p_type IN ('ECONOMY', 'STANDARD')"),
         "s": "supplier", "n": "nation",
         "rg": Rel("region", "r_name IN ('AMERICA', 'AFRICA')")},
        [("l", "p", "l_partkey", "p_partkey"),
         ("l", "s", "l_suppkey", "s_suppkey"),
         ("s", "n", "s_nationkey", "n_nationkey"),
         ("n", "rg", "n_regionkey", "r_regionkey")])
    return (j.groupBy("p_brand", F.col("n_name").alias("supp_nation"))
            .agg(F.count(F.lit(1)).alias("cnt"),
                 dsum(revenue_col(), "revenue"),
                 F.min("l_shipdate").alias("first_ship")))


@query(
    "q_full_outer_join",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(c_custkey) AS n_with_cust,
           COUNT(o_orderkey) AS n_with_order
    FROM (SELECT * FROM customer WHERE c_acctbal > 9000) c
    FULL JOIN (SELECT * FROM orders WHERE o_orderstatus = 'P') o
        ON c_custkey = o_custkey
    """,
)
def q_full_outer_join(spark, sf_dir):
    """FULL OUTER join: ineligible for transfer on BOTH sides (neither
    side's rows may be dropped — ir.ELIGIBLE_JOINS excludes it, like
    the reference's join-type allowlist, rpt_optimizer.cpp:53-57);
    must still execute correctly through the engine."""
    e = eng(spark, sf_dir)
    c = e.table("customer").filter(F.col("c_acctbal") > 9000)
    o = e.table("orders").filter(F.col("o_orderstatus") == "P")
    j = c.join(o, F.col("c_custkey") == F.col("o_custkey"), "full")
    return j.agg(F.count(F.lit(1)).alias("n_rows"),
                 F.count("c_custkey").alias("n_with_cust"),
                 F.count("o_orderkey").alias("n_with_order"))


# --------------------------------------------------------------------------
# host-surface breadth (round 4b): DuckDB-dialect conveniences a reference
# user relies on daily, re-expressed Spark-first.  Each is a window /
# filter boundary for the transfer planner (rpt_optimizer.cpp:120-137).
# --------------------------------------------------------------------------


@query(
    "q_qualify",
    # dialect split: DuckDB's QUALIFY clause filters on a window result
    # post-windowing; Spark has no QUALIFY, the idiomatic spelling is
    # window + filter + drop — identical semantics, one extra plan node
    # that Catalyst collapses into the same Window/Filter physical pair.
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal
    FROM customer
    QUALIFY ROW_NUMBER() OVER (PARTITION BY c_nationkey
                               ORDER BY c_acctbal DESC, c_custkey) <= 3
    """,
)
def q_qualify(spark, sf_dir):
    """Top-3 customers per nation via DuckDB's QUALIFY, Spark-side as
    window + filter (deterministic: c_custkey tiebreak)."""
    e = eng(spark, sf_dir)
    w = (Window.partitionBy("c_nationkey")
         .orderBy(F.col("c_acctbal").desc(), F.col("c_custkey")))
    return (e.table("customer")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("c_custkey", "c_nationkey", "c_acctbal"))


@query(
    "q_distinct_on",
    # dialect split: DuckDB's Postgres-style DISTINCT ON keeps the first
    # row per key under the ORDER BY; Spark spells it row_number()=1.
    oracle="""
    SELECT DISTINCT ON (c_nationkey) c_nationkey, c_custkey, c_acctbal
    FROM customer
    ORDER BY c_nationkey, c_acctbal DESC, c_custkey
    """,
)
def q_distinct_on(spark, sf_dir):
    e = eng(spark, sf_dir)
    w = (Window.partitionBy("c_nationkey")
         .orderBy(F.col("c_acctbal").desc(), F.col("c_custkey")))
    return (e.table("customer")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("c_nationkey", "c_custkey", "c_acctbal"))


@query(
    "q_sample_hash",
    # Engine-native TABLESAMPLE is nondeterministic across engines, so
    # the portable spelling is a content-hash gate: ~5% (13/256) of rows
    # by the first md5 byte of the key.  This is also the 100 TB-safe
    # sampling idiom — stateless, scan-local, reproducible across runs
    # and engines, no seed coordination between executors.
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '0d'
    """,
)
def q_sample_hash(spark, sf_dir):
    e = eng(spark, sf_dir)
    return (e.table("orders")
            .filter(F.md5(F.col("o_orderkey").cast("string"))
                    .substr(1, 2) < "0d")
            .select("o_orderkey", "o_orderstatus", "o_totalprice"))


_WINDOW_NAV_BODY = """
    SELECT o_orderkey, o_orderstatus,
           FIRST_VALUE(o_orderkey) OVER (
               PARTITION BY o_orderstatus
               ORDER BY o_totalprice, o_orderkey) AS cheapest_key,
           LAST_VALUE(o_orderkey) OVER (
               PARTITION BY o_orderstatus
               ORDER BY o_totalprice, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING
                        AND UNBOUNDED FOLLOWING) AS priciest_key,
           NTH_VALUE(o_orderkey, 2) OVER (
               PARTITION BY o_orderstatus
               ORDER BY o_totalprice, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING
                        AND UNBOUNDED FOLLOWING) AS second_key,
           ROUND(PERCENT_RANK() OVER (
               PARTITION BY o_orderstatus
               ORDER BY o_totalprice, o_orderkey), 6) AS pct_rank,
           ROUND(CUME_DIST() OVER (
               PARTITION BY o_orderstatus
               ORDER BY o_totalprice, o_orderkey), 6) AS cume,
           LEAD(o_orderkey, 1) OVER (
               PARTITION BY o_orderstatus
               ORDER BY o_totalprice, o_orderkey) AS next_key
    FROM orders
    WHERE o_totalprice > 150000
"""


@query("q_window_navigation", oracle=_WINDOW_NAV_BODY)
def q_window_navigation(spark, sf_dir):
    """Navigation-function breadth: FIRST/LAST/NTH_VALUE need the full
    frame spelled out (the SQL-standard default frame stops at CURRENT
    ROW — same rule in both engines); PERCENT_RANK/CUME_DIST are exact
    rationals over a total order, so they hash identically."""
    return eng(spark, sf_dir).sql(_WINDOW_NAV_BODY)


_GREATEST_BODY = """
    SELECT p_partkey,
           GREATEST(p_retailprice, 1000.0) AS price_floor,
           LEAST(p_retailprice, 1500.0) AS price_cap,
           CAST(GREATEST(p_size, 10) AS INT) AS size_floor,
           CAST(LEAST(p_size, 25, 40) AS INT) AS size_cap
    FROM part
"""


@query("q_greatest_least", oracle=_GREATEST_BODY)
def q_greatest_least(spark, sf_dir):
    return eng(spark, sf_dir).sql(_GREATEST_BODY)


# --------------------------------------------------------------------------
# sources / sinks, graded (round 4b): the reference inherits COPY TO /
# read_csv / read_json from host DuckDB (SURVEY.md §0); here each format
# round-trips through sources/io.py and is graded against the DuckDB
# oracle reading the original Parquet — proving the Spark CSV/JSON codecs
# and the partitioned-sink layout are lossless for the fixture types.
# --------------------------------------------------------------------------


def _scratch(sf_dir: str, leaf: str) -> str:
    import os
    import tempfile
    tag = os.path.basename(sf_dir.rstrip("/"))
    return os.path.join(tempfile.gettempdir(), "drpt_sources", tag, leaf)


@query(
    "q_csv_source",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer
    """,
)
def q_csv_source(spark, sf_dir):
    """CSV sink + source round-trip: write the customer table as
    headered CSV, read it back with the EXPLICIT original schema (no
    inference pass — at 100 TB inference is a full extra scan), grade
    against DuckDB reading the original Parquet.  Doubles survive via
    Spark's shortest-round-trip repr; quoting covers embedded commas."""
    from ..sources import io
    pq = get_catalog(spark, sf_dir).table("customer")
    path = _scratch(sf_dir, "customer_csv")
    io.write_csv(pq, path)
    return io.read_csv(spark, path, schema=pq.schema).select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")


@query(
    "q_json_source",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal
    FROM supplier
    """,
)
def q_json_source(spark, sf_dir):
    """JSON-lines sink + source round-trip on the supplier table,
    schema-first read, graded against the Parquet original."""
    from ..sources import io
    pq = get_catalog(spark, sf_dir).table("supplier")
    path = _scratch(sf_dir, "supplier_json")
    io.write_json(pq, path)
    return io.read_json(spark, path, schema=pq.schema).select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal")


@query(
    "q_partitioned_sink",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             AS total
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def q_partitioned_sink(spark, sf_dir):
    """Partitioned-Parquet sink + pruned re-scan: write orders
    partitioned by o_orderstatus (the distributed analogue of the
    reference's zone-map skipping), then aggregate one partition — the
    read-back filter resolves as a PartitionFilter, touching 1 of 3
    directories, which is what directory layout buys at 100 TB."""
    from ..sources import io
    pq = get_catalog(spark, sf_dir).table("orders")
    path = _scratch(sf_dir, "orders_by_status")
    io.write_parquet(pq, path, partition_by=["o_orderstatus"])
    return (spark.read.parquet(path)
            .filter(F.col("o_orderstatus") == "F")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                 .cast("double").alias("total")))
