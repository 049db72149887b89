"""Physical-plan audits: lock in the properties that make the plans
scale — column-pruned scans, predicate pushdown into Parquet, bounded
shuffle counts, broadcast dimension joins, whole-stage codegen.

Correctness tests can't catch a plan regression (a full-width scan
returns the same rows, 50x slower at 100 TB); these can. The analogue
of the reference's EXPLAIN checks (README.md:78: EXPLAIN must show
CREATE_BF/USE_BF).
"""

import re

import pytest

from duckdb_robust_predicate_transfer_spark.workload import QUERIES


def physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def scans(plan: str) -> list:
    """[(file, read_schema_cols)] per FileScan in the plan. Line-based:
    a FileScan prints as one line, and a multi-line regex can jump
    across the '===== Subqueries =====' section (which appears whenever
    Spark's native runtime filter injects a bloom subquery — session-
    order dependent) and stitch together garbage."""
    out = []
    for line in plan.splitlines():
        m = re.search(
            r"FileScan parquet .*?file:[^\]]*/(\w+)\.parquet.*?"
            r"ReadSchema: struct<([^>]*)>", line)
        if m:
            cols = [c.split(":")[0] for c in m.group(2).split(",") if c]
            out.append((m.group(1), cols))
    return out


def n_shuffles(plan: str) -> int:
    return len(re.findall(r"Exchange hashpartitioning", plan))


def test_star_join_scans_are_pruned(spark, sf_dir):
    plan = physical(QUERIES["q_star_join_rpt"](spark, sf_dir))
    per_table = {t: cols for t, cols in scans(plan)}
    # the fact scan must read only the join key + grouped/aggregated
    # columns, never the full 16-column row
    assert set(per_table["lineitem"]) <= {
        "l_orderkey", "l_extendedprice", "l_discount"}
    # the filtered dimension's predicate must reach the parquet reader
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(r_name", plan)


def test_star_join_broadcasts_dimensions(spark, sf_dir):
    plan = physical(QUERIES["q_star_join_rpt"](spark, sf_dir))
    # every dim fits the broadcast threshold at test scale: the only
    # hash shuffle allowed is the final groupBy aggregation
    assert plan.count("BroadcastHashJoin") >= 3
    assert n_shuffles(plan) <= 1
    assert "SortMergeJoin" not in plan


def test_snowflake_agg_stays_in_codegen(spark, sf_dir):
    import contextlib
    import io

    df = QUERIES["q_snowflake_agg"](spark, sf_dir)
    # joins + partial aggregation fuse into whole-stage codegen (the
    # '*'-starred operators in the final AQE plan); no Python evaluation
    # anywhere in the pipeline
    df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    final = buf.getvalue()
    assert "* HashAggregate" in final and "* BroadcastHashJoin" in final, \
        final[:500]
    plan = physical(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2  # map-side partial combine


def test_dedup_exact_single_shuffle(spark, sf_dir):
    plan = physical(QUERIES["q_dedup_exact"](spark, sf_dir))
    # hash-groupBy dedup = partial agg + ONE exchange + final agg
    assert n_shuffles(plan) == 1
    assert plan.count("HashAggregate") >= 2  # map-side partial combine


def test_asof_join_single_window_shuffle(spark, sf_dir):
    plan = physical(QUERIES["q_events_asof"](spark, sf_dir))
    # one shuffle for the as-of window + one for the purchase pre-agg;
    # a range theta join here would be a nested-loop disaster
    assert n_shuffles(plan) <= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_interval_join_avoids_nested_loop(spark, sf_dir):
    plan = physical(QUERIES["q_events_interval_join"](spark, sf_dir))
    # the bucketed rewrite must keep the range join out of
    # nested-loop/cartesian territory
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_topk_group_limit_pushed_below_shuffle(spark, sf_dir):
    plan = physical(QUERIES["q_topk"](spark, sf_dir))
    # per-group top-k must prune BEFORE the shuffle (partial
    # WindowGroupLimit), so each partition ships at most k rows per
    # group instead of its whole slice
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_orderby_limit_uses_take_ordered(spark, sf_dir):
    plan = physical(QUERIES["q_orderby_limit"](spark, sf_dir))
    # global ORDER BY + LIMIT must plan as TakeOrderedAndProject
    # (per-partition heaps + driver merge), never a full Sort
    assert "TakeOrderedAndProject" in plan
    assert n_shuffles(plan) == 0


def test_events_scan_prunes_props(spark, sf_dir):
    plan = physical(QUERIES["q_events_sessionize"](spark, sf_dir))
    for t, cols in scans(plan):
        if t == "events":
            # props (the widest column) is not referenced => not read
            assert "props" not in cols


def test_multimodal_is_the_only_python_surface(spark, sf_dir):
    """Python must appear ONLY in the deliberately-stubbed multimodal
    decode plans (mapInPandas; the portable variant is the same surface
    with an oracle on the deterministic fake). Everything else —
    including the Bloom sketch tier, whose probe is now SQL bit tests —
    stays JVM-side end to end."""
    offenders = []
    for name, fn in QUERIES.items():
        plan = physical(fn(spark, sf_dir))
        if ("EvalPython" in plan or "MapInPandas" in plan
                or "FlatMapGroupsInPandas" in plan):
            offenders.append(name)
    assert sorted(offenders) == [
        "q_multimodal_features", "q_multimodal_features_portable"], offenders


def test_catalyst_order_reads_physical_join_order(spark, sf_dir):
    """physical_alias_order must recover a full permutation from Spark's
    plan, with hash-join build sides (broadcast dims) executing before
    the probed fact — the property the reference's PhysicalDAGDFS
    derives from build-first DFS (rpt_optimizer.cpp:532-545)."""
    from duckdb_robust_predicate_transfer_spark.engine import Engine
    from duckdb_robust_predicate_transfer_spark.plans.catalyst_order import (
        physical_alias_order)

    eng = Engine(spark, sf_dir)
    dfs = {"l": eng.table("lineitem"), "o": eng.table("orders"),
           "c": eng.table("customer")}
    edges = [("l", "o", "l_orderkey", "o_orderkey"),
             ("o", "c", "o_custkey", "c_custkey")]
    order = physical_alias_order(eng.join_all(dfs, edges), dfs)
    assert order is not None and set(order) == {"l", "o", "c"}
    # broadcast build sides (the dims) precede the streamed fact
    assert order[-1] == "l", order


def test_catalyst_order_self_join_falls_back(spark, sf_dir):
    """A self-join re-aliases one side's exprIds; resolution must return
    None (caller falls back to declaration order), never a guess."""
    from duckdb_robust_predicate_transfer_spark.engine import Engine
    from duckdb_robust_predicate_transfer_spark.plans.catalyst_order import (
        physical_alias_order)

    eng = Engine(spark, sf_dir)
    n = eng.table("nation")
    n2 = n.withColumnRenamed("n_nationkey", "n2_nationkey")
    joined = n.join(n2, n.n_regionkey == n2.n_regionkey)
    assert physical_alias_order(joined, {"a": n, "b": n2}) is None


def test_tpch_flagship_plans_are_scale_shaped(spark, sf_dir):
    """The six driver-graded TPC-H shapes must compile to the plan a
    cluster wants: no cartesian blowup ever, dims broadcast at test
    scale (no sort-merge join), and at most the aggregation shuffles.
    Catches regressions where a rewrite or extraction change degrades
    the declared flagship surface."""
    budgets = {  # max Exchange hashpartitioning per query at test SF
        "q_tpch_q5": 1, "q_tpch_q7": 1, "q_tpch_q8": 1,
        "q_tpch_q9": 1, "q_tpch_q18": 3, "q_tpch_q21": 1,
    }
    for name, max_shuffles in budgets.items():
        plan = physical(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "SortMergeJoin" not in plan, name
        assert n_shuffles(plan) <= max_shuffles, (
            f"{name}: {n_shuffles(plan)} shuffles > {max_shuffles}")
        assert plan.count("BroadcastHashJoin") >= 3, name


def test_tpch_partsupp_queries_are_scale_shaped(spark, sf_dir):
    """Q2/Q11 derive partsupp inside the SQL (part x 4-row VALUES):
    the only acceptable nested-loop joins are against 1-row (ns count)
    or 4-row (VALUES) broadcast sides — a true cartesian between data
    tables must never appear, and the derived partsupp must join its
    dims hash-based."""
    for name in ("q_tpch_q2", "q_tpch_q11"):
        df = QUERIES[name](spark, sf_dir)
        plan = physical(df)
        assert "CartesianProduct" not in plan, name
        assert plan.count("BroadcastHashJoin") >= 2, name
        assert df.count() > 0, name


def test_tpch_q5_region_filter_reaches_scan(spark, sf_dir):
    plan = physical(QUERIES["q_tpch_q5"](spark, sf_dir))
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(r_name", plan)


def test_corpus_curation_single_scan_no_python(spark, sf_dir):
    """The curation funnel must compute every gate and the content hash
    in ONE pass over documents (plus the winners' aggregate), entirely
    JVM-side."""
    plan = physical(QUERIES["q_corpus_curation"](spark, sf_dir))
    assert len([t for t, _ in scans(plan) if t == "documents"]) <= 2
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_minmax_skips_non_narrowing_predicates(spark, sf_dir, tmp_path):
    """Footer-range-aware min/max: a build range covering the probe's
    parquet footer range must attach NO predicate (it cannot prune, it
    only costs per-row comparisons); a genuinely narrower build range
    must still attach one."""
    from duckdb_robust_predicate_transfer_spark.catalog import (
        parquet_col_range)
    from duckdb_robust_predicate_transfer_spark.operators.rewrite import (
        _minmax_filter)
    from duckdb_robust_predicate_transfer_spark.plans.ir import TransferOp

    p = str(tmp_path / "probe.parquet")
    spark.range(1000).selectExpr("id AS k", "id AS v") \
        .coalesce(1).write.mode("overwrite").parquet(p)
    assert parquet_col_range(p, "k") == (0, 999)

    probe = spark.read.parquet(p)
    op = TransferOp(build="b", probe="p", build_cols=("k",),
                    probe_cols=("k",), phase="forward")

    full = spark.range(1000).selectExpr("id AS k")  # covers 0..999
    n, pred = _minmax_filter(probe, full, op, probe_path=p)
    assert n == 1000 and pred is None

    narrow = spark.range(100, 200).selectExpr("id AS k")
    n, pred = _minmax_filter(probe, narrow, op, probe_path=p)
    assert n == 100 and pred is not None
    assert probe.where(pred).count() == 100

    # without footer knowledge the predicate attaches either way
    n, pred = _minmax_filter(probe, full, op, probe_path=None)
    assert pred is not None


def test_bloom_probe_stays_in_codegen(spark, sf_dir):
    """The sketch probe must be Spark's might_contain over a scalar
    subquery, fused into the probe side: never a Python eval node (the
    regression that made the sketch bench leg slower than no transfer
    at all) and no nested-loop join. The filter bytes stay in the
    subquery's relation, never inlined as a literal into the plan."""
    import pyspark.sql.functions as F

    from duckdb_robust_predicate_transfer_spark.catalog import get_catalog
    from duckdb_robust_predicate_transfer_spark.operators.bloom import (
        build_bloom, probe_bloom)

    cat = get_catalog(spark, sf_dir)
    orders = cat.table("orders").filter(F.col("o_orderstatus") == "F")
    sk = build_bloom(orders, ["o_orderkey"], est_rows=5000)
    probed = probe_bloom(cat.table("lineitem"), ["l_orderkey"], sk)
    probed.collect()
    plan = physical(probed)
    assert "might_contain(Subquery" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert len(plan) < len(sk.data)


def test_host_broadcast_feedback(spark, sf_dir):
    """The transfer's size knowledge must reach the HOST join: with the
    static broadcast threshold disabled (the 100-TB regime, where a
    filtered dim's footer estimate exceeds any threshold), an enabled
    engine still broadcast-hints the dim in join_all — the off engine
    must NOT (it is the 'extension not loaded' baseline). This is the
    BUCKETED_r04 off-leg pathology: an unhinted filtered dim plans a
    sort-merge join that shuffles the entire upstream join output."""
    from duckdb_robust_predicate_transfer_spark.config import RPTConfig
    from duckdb_robust_predicate_transfer_spark.engine import Engine, Rel

    rels = {"l": Rel("lineitem"), "o": Rel("orders"),
            "c": Rel("customer", "c_mktsegment = 'BUILDING'")}
    edges = [("l", "o", "l_orderkey", "o_orderkey"),
             ("o", "c", "o_custkey", "c_custkey")]
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        on = Engine(spark, sf_dir, RPTConfig())
        plan_on = physical(on.reduce_and_join(rels, edges))
        off = Engine(spark, sf_dir, RPTConfig(enabled=False))
        plan_off = physical(off.reduce_and_join(rels, edges))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" in plan_on
    assert "BroadcastHashJoin" not in plan_off
    assert "SortMergeJoin" in plan_off


def test_host_broadcast_feedback_sql_path(spark, sf_dir):
    """The SQL auto-transfer path must carry the same size feedback:
    shadow views of transfer-reduced relations keep an explicit
    broadcast hint, so the re-analyzed query plans hash joins even when
    the static threshold would force sort-merge."""
    from duckdb_robust_predicate_transfer_spark.config import RPTConfig
    from duckdb_robust_predicate_transfer_spark.engine import Engine

    force = RPTConfig(min_probe_rows=0, require_selective_build=False,
                      backward_min_probe_rows=0, minmax_min_probe_rows=0,
                      persist_min_rows=0, all_broadcast_bail_rows=0,
                      # keep host_broadcast_rows (the hint under test
                      # reads it), so gate 2d must be opted out instead
                      skip_no_exchange_probe=False)
    sql = """
        SELECT o.o_orderpriority, COUNT(*) AS n
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = 'BUILDING'
        GROUP BY o.o_orderpriority
    """
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        e = Engine(spark, sf_dir, force)
        on = e.sql(sql)
        assert e.last_sql_rewritten
        plan_on = physical(on)
        off = Engine(spark, sf_dir, RPTConfig(enabled=False)).sql(sql)
        plan_off = physical(off)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" in plan_on
    assert "BroadcastHashJoin" not in plan_off


def test_bf_benefit_gate_prices_midsize_broadcasts(spark, sf_dir):
    """Gate 2c (r5): a broadcast-tier exact-key build above
    bf_cheap_keys (pre-decay) is skipped unless the probe is
    bf_benefit_probe_ratio times bigger; cheap builds are exempt."""
    from duckdb_robust_predicate_transfer_spark.config import RPTConfig
    from duckdb_robust_predicate_transfer_spark.engine import Engine, Rel

    rels = {"l": "lineitem",
            "o": Rel("orders", "o_orderstatus = 'F'"),
            "c": Rel("customer", "c_mktsegment = 'BUILDING'")}
    edges = [("l", "o", "l_orderkey", "o_orderkey"),
             ("o", "c", "o_custkey", "c_custkey")]
    base = dict(min_probe_rows=0, require_selective_build=False,
                backward_min_probe_rows=0, all_broadcast_bail_rows=0,
                filter_type="bf_only",
                # isolate gate 2c: at sf0.001 every neighbor is
                # broadcastable, so gate 2d would suppress all ops first
                skip_no_exchange_probe=False)

    def applied_probes(cfg):
        e = Engine(spark, sf_dir, cfg)
        e.reduce_and_join(rels, edges).collect()
        return {op.probe for op in e.last_result.applied}

    # every pre-decay estimate is "mid-size" and the probes are never
    # ratio-times bigger => both forward hops priced out
    got = applied_probes(RPTConfig(**base, bf_cheap_keys=1,
                                   bf_benefit_probe_ratio=1e9))
    assert got == set()
    # ratio 0 disables the gate entirely
    got = applied_probes(RPTConfig(**base, bf_benefit_probe_ratio=0.0))
    assert {"l", "o"} <= got
    # cheap builds (high bf_cheap_keys) are exempt from the ratio
    got = applied_probes(RPTConfig(**base, bf_cheap_keys=10**9,
                                   bf_benefit_probe_ratio=1e9))
    assert {"l", "o"} <= got


def test_exchange_benefit_gate_2d(spark, sf_dir):
    """Gate 2d (r6): a broadcast-tier semi into a probe whose every
    other neighbor is itself broadcastable duplicates the final plan's
    broadcast-hash joins (JOB-regime jq1/jq4 at 0.6-0.7x), so it is
    suppressed — unless some neighbor is too big to broadcast (the
    probe then crosses a real exchange), or the probe feeds an anti
    join the edge graph cannot see (Extraction.opaque)."""
    from duckdb_robust_predicate_transfer_spark.config import RPTConfig
    from duckdb_robust_predicate_transfer_spark.engine import Engine, Rel

    rels = {"l": "lineitem",
            "o": Rel("orders", "o_orderstatus = 'F'"),
            "c": Rel("customer", "c_mktsegment = 'BUILDING'")}
    edges = [("l", "o", "l_orderkey", "o_orderkey"),
             ("o", "c", "o_custkey", "c_custkey")]
    base = dict(min_probe_rows=0, require_selective_build=False,
                backward_min_probe_rows=0, all_broadcast_bail_rows=0,
                filter_type="bf_only", bf_benefit_probe_ratio=0.0)

    def applied_probes(cfg):
        e = Engine(spark, sf_dir, cfg)
        e.reduce_and_join(rels, edges).collect()
        return {op.probe for op in e.last_result.applied}

    # sf0.001: every neighbor broadcastable => the TERMINAL probe (l,
    # no forward op builds from it) is suppressed; the intermediate
    # probe (o) survives via the cascade guard — its reduction feeds
    # the (suppressed) downstream op, a deliberate one-op imprecision
    # that keeps Q5-style transitive cascades alive
    assert applied_probes(RPTConfig(**base)) == {"o"}
    # a "too big to broadcast" neighbor (threshold lowered below the
    # fixture sizes) => the probe crosses an exchange, ops kept
    assert {"l", "o"} <= applied_probes(
        RPTConfig(**base, host_broadcast_rows=10))
    # opting the gate out restores every op
    assert {"l", "o"} <= applied_probes(
        RPTConfig(**base, skip_no_exchange_probe=False))

    # opaque probes (anti joins carry no graph edge but ARE exchanges):
    # the same all-broadcastable shape through the SQL path with a NOT
    # EXISTS on the probe must KEEP its transfer
    # two edges (single-edge graphs bail before any gate), all
    # broadcastable at sf0.001
    sql_anti = """
        SELECT COUNT(*) AS n
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_orderstatus = 'F'
          AND c.c_mktsegment = 'BUILDING'
          AND NOT EXISTS (SELECT 1 FROM supplier s
                          WHERE s.s_suppkey = l.l_suppkey)
    """
    sql_plain = """
        SELECT COUNT(*) AS n
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_orderstatus = 'F'
          AND c.c_mktsegment = 'BUILDING'
    """
    cfg = RPTConfig(**base)
    e = Engine(spark, sf_dir, cfg)
    e.sql(sql_anti, auto_rpt=True).collect()
    anti_probes = {op.probe for op in (e.last_result.applied
                                       if e.last_result else [])}
    e2 = Engine(spark, sf_dir, cfg)
    e2.sql(sql_plain, auto_rpt=True).collect()
    plain_probes = {op.probe for op in (e2.last_result.applied
                                        if e2.last_result else [])}
    assert "l" in anti_probes, (
        "opaque (anti-join) terminal probe must keep transfer")
    assert "l" not in plain_probes, (
        "all-broadcast terminal probe must be suppressed")


def test_minmax_clustering_gate(spark, tmp_path):
    """parquet_col_clustering: sorted writes score ~1/num_row_groups,
    hash layouts ~1.0; _probe_clustered gates the eager agg on it."""
    from duckdb_robust_predicate_transfer_spark.catalog import (
        parquet_col_clustering)
    from duckdb_robust_predicate_transfer_spark.operators.rewrite import (
        _probe_clustered)

    sp = str(tmp_path / "sorted.parquet")
    (spark.range(400_000).selectExpr("id AS k")
     .coalesce(1).sortWithinPartitions("k")
     .write.option("parquet.block.size", 262144)
     .mode("overwrite").parquet(sp))
    hp = str(tmp_path / "hashed.parquet")
    (spark.range(400_000)
     .selectExpr("xxhash64(id) % 1000000 AS k")
     .coalesce(1)
     .write.option("parquet.block.size", 262144)
     .mode("overwrite").parquet(hp))

    cs = parquet_col_clustering(sp, "k")
    ch = parquet_col_clustering(hp, "k")
    assert cs is not None and cs < 0.5, cs
    assert ch is not None and ch > 0.9, ch
    assert _probe_clustered(sp, ("k",))
    assert not _probe_clustered(hp, ("k",))
    # unknown layouts (no stats / missing path) must pass
    assert _probe_clustered(None, ("k",))
    assert _probe_clustered(hp, ("nope",))


def test_host_prefiltered_gate_2e(spark, sf_dir):
    """Gate 2e (r7): when the HOST's un-rewritten physical plan already
    inner-broadcast-hash-joins the build into the probe's scan pipeline
    below the probe's first shuffle, a broadcast-tier semi on the same
    pair duplicates that join row for row (TPC-H Q9's part->lineitem at
    x1000) and is suppressed — even though the probe does cross an
    exchange later, which is why gate 2d's graph-only evidence keeps
    it. SQL-path only: the pair evidence is read from the host plan."""
    from duckdb_robust_predicate_transfer_spark.config import RPTConfig
    from duckdb_robust_predicate_transfer_spark.engine import Engine

    # supplier (filtered, tiny) joins lineitem directly: the host plans
    # an inner BHJ right above the lineitem scan. orders is forced
    # "too big to broadcast" via host_broadcast_rows so gate 2d sees a
    # crossed exchange and keeps the op — isolating 2e's suppression.
    sql = """
        SELECT COUNT(*) AS n
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE s.s_nationkey = 1
    """
    base = dict(min_probe_rows=0, require_selective_build=False,
                backward_min_probe_rows=0, all_broadcast_bail_rows=0,
                filter_type="bf_only", bf_benefit_probe_ratio=0.0,
                broadcast_key_rows=500, host_broadcast_rows=10,
                max_build_keep_frac=1.0)

    def run(cfg):
        e = Engine(spark, sf_dir, cfg)
        rows = e.sql(sql, auto_rpt=True).collect()
        probes = {op.probe for op in (e.last_result.applied
                                      if e.last_result else [])}
        return rows, probes

    rows_on, probes_on = run(RPTConfig(**base))
    rows_off, probes_off = run(
        RPTConfig(**base, skip_host_prefiltered_semi=False))
    assert "l" in probes_off, "without 2e the broadcast semi applies"
    assert "l" not in probes_on, (
        "host-prefiltered pair must be suppressed by gate 2e")
    assert rows_on == rows_off

    # the pair evidence itself: supplier joins lineitem below its first
    # exchange; via the orders edge lineitem IS exchanged afterwards
    from duckdb_robust_predicate_transfer_spark.plans.catalyst_order import (
        scan_prefilter_pairs)

    e = Engine(spark, sf_dir)
    e.catalog.register_views()
    df = spark.sql(sql)
    pairs = scan_prefilter_pairs(
        df, {"l": e.catalog.path("lineitem"),
             "s": e.catalog.path("supplier"),
             "o": e.catalog.path("orders")})
    assert pairs is not None
    ls = [(p, b, k) for p, b, k in pairs if (p, b) == ("l", "s")]
    assert ls, pairs
    # the host BHJ's probe-side key names must cover the edge column
    # (ADVICE r7: gate 2e only suppresses when the host join provably
    # filters on the semi's own keys)
    assert all(k is None or "l_suppkey" in k for _, _, k in ls), ls
