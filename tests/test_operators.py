"""Operator-level tests: bloom sketch tier, dedup, similarity,
multimodal plumbing."""

import pyspark.sql.functions as F
import pytest

from duckdb_robust_predicate_transfer_spark.catalog import get_catalog


def test_bloom_no_false_negatives(spark, sf_dir):
    from duckdb_robust_predicate_transfer_spark.operators.bloom import (
        build_bloom, probe_bloom)

    cat = get_catalog(spark, sf_dir)
    orders = cat.table("orders").filter(F.col("o_orderstatus") == "F")
    li = cat.table("lineitem")
    bloom = build_bloom(orders, ["o_orderkey"], est_rows=5000)
    filtered = probe_bloom(li, ["l_orderkey"], bloom)

    exact = li.join(orders.select(F.col("o_orderkey").alias("l_orderkey")),
                    "l_orderkey", "left_semi")
    n_exact, n_bloom, n_all = exact.count(), filtered.count(), li.count()
    # Bloom may keep extra rows (false positives) but must never drop a
    # true match, and must actually filter something
    assert n_exact <= n_bloom <= n_all
    assert n_bloom < n_all
    # with ~12 bits/key sizing the FP overshoot should be tiny
    assert n_bloom - n_exact < max(50, 0.02 * n_all)


def test_bloom_resize_on_underestimate(spark, sf_dir):
    """The reference rehashes into a bigger filter when the observed
    build cardinality overflows the allocation (physical_create_bf.cpp:
    385-406); build_bloom must do the same on a bad estimate AND stay
    false-negative-free."""
    from duckdb_robust_predicate_transfer_spark.operators.bloom import (
        _size_bits, build_bloom, probe_bloom)

    cat = get_catalog(spark, sf_dir)
    orders = cat.table("orders")
    n_orders = orders.count()
    bloom = build_bloom(orders, ["o_orderkey"], est_rows=10)  # 1000x off
    # resized to the observed cardinality, not the bogus estimate
    assert len(bloom) * 8 >= _size_bits(n_orders)
    li = cat.table("lineitem")
    n_bloom = probe_bloom(li, ["l_orderkey"], bloom).count()
    n_exact = li.join(
        orders.select(F.col("o_orderkey").alias("l_orderkey")),
        "l_orderkey", "left_semi").count()
    assert n_bloom >= n_exact


def test_bloom_probe_without_arrow(spark, sf_dir):
    """Driver-parity regression (r4 red row): the harness session does
    NOT enable spark.sql.execution.arrow.pyspark.enabled, so the filter
    handoff must build and probe with Arrow off as well."""
    from duckdb_robust_predicate_transfer_spark.operators.bloom import (
        build_bloom, probe_bloom)

    cat = get_catalog(spark, sf_dir)
    orders = cat.table("orders").filter(F.col("o_orderstatus") == "F")
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        bloom = build_bloom(orders, ["o_orderkey"], est_rows=5000)
        li = cat.table("lineitem")
        n_bloom = probe_bloom(li, ["l_orderkey"], bloom).count()
    finally:
        spark.conf.set(key, prev)
    n_exact = li.join(
        orders.select(F.col("o_orderkey").alias("l_orderkey")),
        "l_orderkey", "left_semi").count()
    assert n_exact <= n_bloom < li.count()


def test_bloom_empty_build(spark, sf_dir):
    """Spark's bloom_filter_agg returns NULL on empty input: the sketch
    reports zero rows and its probe keeps none, without ever reading
    filter bytes."""
    from duckdb_robust_predicate_transfer_spark.operators.bloom import (
        build_bloom, probe_bloom)

    cat = get_catalog(spark, sf_dir)
    empty = cat.table("orders").filter(F.col("o_orderkey") < 0)
    bloom = build_bloom(empty, ["o_orderkey"], est_rows=5000,
                        stat_cols=["o_orderkey"])
    assert bloom.n_rows == 0 and bloom.data is None
    assert bloom.ranges == {}
    assert probe_bloom(cat.table("lineitem"), ["l_orderkey"],
                       bloom).count() == 0


def test_bloom_missing_catalyst_class_is_named(spark):
    """bloom.py builds Spark's filter expressions in one place; if a
    Spark upgrade moves a class, the error names it."""
    from duckdb_robust_predicate_transfer_spark.operators.bloom import (
        _catalyst)

    missing = "org.apache.spark.sql.catalyst.expressions.NoSuchBloomFilter"
    with pytest.raises(RuntimeError, match=missing):
        _catalyst(spark, missing, F.lit(1))


def test_bloom_build_leaves_caller_caps(spark, sf_dir, conf_set):
    """Spark caps every filter at runtime.bloomFilter.maxNumBits and
    maxNumItems. The build lifts both in a clone of the session, so a
    caller capped at 4096 bits still gets the sizing rule's filter,
    with the same accuracy as test_bloom_no_false_negatives, and
    reads its own caps back unchanged."""
    from duckdb_robust_predicate_transfer_spark.operators.bloom import (
        _size_bits, build_bloom, probe_bloom)

    bits = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    items = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    cat = get_catalog(spark, sf_dir)
    orders = cat.table("orders").filter(F.col("o_orderstatus") == "F")
    li = cat.table("lineitem")
    with conf_set(bits, "4096"):
        prev_items = spark.conf.get(items)
        sk = build_bloom(orders, ["o_orderkey"], est_rows=5000)
        assert len(sk) * 8 == _size_bits(5000)
        n_bloom = probe_bloom(li, ["l_orderkey"], sk).count()
        assert spark.conf.get(bits) == "4096"
        assert spark.conf.get(items) == prev_items
    n_exact = li.join(orders.select(F.col("o_orderkey").alias("l_orderkey")),
                      "l_orderkey", "left_semi").count()
    n_all = li.count()
    assert n_exact <= n_bloom < n_all
    assert n_bloom - n_exact < max(50, 0.02 * n_all)


def test_bloom_sketch_transfer_config(spark, sf_dir):
    """use_sketch end-to-end through Engine.reduce must preserve results."""
    from duckdb_robust_predicate_transfer_spark.config import RPTConfig
    from duckdb_robust_predicate_transfer_spark.engine import Engine, Rel

    rels = {"l": "lineitem",
            "o": Rel("orders", "o_orderstatus = 'F'"),
            "c": "customer"}
    edges = [("l", "o", "l_orderkey", "o_orderkey"),
             ("o", "c", "o_custkey", "c_custkey")]
    cols = ["l_orderkey", "l_linenumber"]
    off = Engine(spark, sf_dir, RPTConfig(enabled=False))
    sketch = Engine(spark, sf_dir, RPTConfig(
        use_sketch=True, sketch_threshold_rows=0, filter_type="bf_only",
        min_probe_rows=0, require_selective_build=False,
        all_broadcast_bail_rows=0))
    a = sorted(tuple(r) for r in off.reduce_and_join(rels, edges).select(*cols).collect())
    b = sorted(tuple(r) for r in sketch.reduce_and_join(rels, edges).select(*cols).collect())
    assert a == b


def test_forced_sketch_tier_replaces_semi_join(spark, sf_dir):
    """A build forced onto the sketch tier (``use_sketch`` at threshold
    0, every build over the broadcast ceiling) lands Spark's
    might_contain filter instead of a shuffled key-set semi join, and
    results match off."""
    from duckdb_robust_predicate_transfer_spark.config import RPTConfig
    from duckdb_robust_predicate_transfer_spark.engine import Engine, Rel

    rels = {"l": "lineitem",
            "o": Rel("orders", "o_orderstatus = 'F'"),
            "c": "customer"}
    edges = [("l", "o", "l_orderkey", "o_orderkey"),
             ("o", "c", "o_custkey", "c_custkey")]
    cols = ["l_orderkey", "l_linenumber"]
    off = Engine(spark, sf_dir, RPTConfig(enabled=False))
    # broadcast_key_rows=1 forces every build over the broadcast ceiling
    sketch = Engine(spark, sf_dir, RPTConfig(
        use_sketch=True, sketch_threshold_rows=0, broadcast_key_rows=1,
        filter_type="bf_only", min_probe_rows=0,
        require_selective_build=False, all_broadcast_bail_rows=0,
        max_build_keep_frac=1.0))
    a = sorted(tuple(r)
               for r in off.reduce_and_join(rels, edges).select(*cols).collect())
    joined = sketch.reduce_and_join(rels, edges)
    b = sorted(tuple(r) for r in joined.select(*cols).collect())
    assert a == b
    plan = joined._jdf.queryExecution().optimizedPlan().toString()
    assert "might_contain" in plan       # the filter reached the scan
    assert "LeftSemi" not in plan        # no shuffled key-set semi join


def test_redundant_shuffle_semi_skipped_on_degree1_probe(spark, sf_dir):
    """A shuffle-tier semi never saves an exchange of its probe (gate
    2b3): it must be skipped unless the probe has a DIFFERENT-key edge
    to a non-broadcastable neighbor whose final join would shuffle the
    probe again. Degree-1 probes (Q3/Q10-at-x1000 shape) are the
    special case; the r6 A/B generalized it to every probe whose other
    joins are all broadcast (Q5/Q7/Q8 at x1000). host_broadcast_rows=0
    here marks every neighbor as shuffle-join-able (no host hints), so
    the degree-2 'o' probe keeps its hop while degree-1 'l' loses it."""
    from duckdb_robust_predicate_transfer_spark.config import RPTConfig
    from duckdb_robust_predicate_transfer_spark.engine import Engine, Rel

    rels = {"l": "lineitem",
            "o": Rel("orders", "o_orderstatus = 'F'"),
            "c": Rel("customer", "c_custkey % 2 = 0")}
    edges = [("l", "o", "l_orderkey", "o_orderkey"),
             ("o", "c", "o_custkey", "c_custkey")]
    base = dict(broadcast_key_rows=1, filter_type="bf_only",
                min_probe_rows=0, require_selective_build=False,
                all_broadcast_bail_rows=0, max_build_keep_frac=1.0,
                observe_est_factor=0.0, host_broadcast_rows=0,
                sketch_rescue=False)  # gate 2f tested separately

    on = Engine(spark, sf_dir, RPTConfig(**base))
    on.reduce(rels, edges)
    # 'l' has one neighbor -> the o->l shuffle semi is redundant; the
    # c->o hop stays ('o' joins both c and l, and with host hints off
    # the o<->l join counts as a second exchange the semi can shrink)
    probes_on = {op.probe for op in on.last_result.applied}
    assert "l" not in probes_on and "o" in probes_on

    # with host broadcast hints ON and every neighbor broadcastable at
    # this SF, the generalized gate prices ZERO exchanges saved and
    # skips the shuffle tier entirely (the r6 x1000 finding)
    hb = Engine(spark, sf_dir, RPTConfig(**{**base,
                                            "host_broadcast_rows":
                                            1_000_000}))
    hb.reduce(rels, edges)
    assert not [op for op in hb.last_result.applied
                if op.probe in ("l", "o")]

    off = Engine(spark, sf_dir,
                 RPTConfig(skip_redundant_shuffle_semi=False, **base))
    off.reduce(rels, edges)
    assert "l" in {op.probe for op in off.last_result.applied}

    a = sorted(tuple(r) for r in Engine(
        spark, sf_dir, RPTConfig(enabled=False)).reduce_and_join(
            rels, edges).select("l_orderkey", "l_linenumber").collect())
    b = sorted(tuple(r) for r in Engine(
        spark, sf_dir, RPTConfig(**base)).reduce_and_join(
            rels, edges).select("l_orderkey", "l_linenumber").collect())
    assert a == b


def test_sketch_rescue_subtree_hop(spark, sf_dir):
    """Gate 2f: a forward shuffle-tier hop that gate 2b3 would drop is
    rescued scan-locally when the build's lineage is scan-local and
    downstream mass repays the eager jobs — the reference's
    forward-pass-over-reduced-rows semantics (rpt_optimizer.cpp:
    884-937), which is how transitive selectivity reaches a fact
    through a huge intermediate (JOB jq10/jq11/jq13 vs native's
    subtree blooms). The observed cardinality picks the tier: exact
    broadcast when it fits, scan-fused bloom when it doesn't."""
    from duckdb_robust_predicate_transfer_spark.config import RPTConfig
    from duckdb_robust_predicate_transfer_spark.engine import Engine, Rel

    # c (selective) -> o (unfiltered mid) -> l (fact): o->l is the
    # rescue candidate — degree-1 probe, so 2b3 prices zero exchanges.
    # Keys are STRING-cast (the JOB-fixture shape): the rescue's repay
    # is the probe join's per-row string cost, so the string-key
    # conditioning (r8) only admits string/binary probe keys.
    def rels_edges(sp):
        l = sp.read.parquet(f"{sf_dir}/lineitem.parquet").withColumn(
            "l_okey_s", F.col("l_orderkey").cast("string"))
        o = (sp.read.parquet(f"{sf_dir}/orders.parquet")
             .withColumn("o_okey_s", F.col("o_orderkey").cast("string"))
             .withColumn("o_ckey_s", F.col("o_custkey").cast("string")))
        c = sp.read.parquet(f"{sf_dir}/customer.parquet").withColumn(
            "c_ckey_s", F.col("c_custkey").cast("string"))
        rels = {"l": Rel("lineitem", df=l), "o": Rel("orders", df=o),
                "c": Rel("customer", "c_custkey % 50 = 0", df=c)}
        edges = [("l", "o", "l_okey_s", "o_okey_s"),
                 ("o", "c", "o_ckey_s", "c_ckey_s")]
        return rels, edges

    rels, edges = rels_edges(spark)
    base = dict(broadcast_key_rows=8, filter_type="bf_only",
                min_probe_rows=0, require_selective_build=True,
                all_broadcast_bail_rows=0, pass_mode="forward_only",
                host_broadcast_rows=0)

    def run(cfg, rl=None, ed=None):
        e = Engine(spark, sf_dir, cfg)
        red = e.reduce(rl or rels, ed or edges, cfg)
        return e, red

    # c observes to ~3 rows (broadcast semi, o stays scan-local); the
    # reduced o then observes above broadcast_key_rows -> bloom tier
    e, red = run(RPTConfig(**base))
    probes = {op.probe for op in e.last_result.applied}
    assert "o" in probes and "l" in probes
    plan_l = red["l"]._jdf.queryExecution().analyzed().toString()
    assert "xxhash64" in plan_l, "rescued hop must be a scan-fused bloom"

    # rescued results == baseline (bloom false positives are dropped by
    # the final join; the reduction itself must lose no rows)
    cols = ["l_orderkey", "l_linenumber"]
    a = sorted(tuple(r) for r in Engine(
        spark, sf_dir, RPTConfig(enabled=False)).reduce_and_join(
            rels, edges).select(*cols).collect())
    b = sorted(tuple(r) for r in Engine(
        spark, sf_dir, RPTConfig(**base)).reduce_and_join(
            rels, edges).select(*cols).collect())
    assert a == b

    # string-key conditioning: the SAME chain on bare INTEGER keys must
    # refuse the rescue — an eager bloom over an integer-key probe
    # forfeits AQE and repays nothing (r8 x1000 regression: Q7
    # 2.8x -> 0.89x from unconditioned orders->lineitem rescues)
    int_rels = {"l": "lineitem", "o": "orders",
                "c": Rel("customer", "c_custkey % 50 = 0")}
    int_edges = [("l", "o", "l_orderkey", "o_orderkey"),
                 ("o", "c", "o_custkey", "c_custkey")]
    e_int, _ = run(RPTConfig(**base), rl=int_rels, ed=int_edges)
    assert "l" not in {op.probe for op in e_int.last_result.applied}, \
        "integer-key probe must not be rescued (string-key conditioning)"

    # scan-local guard: force c's semi into the shuffle tier (no
    # observation anywhere — gate 2g's weak-build count would broadcast
    # c too) — o's lineage now carries an exchange, rescue must refuse
    # (the r6 sketch-regime Q7 lesson)
    e2, _ = run(RPTConfig(**{**base, "observe_est_factor": 0.0,
                             "weak_observe_max_base": 0}))
    assert "l" not in {op.probe for op in e2.last_result.applied}

    # downstream-weight guard: an absurd factor refuses the rescue
    e3, _ = run(RPTConfig(**{**base, "sketch_rescue_probe_factor": 1e9}))
    assert "l" not in {op.probe for op in e3.last_result.applied}

    # master switch
    e4, _ = run(RPTConfig(**{**base, "sketch_rescue": False}))
    assert "l" not in {op.probe for op in e4.last_result.applied}


def test_weak_build_observation_gate2g(spark, sf_dir):
    """Gate 2g: a dim-sized build whose LOCAL filter keeps >=
    max_build_keep_frac of its base (observed, not guessed — the fixed
    0.2 decay cannot tell an all-pass LIKE from a 1% prefix) is dropped
    on every tier; selective builds pass and their exact counts feed
    later gates. JOB_REGIME_r08's jq17 (100%-keep company, 0.73x) and
    jq23 (70%-keep country IN-list) are the motivating losses."""
    from duckdb_robust_predicate_transfer_spark.config import RPTConfig
    from duckdb_robust_predicate_transfer_spark.engine import Engine, Rel

    edges = [("l", "o", "l_orderkey", "o_orderkey"),
             ("o", "c", "o_custkey", "c_custkey")]
    base = dict(min_probe_rows=0, all_broadcast_bail_rows=0,
                host_broadcast_rows=0)

    def run(filt, **kw):
        e = Engine(spark, sf_dir, RPTConfig(**base, **kw))
        e.reduce({"l": "lineitem", "o": "orders",
                  "c": Rel("customer", filt)}, edges, e.config)
        return e.last_result

    weak = "c_custkey % 10 < 8"      # keeps ~80% of customers
    strong = "c_custkey % 50 = 0"    # keeps ~2%

    def applied(r):
        return [(o.build, o.probe) for o in r.applied]

    # weak build, bounds admit the base -> observed and dropped
    r = run(weak, weak_observe_min_base=0)
    assert ("c", "o") not in applied(r) and r.drops.get("gate2g"), \
        (r.applied, r.drops)
    # selective build under the same bounds -> op applies
    r2 = run(strong, weak_observe_min_base=0)
    assert ("c", "o") in applied(r2), (r2.applied, r2.drops)
    # base below the min bound -> not worth the count job, op applies
    r3 = run(weak)  # default min 64k >> sf0.001 customer base
    assert ("c", "o") in applied(r3), (r3.applied, r3.drops)
    # master switch
    r4 = run(weak, weak_observe_min_base=0, weak_observe_max_base=0)
    assert ("c", "o") in applied(r4), (r4.applied, r4.drops)
    # ADVICE r9: the keep-frac drop must price only builds gate 2g
    # ITSELF observed — a build observed via gate 0b's near-boundary
    # tiering (est > broadcast_key_rows, observed back under it) kept
    # its op in r8 and must keep it whether 2g is disabled (master
    # switch) or enabled (separate observed_weak set)
    nb = dict(broadcast_key_rows=25, max_build_keep_frac=0.1)
    # c_custkey % 20 < 3 keeps 24/150 customers: guess 30 > 25 -> 0b
    # observes -> 24 <= 25 re-tiers broadcast; 24 >= 0.1*150 is "weak"
    r5 = run("c_custkey % 20 < 3", weak_observe_max_base=0, **nb)
    assert ("c", "o") in applied(r5), (r5.applied, r5.drops)
    r6 = run("c_custkey % 20 < 3", **nb)  # 2g enabled, base < min bound
    assert ("c", "o") in applied(r6), (r6.applied, r6.drops)


#: every gate a decision can reach on estimates alone (gate2g and noop
#: need an observed count)
ESTIMATE_GATES = {"info", "native", "gate2", "gate2b", "gate3", "gate2b3",
                  "gate2c", "dup", "gate3a", "gate4"}


def test_dry_run_matches_real_pass_on_gate_fixtures(spark, sf_dir):
    """One gate stack, one table: hand-set estimates that fire each
    estimate-only gate of decide() through apply_transfer, the real
    pass, and take each probe-big sketch route. Each row names the
    landing tier or the dropping gate of every scheduled op."""
    from duckdb_robust_predicate_transfer_spark.config import (
        DEFAULT, RPTConfig)
    from duckdb_robust_predicate_transfer_spark.engine import Engine
    from duckdb_robust_predicate_transfer_spark.operators.rewrite import (
        apply_transfer)
    from duckdb_robust_predicate_transfer_spark.plans.ir import (
        TransferOp, TransferPlan)

    fired = set()
    e = Engine(spark, sf_dir, RPTConfig(enabled=False))
    dfs = {"rg": e.table("region").filter("r_name = 'ASIA'"),
           "n": e.table("nation"), "c": e.table("customer"),
           "o": e.table("orders"), "l": e.table("lineitem")}
    cols = {("rg", "n"): ("r_regionkey", "n_regionkey"),
            ("n", "rg"): ("n_regionkey", "r_regionkey"),
            ("n", "c"): ("n_nationkey", "c_nationkey"),
            ("c", "o"): ("c_custkey", "o_custkey"),
            ("o", "l"): ("o_orderkey", "l_orderkey")}
    base = dict(filter_type="bf_only", observe_est_factor=0.0,
                weak_observe_max_base=0, all_broadcast_bail_rows=0)

    def case(ops, rows_est, filtered, expect, cfg=None, **evidence):
        plan = TransferPlan(root=ops[-1][1], ops=[
            TransferOp(b, p, (cols[b, p][0],), (cols[b, p][1],), ph)
            for b, p, ph in ops])
        cfg = RPTConfig(**{**base, **(cfg or {})})
        real = apply_transfer(dfs, dict(rows_est), filtered, plan, cfg,
                              **evidence).decisions
        assert [d.gate or d.tier for d in real] == expect, real
        fired.update(d.gate for d in real)
        return real

    fw, bw = "forward", "backward"
    # cascade lands; its backward echo carries no information
    case([("rg", "n", fw), ("n", "c", fw), ("n", "rg", bw)],
         {"rg": 1, "n": 25, "c": 150}, {"rg"},
         ["exact_broadcast", "exact_broadcast", "info"])
    # a native bloom of the original plan covers the edge: the op drops
    # before any gate that could observe a count
    case([("c", "o", fw)], {"c": 10, "o": 1e8}, {"c"}, ["native"],
         native_edges={("o", "o_custkey", "c")})
    # ...but lands when its build is already reduced: it ships reduced
    # keys a bloom from the bare nation scan cannot
    case([("rg", "n", fw), ("n", "c", fw)], {"rg": 1, "n": 25, "c": 150},
         {"rg"}, ["exact_broadcast", "exact_broadcast"],
         native_edges={("c", "c_nationkey", "n")})
    # ...and when its probe feeds a later forward op no bloom covers;
    # with that op covered too (nation filtered, so it carries
    # information of its own), the whole cascade drops: the cession
    case([("rg", "n", fw), ("n", "c", fw)], {"rg": 1, "n": 25, "c": 150},
         {"rg"}, ["exact_broadcast", "exact_broadcast"],
         native_edges={("n", "n_regionkey", "rg")})
    # ...and when that later op then drops anyway (bucketed edge), the
    # reach was never carried: the covered op drops after all
    case([("rg", "n", fw), ("n", "c", fw)], {"rg": 1, "n": 25, "c": 150},
         {"rg"}, ["native", "gate4"],
         native_edges={("n", "n_regionkey", "rg")},
         colocated={"n": frozenset({"n_nationkey"}),
                    "c": frozenset({"c_nationkey"})})
    case([("rg", "n", fw), ("n", "c", fw)], {"rg": 1, "n": 25, "c": 150},
         {"rg", "n"}, ["native", "native"],
         native_edges={("n", "n_regionkey", "rg"),
                       ("c", "c_nationkey", "n")})
    # an unfiltered, never-reduced build only removes FK orphans: under
    # DEFAULT its information set is empty, so the info gate drops it
    # before any size gate is read
    plan = TransferPlan(root="l", ops=[
        TransferOp("o", "l", ("o_orderkey",), ("l_orderkey",), fw)])
    (d,) = apply_transfer(dfs, {"o": 6e7, "l": 1e9}, set(), plan,
                          DEFAULT).decisions
    assert d.gate == "info", d
    # shuffle-tier build into a small probe / into a probe it cannot
    # shrink much
    case([("c", "o", fw)], {"c": 3e6, "o": 10}, {"c"}, ["gate2"])
    r = case([("c", "o", fw)], {"c": 3e6, "o": 1e8}, {"c"}, ["gate2b"],
             rows_base={"c": 4e6})
    assert (r[0].value, r[0].threshold) == (3e6, 2e6)
    # shuffle semi that saves no exchange (integer keys: no rescue);
    # with a second big neighbor it lands shuffled
    nbr = {"o": [("c", ("o_custkey",))]}
    case([("c", "o", fw)], {"c": 3e6, "o": 1e8}, {"c"}, ["gate2b3"],
         rows_base={"c": 1e9}, neighbor_edges=nbr)
    case([("c", "o", fw)], {"c": 3e6, "o": 1e8, "l": 1e9}, {"c"},
         ["exact_shuffle"], rows_base={"c": 1e9},
         neighbor_edges={"o": nbr["o"] + [("l", ("o_orderkey",))]})
    # mid-size broadcast key set into a probe that does not dwarf it
    r = case([("c", "o", fw)], {"c": 1e6, "o": 1e6}, {"c"}, ["gate2c"])
    assert (r[0].value, r[0].threshold) == (1e6, 8e6)
    # dup, by the edge graph (every other neighbor broadcasts) and by
    # the host plan (the host pre-filters the pair)
    case([("c", "o", fw)], {"c": 10, "o": 1e5, "l": 100}, {"c"}, ["dup"],
         neighbor_edges={"o": [("c", ("o_custkey",)),
                               ("l", ("o_orderkey",))]})
    case([("c", "o", fw)], {"c": 10, "o": 3e7}, {"c"}, ["dup"],
         host_prefiltered={("o", "c", None)})
    # backward hops: a probe at or below the host broadcast floor drops,
    # one just above it lands; a shuffle-tier build drops at 3a
    case([("c", "o", bw)], {"c": 10, "o": 100}, {"c"}, ["gate3"])
    r = case([("c", "o", bw)], {"c": 10, "o": 1e6}, {"c"}, ["gate3"])
    assert (r[0].value, r[0].threshold) == (1e6, 1e6)
    case([("c", "o", bw)], {"c": 10, "o": 1e6 + 1}, {"c"},
         ["exact_broadcast"])
    case([("c", "o", bw)], {"c": 3e6, "o": 1e8}, {"c"}, ["gate3a"])
    # both endpoints bucketed on the edge's keys
    case([("c", "o", fw)], {"c": 10, "o": 1e8}, {"c"}, ["gate4"],
         colocated={"c": frozenset({"c_custkey"}),
                    "o": frozenset({"o_custkey"})})

    assert ESTIMATE_GATES <= fired, ESTIMATE_GATES - fired

    # backward rescue (gate 2f): the pass counts the build and re-tiers
    # on the count
    sk = {a: dfs[a].withColumn(f"{a}_key_s", F.col(k).cast("string"))
          for a, k in (("c", "c_custkey"), ("o", "o_custkey"))}
    plan = TransferPlan(root="o", ops=[
        TransferOp("c", "o", ("c_key_s",), ("o_key_s",), bw)])
    ev = dict(rows_base={"c": 1e7, "o": 1e8},
              neighbor_edges={"o": [("c", ("o_key_s",))]})
    rows = {"c": 3e6, "o": 1e8}
    # no backward floor or edge-graph dup, no probe-side bitmap
    # escalation
    cfg = RPTConfig(**base, host_broadcast_rows=0, bloom_probe_min_rows=0)
    (real,) = apply_transfer(sk, dict(rows), {"c"}, plan, cfg,
                             **ev).decisions
    assert real.tier == "exact_broadcast" and real.observed, real
    assert real.value == 150  # sf0.001 customer rows, counted

    # probe-big sketch routes (config.bloom_probe_min_rows): a string-key
    # probe at or above the bar takes the bloom tier, both where gate 2c
    # would drop a mid-size build (pre-decay build above bf_cheap_keys,
    # probe under bf_benefit_probe_ratio x build) and for a small
    # broadcast-tier build; without the escalation the same ops drop at
    # 2c / land exact
    fwd = TransferPlan(root="o", ops=[
        TransferOp("c", "o", ("c_key_s",), ("o_key_s",), fw)])

    def decided(rows, cfg):
        (real,) = apply_transfer(sk, dict(rows), {"c"}, fwd,
                                 cfg).decisions
        return real.gate or real.tier

    for rows, unescalated in (({"c": 1.5e6, "o": 1e7}, "gate2c"),
                              ({"c": 10, "o": 1e7}, "exact_broadcast")):
        cfg = RPTConfig(**base)
        assert rows["o"] >= cfg.bloom_probe_min_rows
        assert decided(rows, cfg) == "sketch"
        assert decided(rows, RPTConfig(**base, bloom_probe_min_rows=0)) \
            == unescalated


def test_dry_run_keeps_reach_past_minmax_only_landing(spark, sf_dir):
    """A hop whose key tier gate 2c suppresses still lands its min/max
    range, which marks the probe reduced and merges what it knows — so
    the later hop built from that probe survives the information gate
    and the pass reaches the root."""
    from duckdb_robust_predicate_transfer_spark.config import RPTConfig
    from duckdb_robust_predicate_transfer_spark.engine import Engine
    from duckdb_robust_predicate_transfer_spark.operators.rewrite import (
        apply_transfer)
    from duckdb_robust_predicate_transfer_spark.plans.ir import (
        TransferOp, TransferPlan)

    e = Engine(spark, sf_dir, RPTConfig(enabled=False))
    dfs = {"rg": e.table("region").filter("r_name = 'ASIA'"),
           "n": e.table("nation"), "c": e.table("customer")}
    plan = TransferPlan(root="c", ops=[
        TransferOp("rg", "n", ("r_regionkey",), ("n_regionkey",)),
        TransferOp("n", "c", ("n_nationkey",), ("c_nationkey",))])
    cfg = RPTConfig(minmax_min_probe_rows=0, bf_cheap_keys=0,
                    bf_benefit_probe_ratio=100.0, observe_est_factor=0.0,
                    weak_observe_max_base=0)
    rows_est = {"rg": 1.0, "n": 25.0, "c": 1e6}

    res = apply_transfer(dfs, dict(rows_est), {"rg"}, plan, cfg)
    assert res.applied_tiers == ["minmax", "exact_broadcast"], res.decisions
    assert res.decisions[0].suppressed == "gate2c", res.decisions
    assert [(d.op.probe, d.tier) for d in res.decisions] == [
        ("n", "minmax"), ("c", "exact_broadcast")], res.decisions


def test_exact_dedup_keeps_one_per_hash(spark, sf_dir):
    from duckdb_robust_predicate_transfer_spark.operators.dedup import (
        exact_dedup)

    docs = get_catalog(spark, sf_dir).table("documents")
    # duplicate every doc under a shifted id; dedup must halve it
    doubled = docs.union(
        docs.withColumn("doc_id", F.col("doc_id") + 1_000_000))
    kept = exact_dedup(doubled, "doc_id")
    assert kept.count() == docs.count()
    assert kept.agg(F.max("doc_id")).collect()[0][0] < 1_000_000


def test_minhash_finds_prefix_duplicates(spark, sf_dir):
    from duckdb_robust_predicate_transfer_spark.operators.dedup import (
        minhash_lsh_pairs)

    docs = get_catalog(spark, sf_dir).table("documents")
    # plant an exact duplicate pair
    dup = docs.limit(1).withColumn("doc_id", F.lit(9_999_999))
    pairs = minhash_lsh_pairs(docs.union(dup), "doc_id",
                              min_est_jaccard=0.9)
    hits = {(r.id_a, r.id_b) for r in pairs.collect()}
    first_id = docs.limit(1).collect()[0].doc_id
    assert (first_id, 9_999_999) in hits


def test_lsh_topk_recall(spark, sf_dir):
    from duckdb_robust_predicate_transfer_spark.operators.similarity import (
        brute_force_topk, lsh_topk)

    emb = get_catalog(spark, sf_dir).table("embeddings")
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 0).collect()[0].embedding]
    corpus = emb.filter(F.col("vec_id") != 0)
    exact = [r.vec_id for r in brute_force_topk(corpus, qv, k=10).collect()]
    approx = [r.vec_id for r in
              lsh_topk(corpus, qv, k=10, n_planes=16, n_bands=8).collect()]
    # loose-banded LSH on this corpus should recover most of the top-10
    assert len(set(exact) & set(approx)) >= 6


def test_multimodal_feature_determinism(spark, sf_dir):
    from duckdb_robust_predicate_transfer_spark.operators.multimodal import (
        documents_as_assets, extract_features)

    docs = get_catalog(spark, sf_dir).table("documents").limit(20)
    assets = documents_as_assets(docs)
    f1 = {r.asset_id: tuple(r.feature)
          for r in extract_features(assets).collect()}
    f2 = {r.asset_id: tuple(r.feature)
          for r in extract_features(assets).collect()}
    assert f1 == f2
    assert all(len(v) == 8 for v in f1.values())


def test_simhash_identical_docs_zero_hamming(spark, sf_dir):
    from duckdb_robust_predicate_transfer_spark.operators.dedup import (
        simhash_pairs)

    docs = get_catalog(spark, sf_dir).table("documents")
    dup = docs.limit(1).withColumn("doc_id", F.lit(9_999_999))
    pairs = simhash_pairs(docs.union(dup), "doc_id", max_hamming=0)
    first_id = docs.limit(1).collect()[0].doc_id
    assert {(r.id_a, r.id_b, r.hamming) for r in pairs.collect()} >= {
        (first_id, 9_999_999, 0)}


def test_salted_join_equals_plain_join(spark, sf_dir):
    from duckdb_robust_predicate_transfer_spark.operators.skew import (
        detect_hot_keys, salted_join)

    l = get_catalog(spark, sf_dir).table("lineitem")
    o = get_catalog(spark, sf_dir).table("orders").select(
        "o_orderkey", "o_orderpriority")
    hot = detect_hot_keys(l, "l_orderkey", top_n=5, min_share=0.0005)
    salted = salted_join(l, o, "l_orderkey", "o_orderkey",
                         hot_keys=hot or None, n_salts=8)
    plain = l.join(o, l.l_orderkey == o.o_orderkey)
    a = sorted(map(tuple, salted.select("l_orderkey", "l_linenumber",
                                        "o_orderpriority").collect()))
    b = sorted(map(tuple, plain.select("l_orderkey", "l_linenumber",
                                       "o_orderpriority").collect()))
    assert a == b

    # uniform scatter variant (no hot list) must also be identical
    salted_all = salted_join(l, o, "l_orderkey", "o_orderkey",
                             hot_keys=None, n_salts=4)
    c = sorted(map(tuple, salted_all.select("l_orderkey", "l_linenumber",
                                            "o_orderpriority").collect()))
    assert c == b


def test_asof_join_semantics(spark, sf_dir):
    from datetime import datetime

    from duckdb_robust_predicate_transfer_spark.operators.asof import (
        asof_join)

    def t(s):
        return datetime(2024, 1, 1, 0, 0, s)

    left = spark.createDataFrame(
        [(1, t(10)), (1, t(20)), (1, t(5)), (2, t(30))],
        "k: long, ts: timestamp")
    right = spark.createDataFrame(
        [(1, t(10), 100.0), (1, t(15), 150.0), (3, t(1), 999.0)],
        "k: long, ts: timestamp, v: double")
    rows = {(r.k, r.ts.second): (r.v, r.matched_ts.second
                                 if r.matched_ts else None)
            for r in asof_join(left, right, on="k",
                               payload=["v"]).collect()}
    assert rows[(1, 10)] == (100.0, 10)   # tie at equal ts is inclusive
    assert rows[(1, 20)] == (150.0, 15)   # most recent prior
    assert rows[(1, 5)] == (None, None)   # nothing at-or-before
    assert rows[(2, 30)] == (None, None)  # key with no right rows

    # tolerance: match older than 4s is nulled out
    tol = {(r.k, r.ts.second): r.v
           for r in asof_join(left, right, on="k", payload=["v"],
                              tolerance_s=4).collect()}
    assert tol[(1, 10)] == 100.0
    assert tol[(1, 20)] is None           # 20 - 15 = 5s > 4s


def test_interval_point_join_boundaries(spark, sf_dir):
    from datetime import datetime

    from duckdb_robust_predicate_transfer_spark.operators.interval import (
        interval_point_join)

    def t(m, s=0):
        return datetime(2024, 1, 1, 0, m, s)

    points = spark.createDataFrame(
        [(1, t(0)), (2, t(5)), (3, t(10)), (4, t(59, 59)), (5, t(30))],
        "pid: long, ts: timestamp")
    ivs = spark.createDataFrame(
        [(100, t(0), t(10)), (200, t(5), t(31))],
        "iid: long, t0: timestamp, t1: timestamp")
    got = sorted((r.pid, r.iid) for r in interval_point_join(
        points, ivs, "ts", "t0", "t1", bucket_s=600).collect())
    # half-open [t0, t1): start inclusive, end exclusive; intervals may
    # overlap (pid 2 matches both); bucket boundaries must not matter
    assert got == [(1, 100), (2, 100), (2, 200), (3, 200), (5, 200)]


def test_batch_topk_matches_single_query(spark, sf_dir):
    from duckdb_robust_predicate_transfer_spark.operators.similarity import (
        brute_force_topk, brute_force_topk_batch)

    emb = get_catalog(spark, sf_dir).table("embeddings")
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 0).collect()[0].embedding]
    corpus = emb.filter(F.col("vec_id") != 0)
    single = [r.vec_id for r in brute_force_topk(corpus, qv, k=10).collect()]
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    batch = brute_force_topk_batch(corpus, queries, k=10).collect()
    assert [r.vec_id for r in sorted(batch, key=lambda r: r.rank)] == single
    assert all(r.qid == 0 for r in batch)


def test_ann_recall_metric(spark, sf_dir):
    from duckdb_robust_predicate_transfer_spark.operators.similarity import (
        ann_recall, brute_force_topk_batch, lsh_topk_batch)

    emb = get_catalog(spark, sf_dir).table("embeddings")
    queries = (emb.filter(F.col("vec_id") < 8)
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qv")))
    corpus = emb.filter(F.col("vec_id") >= 8)
    exact = brute_force_topk_batch(corpus, queries, k=10)
    # recall of the exact set against itself is exactly 1
    perfect = ann_recall(exact, exact).collect()[0]
    assert perfect.n_queries == 8 and perfect.mean_recall == 1.0
    approx = lsh_topk_batch(corpus, queries, k=10, n_planes=16, n_bands=8)
    got = ann_recall(exact, approx).collect()[0]
    # deterministic planes (seeded xxhash) => stable recall; measured
    # 0.9625 at sf0.001, 0.975 at sf0.01
    assert got.mean_recall >= 0.9


def test_ivf_batch_matches_single_query(spark, sf_dir):
    from duckdb_robust_predicate_transfer_spark.operators.similarity import (
        ivf_topk, ivf_topk_batch)

    emb = get_catalog(spark, sf_dir).table("embeddings")
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 0).collect()[0].embedding]
    corpus = emb.filter(F.col("vec_id") != 0)
    single = {r.vec_id for r in
              ivf_topk(corpus, qv, k=10, n_centroids=8, nprobe=4).collect()}
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    batch = {r.vec_id for r in
             ivf_topk_batch(corpus, queries, k=10, n_centroids=8,
                            nprobe=4).collect()}
    # same centroids, same probe lists => same candidate set => same top-k
    assert batch == single


def test_ivf_topk_overlaps_brute_force(spark, sf_dir):
    from duckdb_robust_predicate_transfer_spark.operators.similarity import (
        brute_force_topk, ivf_topk)

    emb = get_catalog(spark, sf_dir).table("embeddings")
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 0).collect()[0].embedding]
    corpus = emb.filter(F.col("vec_id") != 0)
    exact = [r.vec_id for r in
             brute_force_topk(corpus, qv, k=10).collect()]
    approx = ivf_topk(corpus, qv, k=10, n_centroids=8, nprobe=4)
    rows = approx.collect()
    assert len(rows) == 10
    # nprobe=half the lists => decent recall on the fixture
    assert len(set(r.vec_id for r in rows) & set(exact)) >= 3


def test_ivf_trained_centroids_recall(spark, sf_dir):
    """Lloyd-refined centroids must not degrade recall vs the
    hash-sample init (they sharpen list boundaries, so candidates'
    true neighbors concentrate in fewer probes), and the trained
    quantizer must keep the index layout contract (cd arrays of the
    corpus dimensionality, <= K centroids)."""
    from duckdb_robust_predicate_transfer_spark.operators.similarity import (
        ann_recall, brute_force_topk_batch, ivf_topk_batch,
        ivf_train_centroids)

    emb = get_catalog(spark, sf_dir).table("embeddings")
    queries = (emb.filter(F.col("vec_id") < 8)
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qv")))
    corpus = emb.filter(F.col("vec_id") >= 8)

    cents = ivf_train_centroids(corpus, n_centroids=8, iters=2)
    crows = cents.collect()
    dim = len(emb.limit(1).collect()[0].embedding)
    assert 0 < len(crows) <= 8
    assert all(len(r.cd) == dim for r in crows)

    exact = brute_force_topk_batch(corpus, queries, k=10)
    base = ann_recall(
        exact, ivf_topk_batch(corpus, queries, k=10, n_centroids=8,
                              nprobe=4)).collect()[0].mean_recall
    trained = ann_recall(
        exact, ivf_topk_batch(corpus, queries, k=10, n_centroids=8,
                              nprobe=4, train_iters=2)).collect()[0] \
        .mean_recall
    assert trained >= base - 0.05, (trained, base)


def test_ivf_fixedpoint_trained_matches_duckdb(spark, sf_dir):
    """The fixed-point trainer's whole index pipeline (quantize ->
    md5-sample init -> 2 Lloyd passes on exact integer sums -> assign
    -> probe -> rescore) must be bit-reproducible in DuckDB — the
    property that makes q_ann_recall_ivf_trained oracle-bearing."""
    import duckdb

    from duckdb_robust_predicate_transfer_spark.workload import (ORACLE,
                                                                  QUERIES)

    got = sorted(tuple(r) for r in
                 QUERIES["q_ann_recall_ivf_trained"](spark, sf_dir)
                 .collect())
    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS "
            f"SELECT * FROM '{sf_dir}/embeddings.parquet'")
    want = sorted(tuple(r) for r in
                  con.sql(ORACLE["q_ann_recall_ivf_trained"]).fetchall())
    assert [tuple(map(float, g)) for g in got] \
        == [tuple(map(float, w)) for w in want], (got, want)


def test_ivf_prebuilt_index_matches_inline(spark, sf_dir):
    """ivf_build + ivf_topk_batch(index=...) — the index-once /
    query-many serving shape — must return exactly the inline result
    (same centroids, same assignment, same probe lists)."""
    from duckdb_robust_predicate_transfer_spark.operators.similarity import (
        ivf_build, ivf_topk_batch)

    emb = get_catalog(spark, sf_dir).table("embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    inline = sorted(map(tuple, ivf_topk_batch(
        emb, queries, k=5, n_centroids=8, nprobe=4).collect()))
    idx = ivf_build(emb, n_centroids=8)
    via_index = sorted(map(tuple, ivf_topk_batch(
        emb, queries, k=5, nprobe=4, index=idx).collect()))
    assert via_index == inline


def test_connected_components_chain(spark):
    from duckdb_robust_predicate_transfer_spark.operators.cluster import (
        connected_components, dedup_clusters)

    # chain 1-2-3 (1!~3 directly) + island 7-8 + singleton 9
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a bigint, id_b bigint")
    comp = {(r.node, r.label)
            for r in connected_components(pairs).collect()}
    assert comp == {(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)}

    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 7, 8, 9)], "doc_id bigint")
    kept = sorted(r.doc_id for r in dedup_clusters(docs, pairs).collect())
    assert kept == [1, 7, 9]


def test_connected_components_pointer_jump_long_chain(spark, conf_set):
    """A 64-node path is the adversarial-diameter shape: plain min-label
    propagation moves the root label one hop per round (needs 63), the
    default pointer-jumping contraction doubles reach per round, so 10
    rounds suffice. Run on the Spark loop (broadcasts off), not the
    local finish."""
    from duckdb_robust_predicate_transfer_spark.operators.cluster import (
        connected_components)

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a bigint, id_b bigint")
    with conf_set("spark.sql.autoBroadcastJoinThreshold", "-1"):
        comp = connected_components(pairs, max_iters=10)
        assert {r.label for r in comp.collect()} == {0}
        # without the jump the same budget cannot converge, and the
        # unconverged labels are refused rather than returned
        with pytest.raises(RuntimeError, match="max_iters=10"):
            connected_components(pairs, max_iters=10, pointer_jump=False)


def _bfs_labels(edges) -> dict:
    """node -> minimum node id of its component, by plain BFS."""
    from collections import defaultdict

    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    label: dict = {}
    for start in adj:
        if start in label:
            continue
        comp, todo = {start}, [start]
        while todo:
            for n in adj[todo.pop()] - comp:
                comp.add(n)
                todo.append(n)
        root = min(comp)
        label.update((n, root) for n in comp)
    return label


def _graph_mix(seed: int) -> list:
    """Chains, stars, cycles and lone pairs over shuffled ids (so the
    minimum sits anywhere in a shape), with some edges repeated and
    some reversed."""
    import random

    rng = random.Random(seed)
    ids = iter(rng.sample(range(10_000), 2_000))
    edges = []
    for _ in range(8):
        chain = [next(ids) for _ in range(rng.randint(2, 12))]
        edges += list(zip(chain, chain[1:]))
    for _ in range(6):
        hub = next(ids)
        edges += [(hub, next(ids)) for _ in range(rng.randint(2, 8))]
    for _ in range(6):
        ring = [next(ids) for _ in range(rng.randint(3, 9))]
        edges += list(zip(ring, ring[1:] + ring[:1]))
    edges += [(next(ids), next(ids)) for _ in range(10)]
    edges += [(b, a) for a, b in rng.sample(edges, 15)]
    edges += rng.sample(edges, 10)
    rng.shuffle(edges)
    return edges


def test_connected_components_local_finish_matches_loop(spark, conf_set):
    """Both paths of connected_components (the driver-side union-find
    under the broadcast threshold, the Spark loop above it) return the
    BFS reference labels: on a seeded mix of shapes, on string ids and
    on an empty pair set. The local result is a LocalRelation; a
    threshold of a few hundred bytes sends the same input through the
    loop, while a graph of three pairs still fits under it."""
    from duckdb_robust_predicate_transfer_spark.operators.cluster import (
        connected_components)

    def plan_node(df):
        return (df._jdf.queryExecution().analyzed().getClass()
                .getSimpleName())

    mix = _graph_mix(7)
    graphs = [
        (spark.createDataFrame(mix, "id_a bigint, id_b bigint"), mix),
        (spark.createDataFrame([(f"d{a:05d}", f"d{b:05d}")
                                for a, b in mix[:60]],
                               "id_a string, id_b string"),
         [(f"d{a:05d}", f"d{b:05d}") for a, b in mix[:60]]),
        (spark.createDataFrame([], "id_a bigint, id_b bigint"), []),
    ]
    key = "spark.sql.autoBroadcastJoinThreshold"
    for pairs, edges in graphs:
        want = _bfs_labels(edges)
        local = connected_components(pairs)
        assert plan_node(local) == "LocalRelation"
        assert dict(map(tuple, local.collect())) == want
        assert local.schema["node"].dataType \
            == pairs.schema["id_a"].dataType
        for threshold in ("-1", "300b"):
            with conf_set(key, threshold):
                loop = connected_components(pairs)
                if edges:
                    assert plan_node(loop) != "LocalRelation", threshold
                assert dict(map(tuple, loop.collect())) == want, threshold
    # 3 pairs = 6 directed edges x 24 bytes fit under 300 bytes
    small = spark.createDataFrame([(5, 4), (4, 3), (9, 8)],
                                  "id_a bigint, id_b bigint")
    with conf_set(key, "300b"):
        got = connected_components(small)
        assert plan_node(got) == "LocalRelation"
        assert sorted(map(tuple, got.collect())) == [
            (3, 3), (4, 3), (5, 3), (8, 8), (9, 8)]
    # a null endpoint joins nothing on either path
    nulls = spark.createDataFrame([(1, 2), (3, None)],
                                  "id_a bigint, id_b bigint")
    local = sorted(map(tuple, connected_components(nulls).collect()),
                   key=str)
    with conf_set(key, "-1"):
        loop = sorted(map(tuple, connected_components(nulls).collect()),
                      key=str)
    assert local == loop == [(1, 1), (2, 1), (3, 3), (None, None)]


def test_dedup_clusters_matches_duckdb_on_both_paths(spark, sf_dir,
                                                     conf_set):
    """q_dedup_clusters against its DuckDB oracle (recursive-CTE
    components), once through the local finish and once through the
    Spark loop."""
    import duckdb

    from duckdb_robust_predicate_transfer_spark.workload import (ORACLE,
                                                                  QUERIES)

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS "
            f"SELECT * FROM '{sf_dir}/documents.parquet'")
    want = sorted(r[0] for r in con.sql(ORACLE["q_dedup_clusters"])
                  .fetchall())
    n_docs = con.sql("SELECT count(*) FROM documents").fetchone()[0]
    assert len(want) < n_docs  # some cluster actually collapses
    got = sorted(r[0] for r in
                 QUERIES["q_dedup_clusters"](spark, sf_dir).collect())
    assert got == want
    with conf_set("spark.sql.autoBroadcastJoinThreshold", "-1"):
        got = sorted(r[0] for r in
                     QUERIES["q_dedup_clusters"](spark, sf_dir).collect())
    assert got == want


def test_bitmap_escalation_requires_string_keys(spark):
    """The probe-big bitmap escalation (bloom_probe_min_rows) only fires
    on string/binary probe keys: integer keys probe a broadcast hash
    relation as cheaply as a bit-test and the lazy semi keeps AQE
    replanning — the unconditioned escalation reproduced the r5/r6
    sketch A/Bs' Q7 loss at x1000 (6.3 -> 19.0 s)."""
    from duckdb_robust_predicate_transfer_spark.operators.rewrite import (
        _string_keys)

    df = spark.createDataFrame(
        [(1, "a", b"x", 1.5)], "ik int, sk string, bk binary, fk double")
    assert _string_keys(df, ["sk"])
    assert _string_keys(df, ["bk"])
    assert _string_keys(df, ["ik", "sk"])   # any string key qualifies
    assert not _string_keys(df, ["ik"])
    assert not _string_keys(df, ["fk", "ik"])
    assert not _string_keys(df, ["missing"])  # unknown -> exact tier
