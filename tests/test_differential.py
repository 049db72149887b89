"""The reference's core invariant: every query returns identical results
with the predicate-transfer rewrite enabled and disabled (README.md:21,
enforced there by test_job_queries.sh:256 byte-diff). Needs no oracle."""

import pytest

from duckdb_robust_predicate_transfer_spark.config import RPTConfig
from duckdb_robust_predicate_transfer_spark.engine import Engine, Rel


def _collect_set(df):
    return sorted([tuple(r) for r in df.collect()])


STAR_RELS = {
    "l": "lineitem",
    "o": Rel("orders", "o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'"),
    "c": "customer", "n": "nation",
    "rg": Rel("region", "r_name = 'ASIA'"),
}
STAR_EDGES = [
    ("l", "o", "l_orderkey", "o_orderkey"),
    ("o", "c", "o_custkey", "c_custkey"),
    ("c", "n", "c_nationkey", "n_nationkey"),
    ("n", "rg", "n_regionkey", "r_regionkey"),
]

#: zeroed cost gates => reference-faithful "always transfer" behavior,
#: so the full cascade is exercised even on sf0.001's tiny tables
FORCE = dict(min_probe_rows=0, require_selective_build=False,
             minmax_min_probe_rows=0,
             persist_min_rows=0, all_broadcast_bail_rows=0,
             backward_broadcast_only=False, max_build_keep_frac=1.0,
             host_broadcast_rows=0)

CONFIGS = [
    RPTConfig(enabled=False),
    RPTConfig(),  # default: scale-adaptive gates (may skip ops at sf0.001)
    RPTConfig(**FORCE),  # full forward+backward cascade, all filter types
    RPTConfig(pass_mode="forward_only", **FORCE),
    RPTConfig(filter_type="bf_only", **FORCE),
    RPTConfig(filter_type="minmax_only", **FORCE),
    RPTConfig(heuristic="join_order", **FORCE),
    RPTConfig(heuristic="join_order", flip_roots=False, **FORCE),
    RPTConfig(heuristic="catalyst", **FORCE),
    # the size-bound persists off
    RPTConfig(**{**FORCE, "persist_min_rows": 10**18}),
]


@pytest.mark.parametrize("cfg", CONFIGS,
                         ids=lambda c: (f"{'on' if c.enabled else 'off'}-"
                                        f"{c.pass_mode}-{c.filter_type}-"
                                        f"{c.heuristic}"))
def test_star_join_all_configs_identical(spark, sf_dir, cfg):
    e = Engine(spark, sf_dir, RPTConfig(enabled=False))
    baseline = _collect_set(e.reduce_and_join(STAR_RELS, STAR_EDGES)
                            .select("l_orderkey", "l_linenumber", "n_name"))
    e2 = Engine(spark, sf_dir, cfg)
    got = _collect_set(e2.reduce_and_join(STAR_RELS, STAR_EDGES)
                       .select("l_orderkey", "l_linenumber", "n_name"))
    assert got == baseline


def test_cyclic_graph_differential(spark, sf_dir):
    rels = {"l": "lineitem", "o": "orders", "c": "customer",
            "s": "supplier", "n": "nation",
            "rg": Rel("region", "r_name = 'EUROPE'")}
    edges = [
        ("l", "o", "l_orderkey", "o_orderkey"),
        ("o", "c", "o_custkey", "c_custkey"),
        ("l", "s", "l_suppkey", "s_suppkey"),
        ("c", "n", "c_nationkey", "n_nationkey"),
        ("s", "n", "s_nationkey", "n_nationkey"),
        ("n", "rg", "n_regionkey", "r_regionkey"),
    ]
    off = Engine(spark, sf_dir, RPTConfig(enabled=False))
    on = Engine(spark, sf_dir, RPTConfig(**FORCE))
    cols = ["l_orderkey", "l_linenumber"]
    assert (_collect_set(on.reduce_and_join(rels, edges).select(*cols))
            == _collect_set(off.reduce_and_join(rels, edges).select(*cols)))


def test_class_broadcast_differential(spark, sf_dir):
    """join_order heuristic with the equivalence-class backward
    broadcast: c_nationkey = n_nationkey = s_nationkey forms one class,
    so some backward build must be redirected to a shallower member —
    and results must still equal the rewrite-off baseline."""
    rels = {"l": "lineitem", "o": "orders", "c": "customer",
            "s": "supplier", "n": Rel("nation", "n_regionkey <= 2")}
    edges = [
        ("l", "o", "l_orderkey", "o_orderkey"),
        ("o", "c", "o_custkey", "c_custkey"),
        ("l", "s", "l_suppkey", "s_suppkey"),
        ("c", "n", "c_nationkey", "n_nationkey"),
        ("s", "n", "s_nationkey", "n_nationkey"),
    ]
    off = Engine(spark, sf_dir, RPTConfig(enabled=False))
    on = Engine(spark, sf_dir,
                RPTConfig(heuristic="join_order", **FORCE))
    cols = ["l_orderkey", "l_linenumber"]
    got = _collect_set(on.reduce_and_join(rels, edges).select(*cols))
    # at least one backward op must not build at the probe's tree parent
    plan = on.last_result.plan
    parents = dict((c, p) for p, c in plan.tree)
    assert any(op.build != parents[op.probe]
               for op in plan.ops if op.phase == "backward"), \
        plan.describe()
    assert got == _collect_set(
        off.reduce_and_join(rels, edges).select(*cols))


def test_left_join_differential(spark, sf_dir):
    rels = {"c": "customer", "o": Rel("orders", "o_orderstatus = 'O'"),
            "n": Rel("nation", "n_regionkey = 2")}
    edges = [("c", "o", "c_custkey", "o_custkey", "left"),
             ("c", "n", "c_nationkey", "n_nationkey")]
    off = Engine(spark, sf_dir, RPTConfig(enabled=False))
    on = Engine(spark, sf_dir, RPTConfig(**FORCE))
    cols = ["c_custkey", "o_orderkey"]
    assert (_collect_set(on.reduce_and_join(rels, edges).select(*cols))
            == _collect_set(off.reduce_and_join(rels, edges).select(*cols)))


def test_empty_build_side_short_circuit(spark, sf_dir):
    rels = dict(STAR_RELS, rg=Rel("region", "r_name = 'NOPE'"))
    on = Engine(spark, sf_dir, RPTConfig(**FORCE))
    assert on.reduce_and_join(rels, STAR_EDGES).count() == 0


def test_single_edge_bails_out(spark, sf_dir):
    """<=1 join edge: rewrite must not alter the plan
    (rpt_optimizer.cpp:1592-1595)."""
    e = Engine(spark, sf_dir, RPTConfig())
    r = e.reduce({"l": "lineitem", "o": "orders"},
                 [("l", "o", "l_orderkey", "o_orderkey")])
    # untouched: same object as the raw catalog table
    assert r["l"] is e.table("lineitem")


def test_profiling_stats(spark, sf_dir):
    """The statement's record: one Decision per scheduled op with its
    eager-job wall time, and format_profile(df) reading each landed
    op's rows in and out from the run of ``df``."""
    e = Engine(spark, sf_dir, RPTConfig(**FORCE))
    df = e.reduce_and_join(STAR_RELS, STAR_EDGES)
    df.collect()
    res = e.last_result
    rows = res.node_rows(df)
    landed = [i for i, d in enumerate(res.decisions) if d.tier]
    assert landed and sorted(rows) == landed, (rows, res.decisions)
    for rin, rout in rows.values():
        assert 0 <= rout <= rin
    assert sum(rin - rout for rin, rout in rows.values()) > 0
    assert all(d.ms >= 0 for d in res.decisions)
    assert res.planning_ms > 0
    prof = res.format_profile(df)
    assert "planning:" in prof and "eager_ms" in prof and "TOTAL" in prof
    # one line per dropped Decision: gate, compared quantity, threshold
    # (the information gate drops the backward echoes once identity
    # stops counting as information)
    df = e.reduce_and_join(STAR_RELS, STAR_EDGES, RPTConfig(
        **{**FORCE, "require_selective_build": True}))
    df.collect()
    res = e.last_result
    prof = res.format_profile(df)
    dropped = [d for d in res.decisions if d.gate]
    drop_lines = [ln for ln in prof.splitlines() if ln.startswith("drop")]
    assert dropped and len(drop_lines) == len(dropped), prof
    for d, ln in zip(dropped, drop_lines):
        assert f" {d.gate} " in ln and " vs " in ln, ln
    assert sum(res.drops.values()) == len(dropped)


def test_profile_rows_read_from_the_run(spark, sf_dir):
    """format_profile reads rows from the executed plan, not from extra
    jobs: for every probe of the flagship whose ops land on the exact
    tier, the first op's rows in are the filtered, unreduced relation's
    count and the last op's rows out are the reduced relation's count.
    Reading starts no job and leaves the executed plan as it was."""
    e = Engine(spark, sf_dir, RPTConfig(**FORCE))
    red = e.reduce(STAR_RELS, STAR_EDGES)
    df = e.join_all(red, STAR_EDGES)
    df.collect()
    res = e.last_result
    tracker = spark.sparkContext.statusTracker()
    plan = df._jdf.queryExecution().executedPlan().toString()
    jobs = set(tracker.getJobIdsForGroup())
    res.format_profile(df)
    rows = res.node_rows(df)
    assert set(tracker.getJobIdsForGroup()) == jobs
    assert df._jdf.queryExecution().executedPlan().toString() == plan

    plain = Engine(spark, sf_dir, RPTConfig(enabled=False)).reduce(
        STAR_RELS, STAR_EDGES)
    ops: dict = {}
    for i, d in enumerate(res.decisions):
        if d.tier and d.tier.startswith("exact"):
            ops.setdefault(d.op.probe, []).append(i)
    assert len(ops) >= 3, res.decisions
    for probe, idx in ops.items():
        assert rows[idx[0]][0] == plain[probe].count(), (probe, rows)
        assert rows[idx[-1]][1] == red[probe].count(), (probe, rows)


def test_broadcast_hints_travel_with_the_result(spark, sf_dir):
    """join_all's broadcast hints come from the reduce() result it is
    given: a later reduce() with the rewrite off leaves them alone."""
    def hints(df) -> int:
        plan = df._jdf.queryExecution().analyzed().toString()
        return plan.count("ResolvedHint (strategy=broadcast)")

    e = Engine(spark, sf_dir,
               RPTConfig(**{**FORCE, "host_broadcast_rows": 1_000_000}))
    red = e.reduce(STAR_RELS, STAR_EDGES)
    joined = hints(e.join_all(red, STAR_EDGES))
    # join_all hinted small sides beyond the key sets' own hints
    assert joined > sum(hints(df) for df in red.values())
    e.reduce({"l": "lineitem", "o": "orders"},
             [("l", "o", "l_orderkey", "o_orderkey")],
             RPTConfig(enabled=False))
    assert hints(e.join_all(red, STAR_EDGES)) == joined


def test_multi_filter_build_persists_once(spark, sf_dir):
    """Stacked-CREATE merge (rpt_optimizer.cpp:1174-1216): a reduced
    build side feeding key sets on DIFFERENT column sets materializes
    once (persist) even below the persist size bound, so the second
    filter reads cached rows instead of re-running the reduction."""
    from duckdb_robust_predicate_transfer_spark.operators.rewrite import (
        apply_transfer, unpersist)
    from duckdb_robust_predicate_transfer_spark.plans.ir import (
        TransferOp, TransferPlan)

    e = Engine(spark, sf_dir, RPTConfig(enabled=False))
    dfs = {"n": e.table("nation"),
           "rg": e.table("region").filter("r_name = 'ASIA'"),
           "c": e.table("customer")}
    plan = TransferPlan(root="c", ops=[
        TransferOp("rg", "n", ("r_regionkey",), ("n_regionkey",)),
        TransferOp("n", "c", ("n_nationkey",), ("c_nationkey",)),
        TransferOp("n", "rg", ("n_regionkey",), ("r_regionkey",),
                   phase="backward"),
    ])
    cfg = RPTConfig(**FORCE).with_(persist_min_rows=10**12)
    res = apply_transfer(dfs, {"n": 25.0, "rg": 5.0, "c": 1500.0},
                         {"rg"}, plan, cfg)
    try:
        # n feeds two different column sets -> persisted despite the bound
        assert len(res.persisted) == 1
    finally:
        unpersist(res.persisted)


def test_wide_join_graph_differential(spark, sf_dir):
    """9-relation JOB-style graph with nation/region each joined twice
    through disjoint alias chains: forced full cascade must equal off."""
    from duckdb_robust_predicate_transfer_spark.workload.common import (
        set_default_config)
    from duckdb_robust_predicate_transfer_spark.workload.queries import (
        q_job_style_wide)

    try:
        set_default_config(RPTConfig(enabled=False))
        off = _collect_set(q_job_style_wide(spark, sf_dir))
        set_default_config(RPTConfig(**FORCE))
        on = _collect_set(q_job_style_wide(spark, sf_dir))
    finally:
        set_default_config(None)
    assert on == off


def test_colocated_edge_skips_transfer(spark, sf_dir):
    """Rel.colocated_on: when both endpoints of an edge declare the
    edge's own key columns as their bucket columns, the (already
    exchange-free) join gets no transfer ops — but other edges still
    do, and results are identical either way."""
    lineitem = Engine(spark, sf_dir).table("lineitem")
    orders = Engine(spark, sf_dir).table("orders")

    def run(colocate: bool):
        co = ("l_orderkey",) if colocate else ()
        co_o = ("o_orderkey",) if colocate else ()
        e = Engine(spark, sf_dir, RPTConfig(**FORCE))
        e.reduce(
            {"l": Rel("lineitem", df=lineitem, colocated_on=co),
             "o": Rel("orders", df=orders, colocated_on=co_o),
             "c": Rel("customer", "c_acctbal > 1000")},
            [("l", "o", "l_orderkey", "o_orderkey"),
             ("o", "c", "o_custkey", "c_custkey")])
        return e.last_result

    with_edge = run(colocate=False)
    without_edge = run(colocate=True)
    edges_with = {(op.build, op.probe) for op in with_edge.applied}
    edges_without = {(op.build, op.probe) for op in without_edge.applied}
    assert ("o", "l") in edges_with or ("l", "o") in edges_with
    assert ("o", "l") not in edges_without
    assert ("l", "o") not in edges_without
    # the c<->o edge is unaffected by the l<->o colocation
    assert any("c" in e for e in edges_without)


def test_provable_noop_ops_skipped(spark, sf_dir):
    """Information-source tracking: on c(filtered) -> o -> l, the
    backward hops carry no information the probes lack (l and o learned
    everything they know THROUGH those same edges), so they are
    provable no-ops and must not execute — at 100x scale one such hop
    cost 2x the whole rewrite-off query while removing 0 rows. The
    forward cascade must still run, and results must equal the off
    leg."""
    gates_off = dict(min_probe_rows=0, minmax_min_probe_rows=0, persist_min_rows=0,
                     all_broadcast_bail_rows=0,
                     backward_broadcast_only=False,
                     max_build_keep_frac=1.0, host_broadcast_rows=0)
    rels = {"c": Rel("customer", "c_acctbal > 5000"),
            "o": "orders", "l": "lineitem"}
    edges = [("o", "c", "o_custkey", "c_custkey"),
             ("l", "o", "l_orderkey", "o_orderkey")]

    e = Engine(spark, sf_dir, RPTConfig(**gates_off))
    r = e.reduce_and_join(dict(rels), list(edges))
    executed = {(op.phase, op.build, op.probe)
                for op in e.last_result.applied}
    assert ("forward", "c", "o") in executed
    assert ("forward", "o", "l") in executed
    assert not any(p == "backward" for p, _, _ in executed), executed

    off = Engine(spark, sf_dir, RPTConfig(enabled=False))
    r2 = off.reduce_and_join(dict(rels), list(edges))
    cols = ["l_orderkey", "l_linenumber", "c_custkey"]
    assert (sorted(map(tuple, r.select(*cols).collect()))
            == sorted(map(tuple, r2.select(*cols).collect())))


def test_broadcast_tier_bypasses_probe_size_gate(spark, sf_dir):
    """A broadcast-tier build's semi join rides the probe's scan stage
    (no exchange), so min_probe_rows must NOT skip it: severing these
    free hops cuts the selective cascade off at the dims (the measured
    TPCH_SCALE 100x regression). Here the probe is far below the gate
    yet the op must still execute."""
    e = Engine(spark, sf_dir, RPTConfig(
        min_probe_rows=10**9,
        all_broadcast_bail_rows=0, host_broadcast_rows=0))
    e.reduce({"c": "customer", "n": "nation",
              "rg": Rel("region", "r_name = 'ASIA'")},
             [("c", "n", "c_nationkey", "n_nationkey"),
              ("n", "rg", "n_regionkey", "r_regionkey")])
    executed = {(op.build, op.probe) for op in e.last_result.applied}
    assert ("rg", "n") in executed, executed
    assert ("n", "c") in executed, executed


def test_concurrent_sql_on_one_session(spark, sf_dir):
    """Two threads run Engine.sql on one SparkSession at once: an
    engaged query that shadows ``orders`` and another query over
    ``orders``. Each statement shadows views only in its own cloned
    session, so both return their rewrite-off results every round, and
    each statement's persisted builds stay cached while it executes."""
    import threading

    engaged_sql = """
        SELECT o_orderpriority, COUNT(*) AS n, SUM(l_quantity) AS q
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY o_orderpriority
    """
    other_sql = """
        SELECT o_orderpriority, COUNT(*) AS n
        FROM orders GROUP BY o_orderpriority
    """
    cfg = RPTConfig(**FORCE)
    off = RPTConfig(enabled=False)
    want = {q: _collect_set(Engine(spark, sf_dir, off).sql(q))
            for q in (engaged_sql, other_sql)}
    e = Engine(spark, sf_dir, cfg)
    engaged = e.sql(engaged_sql)
    assert e.last_sql_rewritten
    assert any(op.probe == "orders" for op in e.last_result.applied), \
        "premise: the engaged query shadows orders"
    assert e.last_result.persisted, "premise: the engaged query persists"
    del engaged

    rounds = 4
    barrier = threading.Barrier(2)
    got: dict = {q: [] for q in want}
    released: list = []
    errors: list = []

    def run(q):
        try:
            for _ in range(rounds):
                barrier.wait(timeout=300)
                e = Engine(spark, sf_dir, cfg)
                df = e.sql(q)
                held = list(e.last_result.persisted
                            if e.last_result else ())
                got[q].append(_collect_set(df))
                released.extend(j for j, _ in held
                                if not j.storageLevel().useMemory())
        except Exception as exc:  # surfaced by the main thread
            errors.append(exc)
            barrier.abort()

    threads = [threading.Thread(target=run, args=(q,)) for q in want]
    for t in threads:
        t.start()
    for t in threads:
        t.join(900)
    assert not any(t.is_alive() for t in threads), "a statement hung"
    assert not errors, errors
    for q, results in got.items():
        assert results == [want[q]] * rounds
    assert not released, "a build was released before its statement ran"


def test_memo_put_concurrent_eviction():
    """The engine's statement memos are shared by every thread that runs
    Engine.sql. Concurrent inserts at capacity must neither raise (two
    evictions popping the same oldest key, or iterating a dict another
    thread resizes) nor overfill the memo."""
    import sys
    import threading

    from duckdb_robust_predicate_transfer_spark.engine import _memo_put

    cache: dict = {}
    cap, n_threads, per_thread = 8, 16, 3000
    errors: list = []

    def hammer(tid):
        try:
            for i in range(per_thread):
                _memo_put(cache, (tid, i), i, cap)
        except Exception as exc:  # surfaced by the main thread
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=hammer, args=(t,))
                   for t in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:3]
    assert len(cache) <= cap


def test_shared_persist_released_by_last_holder():
    """Plan-identical builds of two live statements share one
    CacheManager entry, so only the last holder's release unpersists
    it. The count is shared by every thread whose statement persists or
    is freed: concurrent persists and releases of the same plans must
    leave no count behind and unpersist each plan once it is free."""
    import sys
    import threading

    from duckdb_robust_predicate_transfer_spark.operators import rewrite

    class Plan:
        """The JVM Dataset calls _persist and unpersist make."""

        def __init__(self, key, log):
            self.key, self.log = key, log

        def queryExecution(self):
            return self

        normalized = queryExecution

        def semanticHash(self):
            return self.key

        def unpersist(self, blocking):
            self.log.append(self.key)

    class Df:
        def __init__(self, key, log):
            self._jdf = Plan(key, log)

        def persist(self):
            return self

    log: list = []
    a, b = [], []
    rewrite._persist(Df("shared", log), a)
    rewrite._persist(Df("shared", log), b)
    rewrite.unpersist(a)
    assert log == [] and a == []
    rewrite.unpersist(b)
    assert log == ["shared"] and "shared" not in rewrite._LIVE

    keys = [("stress", k) for k in range(4)]
    errors: list = []

    def hammer():
        try:
            for _ in range(500):
                held: list = []
                for k in keys:
                    rewrite._persist(Df(k, log), held)
                rewrite.unpersist(held)
        except Exception as exc:  # surfaced by the main thread
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=hammer) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:3]
    assert not any(k in rewrite._LIVE for k in keys)
    assert set(log) == {"shared", *keys}
