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
    RPTConfig(persist_reduced=False, **FORCE),
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
    e = Engine(spark, sf_dir, RPTConfig(profiling=True, **FORCE))
    e.reduce(STAR_RELS, STAR_EDGES)
    res = e.last_result
    stats = res.stats
    assert stats, "profiling should record per-step stats"
    for st in stats:
        assert st.rows_out <= st.rows_in
        # per-op wall-time counters (the reference's rpt_profiling
        # sink/finalize/probe timers, rpt_profiling.hpp:16-226)
        assert st.build_ms >= 0 and st.probe_ms >= 0 and st.minmax_ms >= 0
    # forced counts mean the probe timers must have actually ticked
    assert sum(st.probe_ms for st in stats) > 0
    assert res.planning_ms > 0
    prof = res.format_profile()
    assert "planning:" in prof and "build_ms" in prof and "TOTAL" in prof
    # one line per dropped Decision: gate, compared quantity, threshold
    # (the information gate drops the backward echoes once identity
    # stops counting as information)
    e.reduce(STAR_RELS, STAR_EDGES, RPTConfig(
        profiling=True, **{**FORCE, "require_selective_build": True}))
    res = e.last_result
    prof = res.format_profile()
    dropped = [d for d in res.decisions if d.gate]
    drop_lines = [ln for ln in prof.splitlines() if ln.startswith("drop")]
    assert dropped and len(drop_lines) == len(dropped), prof
    for d, ln in zip(dropped, drop_lines):
        assert f" {d.gate} " in ln and " vs " in ln, ln
    assert sum(res.drops.values()) == len(dropped)


def test_multi_filter_build_persists_once(spark, sf_dir):
    """Stacked-CREATE merge (rpt_optimizer.cpp:1174-1216): a reduced
    build side feeding key sets on DIFFERENT column sets materializes
    once (persist) even below the persist size bound, so the second
    filter reads cached rows instead of re-running the reduction."""
    from duckdb_robust_predicate_transfer_spark.operators.rewrite import (
        apply_transfer)
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
        res.release()


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
        e = Engine(spark, sf_dir, RPTConfig(**FORCE, profiling=True))
        e.reduce(
            {"l": Rel("lineitem", df=lineitem, colocated_on=co),
             "o": Rel("orders", df=orders, colocated_on=co_o),
             "c": Rel("customer", "c_acctbal > 1000")},
            [("l", "o", "l_orderkey", "o_orderkey"),
             ("o", "c", "o_custkey", "c_custkey")])
        return e.last_result

    with_edge = run(colocate=False)
    without_edge = run(colocate=True)
    edges_with = {(s.op.build, s.op.probe) for s in with_edge.stats}
    edges_without = {(s.op.build, s.op.probe) for s in without_edge.stats}
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

    e = Engine(spark, sf_dir, RPTConfig(profiling=True, **gates_off))
    r = e.reduce_and_join(dict(rels), list(edges))
    executed = {(s.op.phase, s.op.build, s.op.probe)
                for s in e.last_result.stats}
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
        profiling=True, min_probe_rows=10**9,
        all_broadcast_bail_rows=0, host_broadcast_rows=0))
    e.reduce({"c": "customer", "n": "nation",
              "rg": Rel("region", "r_name = 'ASIA'")},
             [("c", "n", "c_nationkey", "n_nationkey"),
              ("n", "rg", "n_regionkey", "r_regionkey")])
    executed = {(s.op.build, s.op.probe) for s in e.last_result.stats}
    assert ("rg", "n") in executed, executed
    assert ("n", "c") in executed, executed


def test_concurrent_sql_on_one_session(spark, sf_dir):
    """Two threads run Engine.sql on one SparkSession at once: an
    engaged query that shadows ``orders`` and another query over
    ``orders``. Each statement shadows views only in its own cloned
    session, so both return their rewrite-off results every round."""
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
    e.sql(engaged_sql)
    assert e.last_sql_rewritten
    assert any(op.probe == "orders" for op in e.last_result.applied), \
        "premise: the engaged query shadows orders"

    rounds = 4
    barrier = threading.Barrier(2)
    got: dict = {q: [] for q in want}
    errors: list = []

    def run(q):
        try:
            for _ in range(rounds):
                barrier.wait(timeout=300)
                got[q].append(_collect_set(Engine(spark, sf_dir, cfg).sql(q)))
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
