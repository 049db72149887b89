"""Engine facade: catalog + config + the transfer rewrite.

Usage (the declared-query style):

    eng = Engine(spark, sf_dir)
    r = eng.reduce(
        {"l": "lineitem",
         "o": Rel("orders", "o_orderstatus = 'F'"),
         "c": "customer"},
        [("l", "o", "l_orderkey", "o_orderkey"),
         ("o", "c", "o_custkey", "c_custkey")])
    out = (r["l"].join(r["o"], on=[...]) ...)

``reduce`` is the whole predicate-transfer pipeline: join-graph IR ->
spanning-tree/DAG heuristic -> forward+backward schedule -> semi-join
/ min-max rewrite. With ``cfg.enabled=False`` it returns the filtered
inputs untouched (the "extension not loaded" baseline), which is the
reference's core invariant surface: results must be identical either
way (README.md:21).
"""

from __future__ import annotations

import threading
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession

from .catalog import Catalog, get_catalog
from .config import DEFAULT, RPTConfig
from .operators.rewrite import TransferResult, apply_transfer
from .plans.graph import (JoinGraph, execution_order_dag, join_order_dag,
                          largest_root_tree)
from .plans.ir import JoinEdge, TableNode
from .plans.schedule import plan_schedule
from .session import bind, clone_session

#: default guess for the selectivity of a local filter, used only to rank
#: tables for root choice / level ordering (the reference leans on host
#: cardinality estimates, table_manager.cpp:66)
FILTER_SELECTIVITY = 0.2


@dataclass
class Rel:
    """A transfer unit: base table plus optional local filter.

    The reference treats FILTER+GET as one unit so filters apply before
    any Bloom filter is built (rpt_optimizer.cpp:74-83, :1551-1576); we
    get the same by construction — the filter is applied to the
    DataFrame before it enters the join graph.
    """

    name: str
    filter: "str | Column | None" = None
    df: "DataFrame | None" = None  # override: pre-built relation
    #: the override df already carries a local filter (so the rewrite may
    #: treat it as selective even though ``filter`` is None)
    prefiltered: bool = False
    #: columns this relation is bucketed/co-partitioned on. When BOTH
    #: endpoints of a join edge declare the edge's own key columns here,
    #: that join is already exchange-free (bucket-local), and transfer
    #: along the edge is skipped: measured on the bucketed cascade, the
    #: probe work buys nothing a co-located merge join wasn't already
    #: doing (BUCKETED_r03.json, rpt 0.79x there) — the bounded-downside
    #: gate turned into a declaration
    colocated_on: tuple = ()


def _norm_cols(c) -> tuple:
    if isinstance(c, str):
        return (c,)
    return tuple(c)


#: module-level statement -> Extraction cache (engines are constructed
#: per call by the workload layer; the graph is engine-independent)
_EXT_CACHE: dict = {}

#: (statement cache key, config repr, rf_live) -> "cede" or True when
#: reduce() gated every op away for that statement+data+config ("cede"
#: when at least one op dropped at gate "native"): repeats skip the
#: planning path entirely (see _auto_transfer_sql). Only BAILS are cached — an
#: engaged statement re-plans each run because its eager builds are the
#: mechanism itself.
_BAIL_CACHE: dict = {}

#: (statement cache key, rf-threshold confs, injection value) ->
#: (scan_prefilter_pairs result, native bloom edges) of the ORIGINAL
#: statement: the host-plan evidence of gates "dup" and "native", read
#: from one physical planning pass per novel statement
_EVIDENCE_CACHE: dict = {}


#: guards every write to the module memos above (Engine.sql may run on
#: several threads over one SparkSession)
_LOCK = threading.Lock()

#: memo-lookup sentinel: a cached value may itself be None
_MISS = object()


def _memo_put(cache: dict, key, value, cap: int = 256):
    """Store ``value`` in a bounded FIFO memo (the oldest entry goes at
    capacity); returns it. Readers use ``cache.get`` — one atomic
    lookup, so a concurrent eviction cannot fail a checked read."""
    with _LOCK:
        if len(cache) >= cap:
            cache.pop(next(iter(cache)))
        cache[key] = value
    return value


#: the planner confs that decide where Spark plants runtime blooms; the
#: bloom-evidence caches key on their values
_RF_CONF_KEYS = (
    "spark.sql.optimizer.runtime.bloomFilter."
    "applicationSideScanSizeThreshold",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
    "spark.sql.autoBroadcastJoinThreshold")
_RF_ENABLED = "spark.sql.optimizer.runtime.bloomFilter.enabled"


def _edge_set(edges) -> frozenset:
    """native_bloom_edges output -> lowercased (probe_table, probe_col,
    build_table) triples, without the edges that have an unresolved
    side."""
    return frozenset(
        (b["probe_table"].lower(), b["probe_col"].lower(),
         b["build_table"].lower())
        for b in edges or ()
        if None not in (b["probe_table"], b["probe_col"], b["build_table"]))


def _all_broadcast(rows, cfg: RPTConfig) -> bool:
    """The all-broadcast bail over estimated relation ``rows`` (footer
    rows, local filters discounted by FILTER_SELECTIVITY): when every
    relation but the largest fits a broadcast, Catalyst's plan is
    already one fact pass with no shuffle and any transfer op is pure
    overhead. ``all_broadcast_bail_rows`` = 0 disables it."""
    rows = sorted(rows)
    return (cfg.all_broadcast_bail_rows > 0 and len(rows) >= 2
            and rows[-2] <= cfg.all_broadcast_bail_rows)


def normalize_edges(edges: list) -> list:
    out = []
    for e in edges:
        if isinstance(e, JoinEdge):
            out.append(e)
        else:
            l, r, lc, rc, *rest = e
            how = rest[0] if rest else "inner"
            out.append(JoinEdge(l, r, _norm_cols(lc), _norm_cols(rc), how))
    return out


class Engine:
    def __init__(self, spark: SparkSession, sf_dir: str | None = None,
                 config: RPTConfig | None = None):
        self.spark = spark
        self.config = (config or DEFAULT).validate()
        self.catalog: Catalog | None = (
            get_catalog(spark, sf_dir) if sf_dir else None
        )
        self.last_result: TransferResult | None = None
        #: alias -> rows as of the last reduce(): local-filter-discounted
        #: footer estimates, overwritten in place with OBSERVED counts by
        #: the transfer's min/max+bloom jobs (apply_transfer mutates the
        #: dict). join_all reads this to broadcast-hint small sides.
        self.last_rows_est: dict = {}
        self._host_broadcast_rows: int = self.config.host_broadcast_rows

    def table(self, name: str) -> DataFrame:
        return self.catalog.table(name)

    t = table

    def sql(self, query: str, auto_rpt: bool = True,
            config: RPTConfig | None = None) -> DataFrame:
        """Run SQL with automatic predicate transfer.

        The reference's optimizer hook rewrites any statement with more
        than one eligible join edge, no user involvement
        (rpt_optimizer.cpp:1702-1722). Here: analyze the query, extract
        the join graph from the Catalyst analyzed plan
        (plans/extract.py), run the standard ``reduce`` over the
        extracted relations, then re-run the same SQL with temp views
        shadowed by their reduced DataFrames. Reduction only removes
        rows the query's own joins/filters would drop, and re-applied
        deterministic WHERE clauses are idempotent, so results are
        identical — the reference's core invariant (README.md:21).

        Each rewrite-enabled statement runs in its own clone of the
        caller's session (session.clone_session), as the reference rewrites
        each plan inside one optimizer pass that only reads its
        settings: the shadows, the eager transfer jobs and the
        runtime-bloom setting live in the clone, and the returned
        DataFrame is bound to it. The caller's session is never
        changed, and a DataFrame planned now executes under its own
        setting whatever later statements decide.

        Native runtime blooms follow one rule (config.suppress_native_rf):
        the statement runs with the caller's injection setting and only
        its eager transfer jobs run with injection off, while an op whose
        edge a native bloom of the original plan already covers drops at
        gate "native" — covered edges ride native, the rest ride the
        transfer, and a statement whose every op drops is a plain bail.

        Any extraction bail-out (unsupported construct, <=2 edges after
        gating, no instance actually reduced) returns the plain result.
        """
        if self.catalog is not None:
            self.catalog.register_views()
        cfg = (config or self.config).validate()
        #: True when the last sql() call actually applied the transfer
        #: rewrite (extraction succeeded AND the planner's gates kept at
        #: least one reduction) — the observable analogue of the
        #: reference's "rules_applied" profiling counter
        #: (rpt_profiling.hpp:40-55). Read by tools/breadth_check.py.
        self.last_sql_rewritten = False
        #: True when the statement bailed with at least one op dropped at
        #: gate "native": its covered edges were handed to Spark's own
        #: runtime blooms (read by perfbench and the regime tools)
        self.last_cede = False
        if not auto_rpt or not cfg.enabled or self.catalog is None:
            return self.spark.sql(query)
        s = clone_session(self.spark)
        rf_live = (cfg.suppress_native_rf
                   and self.spark.conf.get(_RF_ENABLED, "false") == "true")
        df = s.sql(query)
        out = self._auto_transfer_sql(query, s, df, cfg, rf_live)
        self.last_sql_rewritten = out is not None
        return df if out is None else out

    def _rf_confs(self) -> tuple:
        """Current values of the runtime-filter planner confs
        (_RF_CONF_KEYS); "" for an unset one."""
        out = []
        for k in _RF_CONF_KEYS:
            try:
                out.append(self.spark.conf.get(k))
            except Exception:
                out.append("")
        return tuple(out)

    def _table_paths(self) -> dict:
        return {t: self.catalog.path(t) for t in self.catalog.known_tables()}

    def native_edges(self, df: DataFrame) -> frozenset:
        """Lowercased (probe_table, probe_col, build_table) edges of the
        native runtime blooms in ``df``'s optimized plan
        (plans/catalyst_order.native_bloom_edges). Edges with an
        unresolvable side are left out: an op can then never count as
        covered by them, which keeps it with the transfer — the safe
        direction."""
        from .plans.catalyst_order import native_bloom_edges

        return _edge_set(native_bloom_edges(df, self._table_paths(),
                                            self._table_cols()))

    def _plan_evidence(self, df: DataFrame, ck, alias_paths: dict
                       ) -> tuple:
        """(host-prefiltered pairs, native bloom edges) of the original
        statement ``df`` (statement cache key ``ck``), both read from
        its one QueryExecution as planned with the caller's injection
        setting (plans/catalyst_order.statement_evidence). Memoized in
        _EVIDENCE_CACHE: the physical planning pass costs 0.2-0.5 s on
        a novel statement."""
        from .plans.catalyst_order import statement_evidence

        key = (ck, self._rf_confs(),
               self.spark.conf.get(_RF_ENABLED, "false"))
        hit = _EVIDENCE_CACHE.get(key, _MISS)
        if hit is not _MISS:
            return hit
        pairs, edges = statement_evidence(df, alias_paths,
                                          self._table_paths(),
                                          self._table_cols())
        return _memo_put(_EVIDENCE_CACHE, key, (pairs, _edge_set(edges)))

    def _table_cols(self) -> dict:
        """table -> lowercase column-name set for every known table,
        used by native_bloom_edges to resolve a bloom side whose
        lineage spans several leaves (a shadowed reduced view). Cached
        on the Catalog, keyed by the table-name set — a table
        registered after the first evidence read re-enters the map
        instead of being skipped for the life of the session
        (ADVICE r9); schema reads are parquet-footer-only."""
        import os

        names = frozenset(self.catalog.known_tables())
        stamped = getattr(self.catalog, "_drpt_table_cols", None)
        if stamped is not None and stamped[0] == names:
            return stamped[1]
        cache = {}
        for t in sorted(names):
            # known_tables() lists the standard catalog; a fixture
            # dir may materialize only a subset (the JOB dir has no
            # part.parquet). A missing one is skipped without a Spark
            # read: each such read fails with a logged stack trace, and
            # one escaping here would disable gate "native" for every
            # query on that fixture.
            if not os.path.exists(self.catalog.path(t)):
                continue
            try:
                cache[t] = {c.lower()
                            for c in self.catalog.table(t).columns}
            except Exception:
                continue
        self.catalog._drpt_table_cols = (names, cache)
        return cache

    def _auto_transfer_sql(self, query: str, s: SparkSession,
                           df: DataFrame, cfg: RPTConfig, rf_live: bool
                           ) -> "DataFrame | None":
        """The rewritten DataFrame for ``query`` in its statement
        session ``s`` (``df`` = ``s.sql(query)``, planned with the
        caller's injection setting), or None for a bail. ``rf_live``
        (suppression on and the caller's injection on) enables gate
        "native" and runs the eager jobs with injection off."""
        import os

        from .plans.extract import extract_join_graph

        known = {t for t in self.catalog.known_tables()
                 if os.path.exists(self.catalog.path(t))}
        # statement-level extraction cache: the join graph is a pure
        # function of the query TEXT, the registered views, and their
        # SCHEMAS (never of table contents), and the py4j analyzed-plan
        # walk costs 30-170ms per statement — the entire rpt-vs-off gap
        # on sub-second TPC-H queries (Q2/Q11/Q14/Q16/Q19 at x100).
        # Every real engine caches this: DuckDB's prepared statements,
        # Spark's own analysis cache. The key carries a per-table file
        # fingerprint (path, mtime, size) so re-registering a same-named
        # fixture with different columns cannot replay a stale graph
        # (ADVICE r5). Shape bails (None) are sentinel-cached — a bail
        # must also be free on re-run — but transient extraction
        # failures are NOT (a one-off py4j hiccup must not disable the
        # rewrite for the session).
        from .plans.extract import TRANSIENT_BAIL

        from .catalog import _path_stamp

        # per-member fingerprint (catalog._path_stamp): a directory-backed
        # table whose member files are rewritten in place can leave the
        # directory's own mtime/size unchanged — os.stat on the dir alone
        # would serve a stale cached bail on changed data
        fp = tuple((t, self.catalog.path(t),
                    _path_stamp(self.catalog.path(t)))
                   for t in sorted(known))
        ck = (query, fp)
        ext = _EXT_CACHE.get(ck, _MISS)
        if ext is _MISS:
            ext = extract_join_graph(df, known)
            if ext is not TRANSIENT_BAIL:
                _memo_put(_EXT_CACHE, ck, ext)
        if ext is None or ext is TRANSIENT_BAIL:
            return None
        # gate-bail cache: when this exact statement on this exact data
        # already went through reduce() under this config and EVERY op
        # was gated away, re-running the whole planning path (catalog
        # row counts, graph, schedule, gate evaluation) is pure driver
        # latency on a query the engine will not touch — ~0.3 s, the
        # dominant cost of repeated small JOB-regime queries after gate
        # "dup" disengages them. Data changes invalidate via the mtime/size
        # fingerprints in ck; the config repr keys gate-relevant knobs.
        # The key also carries rf_live: gate "native" runs only under
        # it, and one cfg serves both the rpt leg (injection off — must
        # engage) and the composed leg (injection on — may cede);
        # sharing their entries would replay one leg's verdict into the
        # other.
        bk = (ck, repr(cfg), rf_live)

        def bail(verdict):
            """The bail return for a cached ``verdict``: "cede" (ops
            dropped at gate "native", replayed into last_cede) or True
            (plain)."""
            self.last_cede = verdict == "cede"
            return None

        cached = _BAIL_CACHE.get(bk)
        if cached:
            # a bail-cache hit returns before reduce() runs, so it
            # releases the previous query's persists itself
            self._release_previous()
            return bail(cached)
        # correlated-scalar-subquery (DELIM) edges: the reference walks
        # LOGICAL_DELIM_JOIN as an edge source (rpt_optimizer.cpp:49-50)
        # so its transfer reaches the scan inside Q17-style correlated
        # aggregates. Our replay shadows the TABLE VIEW, which reaches
        # both occurrences at once — each recognized occurrence becomes
        # a virtual graph node + edge so the planner sees the topology;
        # soundness is enforced at shadow time (allowed-keys check).
        shared_tables = {t: groups for t, groups in ext.shared_sub.items()
                         if any(i.table == t and not i.protected
                                and ext.occurrences(t) == 1
                                for i in ext.instances.values())}
        virt_edges: list = []
        #: virtual alias -> its table
        virt: dict = {}
        for vi, (t, groups) in enumerate(sorted(shared_tables.items())):
            for gi, group in enumerate(groups):
                # one virtual node per subquery occurrence; one edge per
                # outer instance it correlates with
                valias = f"__sub{vi}_{gi}_{t}"
                virt[valias] = t
                by_outer: dict = {}
                for inner_col, oalias, ocol in group:
                    by_outer.setdefault(oalias, []).append(
                        (inner_col, ocol))
                for oalias, pairs in by_outer.items():
                    # "left" = only the virtual (inner) side may be
                    # reduced. The reverse direction — outer reduced by
                    # the subquery table's keys — is unsound when the
                    # scalar's consumption tolerates an empty group
                    # (COUNT(*) returns 0, not NULL; or `(SELECT ...)
                    # IS NULL`): those outer rows must SURVIVE having
                    # no inner match, exactly like an outer join's
                    # preserved side. Same discipline as the reference,
                    # whose delim joins preserve the probe side.
                    virt_edges.append(
                        (oalias, valias,
                         tuple(p[1] for p in pairs),
                         tuple(p[0] for p in pairs),
                         "left"))
        if len(ext.edges) + len(virt_edges) <= 1:
            return None
        # at least one relation must be substitutable (single-occurrence
        # table) for the rewrite to have any effect — e.g. a pure
        # self-join offers nothing to shadow
        if not any(ext.occurrences(i.table) == 1 and not i.protected
                   for i in ext.instances.values()):
            return None

        # the all-broadcast bail, decided from footer counts before the
        # evidence pass and the binds below, with the rows reduce()
        # would estimate: a shared-subquery table and a virtual node
        # carry no local filter there
        def rows(table: str, filtered: bool) -> float:
            try:
                n = float(self.catalog.row_count(table))
            except Exception:
                n = 0.0
            return n * FILTER_SELECTIVITY if filtered else n

        if _all_broadcast(
                [rows(i.table, bool(i.filters)
                      and i.table not in shared_tables)
                 for i in ext.instances.values()]
                + [rows(t, False) for t in virt.values()], cfg):
            self._release_previous()
            return bail(_memo_put(_BAIL_CACHE, bk, True, 512))

        # relations bound to ``s`` (here and for the virtual nodes), so
        # the eager jobs built on them run under the statement's conf
        rels: dict = {}
        for alias, inst in ext.instances.items():
            d = bind(self.table(inst.table), s).alias(alias)
            if inst.table in shared_tables:
                # a local filter baked into a shared-subquery table's
                # shadow would leak into the subquery's own scan and
                # change its groups; leave filters to the replayed SQL
                rels[alias] = Rel(inst.table, df=d)
                continue
            for f in inst.filters:
                d = d.filter(f)
            rels[alias] = Rel(inst.table, df=d,
                              prefiltered=bool(inst.filters))
        virt_rels = {v: Rel(t, df=bind(self.table(t), s))
                     for v, t in virt.items()}
        rels.update(virt_rels)
        # host-plan evidence, both read from the original statement's
        # one plan (``df``, planned with the caller's injection): which
        # (probe, build) pairs the host already filters below the
        # probe's first exchange (gate "dup"), and which edges its
        # native runtime blooms cover (gate "native", under rf_live
        # only). Probes carrying shared-subquery/virtual edges are
        # excluded: their semi's reduction reaches the SUBQUERY
        # occurrence through the shadowed view — value neither the
        # host's own join nor a bloom on the outer scan can deliver
        # (TPC-H Q17's 2.5x win is exactly that op).
        host_pre: "set | None" = None
        native: "set | None" = None
        if rf_live or cfg.skip_no_exchange_probe:
            alias_paths = {}
            for alias, inst in ext.instances.items():
                try:
                    alias_paths[alias] = self.catalog.path(inst.table)
                except Exception:
                    pass
            host_pre, edges = self._plan_evidence(df, ck, alias_paths)
            excl = ({v[0] for v in virt_edges}
                    | set(virt_rels)
                    | {a for a, i in ext.instances.items()
                       if i.table in shared_tables})
            if host_pre:
                host_pre = {(p, b, k) for p, b, k in host_pre
                            if p not in excl}
            if rf_live:
                # table -> its one alias (None: a self-joined table,
                # whose blooms cannot be told apart, covers nothing)
                one: dict = {}
                for a, i in ext.instances.items():
                    t = i.table.lower()
                    one[t] = None if t in one else a
                native = {(one[pt], c, one[bt]) for pt, c, bt in edges
                          if one.get(pt) and one.get(bt)
                          and one[pt] not in excl}
        # only the eager transfer jobs run with injection off: with it
        # live Spark plants bloom filters inside the observe counts,
        # min/max aggs, key-set builds and persists too — pure
        # planning-job overhead that showed up as a composed-only Q22
        # loss at x1000 (8.2 s vs rpt 5.1 s with ZERO blooms in the
        # final plan, TPCH_SCALE_X1000_r06). The final statement and
        # every bail run with the caller's value. reduce() releases the
        # previous query's persists at entry; nulling last_result here
        # instead would leak them for the life of the session
        # (CacheManager plan pollution — see reduce()'s docstring)
        if rf_live:
            s.conf.set(_RF_ENABLED, "false")
        try:
            red = self.reduce(rels, list(ext.edges) + virt_edges, cfg,
                              opaque=getattr(ext, "opaque", None),
                              host_prefiltered=host_pre,
                              native_edges=native)
        finally:
            if rf_live:
                s.conf.set(_RF_ENABLED, "true")
        if self.last_result is None:
            # planner bailed (gates / <=1 edge)
            return bail(_memo_put(_BAIL_CACHE, bk, True, 512))

        # shadow, in ``s``, each single-occurrence table whose relation
        # the rewrite actually reduced and re-analyze the same SQL
        # against the shadows; the caller's views are never touched. A
        # shadow the
        # transfer measured as small carries an explicit broadcast hint
        # — the view keeps the hint through re-analysis, giving the SQL
        # path the same host-size feedback as join_all (a filtered dim's
        # static footer estimate otherwise plans a sort-merge join past
        # the broadcast threshold; see host_broadcast_rows)
        from pyspark.sql import functions as F

        # a broadcast hint on a view input only reaches that view's OWN
        # first join, where it beats Catalyst's size heuristic outright —
        # so hinting a mid-size reduced table whose join partner is even
        # smaller DISPLACES the natural small-side broadcast (measured at
        # TPCH_SCALE x100 Q3: the hint put 1.45M reduced-orders rows on
        # the build side of a join whose other input was 3k customers).
        # Hint only relations that are the smallest among their neighbors.
        nbr: dict = {}
        for e in ext.edges:
            nbr.setdefault(e.left, set()).add(e.right)
            nbr.setdefault(e.right, set()).add(e.left)
        def _shared_ops_ok(alias: str, groups: list) -> bool:
            """Every op applied to ``alias`` must be keyed exactly by
            the correlation columns of EVERY subquery occurrence —
            otherwise the shared view's reduction could change a
            subquery group some surviving outer row still references."""
            if self.last_result is None:
                return False
            for op in self.last_result.applied:
                if op.probe != alias:
                    continue
                pairs = set(zip(op.probe_cols, op.build_cols))
                for group in groups:
                    gset = {(ic, oc) for ic, oa, oc in group
                            if oa == op.build}
                    if not pairs <= gset:
                        return False
            return True

        shadowed = False
        for alias, inst in ext.instances.items():
            if (ext.occurrences(inst.table) == 1
                    and red[alias] is not rels[alias].df):
                if (inst.table in shared_tables
                        and not _shared_ops_ok(
                            alias, shared_tables[inst.table])):
                    continue
                shadow = red[alias]
                rows = self.last_rows_est.get(alias, 0.0)
                if (0.0 < rows <= self._host_broadcast_rows
                        and all(self.last_rows_est.get(n, float("inf"))
                                >= rows for n in nbr.get(alias, ()))):
                    shadow = F.broadcast(shadow)
                shadow.createOrReplaceTempView(inst.table)
                shadowed = True
        if not shadowed:
            # all ops gated away (e.g. gate "dup" on an all-broadcast
            # probe): deterministic for this statement+data+config, so
            # repeats skip the planning path entirely. With any op
            # dropped at gate "native" this is the cession: the covered
            # edges ride the host's blooms.
            ceded = any(d.gate == "native"
                        for d in self.last_result.decisions)
            return bail(_memo_put(_BAIL_CACHE, bk,
                                  "cede" if ceded else True, 512))
        return s.sql(query)

    # -- the rewrite ---------------------------------------------------

    def _release_previous(self) -> None:
        """Release the previous query's persists, this engine's and the
        one stashed on the caller's session. The workload layer builds
        a fresh Engine per query, so the previous persists can belong
        to an Engine this instance never saw (ADVICE r5). Without it a
        long-lived session accumulates one query's persisted builds per
        execution, and CacheManager substitution plus storage-memory
        pressure make repeat timings bimodal (Q5 at x1000 measured 13 s
        with per-leg clearCache vs 32 s without)."""
        if self.last_result is not None:
            self.last_result.release()
            self.last_result = None
        prev = getattr(self.spark, "_drpt_prev_result", None)
        if prev is not None:
            prev.release()
        self.spark._drpt_prev_result = None

    def reduce(self, rels: dict, edges: list,
               config: RPTConfig | None = None,
               opaque: set | None = None,
               host_prefiltered: "set | None" = None,
               native_edges: "set | None" = None) -> dict:
        """Apply robust predicate transfer; returns alias -> reduced DF.

        ``host_prefiltered`` and ``native_edges`` are the SQL path's
        host-plan evidence for gates "dup" and "native"
        (apply_transfer).

        Persisted build sides from the PREVIOUS reduce are released
        here: Spark's CacheManager substitutes any matching subplan
        with a leaked cached relation, so an unreleased persist from
        query N silently rewrites query N+1's scans (full-width
        InMemoryRelation instead of a pruned FileScan). One query's
        persists live exactly until the next query plans.
        """
        cfg = (config or self.config).validate()
        self._release_previous()

        dfs: dict = {}
        nodes: list = []
        filtered: set = set()
        rows_est: dict = {}
        rows_base: dict = {}
        paths: dict = {}
        colocated: dict = {}
        tables: dict = {}
        for alias, spec in rels.items():
            if isinstance(spec, str):
                spec = Rel(spec)
            elif isinstance(spec, DataFrame):
                spec = Rel(alias, df=spec)
            tables[alias] = spec.name
            df = spec.df if spec.df is not None else self.table(spec.name)
            base_rows = 0.0
            if self.catalog is not None:
                try:
                    # footer stats apply to df overrides too when they are
                    # (filtered) base tables, e.g. the auto-SQL path
                    base_rows = float(self.catalog.row_count(spec.name))
                    paths[alias] = self.catalog.path(spec.name)
                except Exception:
                    base_rows = 0.0
            if spec.filter is not None:
                df = df.filter(spec.filter)
            if spec.filter is not None or spec.prefiltered:
                filtered.add(alias)
                base_rows *= FILTER_SELECTIVITY
            dfs[alias] = df
            rows_est[alias] = base_rows
            # raw footer rows (no filter-selectivity guess): the
            # shuffle-tier selectivity gate's denominator
            rows_base[alias] = (base_rows / FILTER_SELECTIVITY
                                if alias in filtered else base_rows)
            if spec.colocated_on:
                colocated[alias] = frozenset(spec.colocated_on)
            nodes.append(TableNode(alias=alias, rows=base_rows,
                                   filtered=alias in filtered))

        # live handle: apply_transfer's observed counts flow through to
        # join_all's broadcast decisions without another stash. Gated on
        # cfg.enabled — host-size feedback is part of the extension
        # (cfg.enabled=False must reproduce native Spark exactly, or the
        # off leg of every benchmark stops being the reference baseline)
        if cfg.enabled and cfg.host_broadcast_rows > 0:
            self.last_rows_est = rows_est
            self._host_broadcast_rows = cfg.host_broadcast_rows
        else:
            self.last_rows_est = {}
            self._host_broadcast_rows = 0

        jedges = normalize_edges(edges)

        graph = JoinGraph.build(nodes, jedges)
        # reference bails out unchanged when the graph has <=1 edge
        # (rpt_optimizer.cpp:1592-1595)
        if not cfg.enabled or graph.n_edges() <= 1:
            return dfs
        if _all_broadcast(rows_est.values(), cfg):
            return dfs

        import time as _time
        t_plan = _time.perf_counter()
        if cfg.heuristic == "largest_root":
            tree = largest_root_tree(graph)
        elif cfg.heuristic == "catalyst":
            from .plans.catalyst_order import physical_alias_order

            # plan (never execute) the un-rewritten join and read the
            # host's real join order out of it — the analogue of the
            # reference reusing DuckDB's join order as the transfer DAG
            # (rpt_optimizer.cpp:494-713); fall back to declaration
            # order when leaves can't be resolved
            order = physical_alias_order(self.join_all(dfs, jedges), dfs)
            if order is not None:
                tree = execution_order_dag(graph, order,
                                           flip_roots=cfg.flip_roots)
            else:
                tree = join_order_dag(graph, flip_roots=cfg.flip_roots)
        else:
            tree = join_order_dag(graph, flip_roots=cfg.flip_roots)
        plan = plan_schedule(
            tree, pass_mode=cfg.pass_mode,
            # the reference's backward broadcast belongs to the DAG
            # (join_order) schedule, GenerateStageModificationsFromDAG
            class_broadcast=(cfg.class_broadcast
                             and cfg.heuristic in ("join_order", "catalyst")),
            edges=graph.edges)

        if cfg.display_dag:
            from .plans.dag_print import render_tree

            print(render_tree(tree, rows_est))
            print(plan.describe())
        if cfg.display_physical_dag:
            # the DAG as derived from the host's actual join order,
            # boxed 2-D like the reference's PrintPhysicalPlanDAG
            # (rpt_optimizer.cpp:812-824, dag_printer.cpp:13-180)
            from .plans.catalyst_order import physical_alias_order
            from .plans.dag_print import render_boxes

            order = physical_alias_order(self.join_all(dfs, jedges), dfs)
            ptree = (execution_order_dag(graph, order,
                                         flip_roots=cfg.flip_roots)
                     if order is not None else tree)
            print(render_boxes(ptree, rows_est))

        planning_ms = (_time.perf_counter() - t_plan) * 1e3

        # join-graph neighborhood per alias, with the key columns each
        # edge uses on that alias: gate 2b3 keeps a shuffle-tier semi
        # only when the probe has a DIFFERENT-key edge to a
        # non-broadcastable neighbor (the reduction then shrinks a
        # second, otherwise-unavoidable exchange of the probe)
        neighbor_edges: dict = {}
        for e in graph.edges:
            neighbor_edges.setdefault(e.left, []).append(
                (e.right, tuple(e.left_cols)))
            neighbor_edges.setdefault(e.right, []).append(
                (e.left, tuple(e.right_cols)))
        res = apply_transfer(dfs, rows_est, filtered, plan, cfg,
                             probe_paths=paths, colocated=colocated,
                             rows_base=rows_base,
                             neighbor_edges=neighbor_edges,
                             opaque_rels=opaque or set(),
                             host_prefiltered=host_prefiltered,
                             native_edges=native_edges)
        res.planning_ms = planning_ms
        res.tables = tables
        if cfg.profiling:
            # the reference prints its per-op summary at QueryEnd when
            # rpt_profiling is set (rpt_profiling.hpp:114-216)
            print(res.format_profile())
        self.last_result = res
        try:
            self.spark._drpt_prev_result = res
        except Exception:
            pass
        return res.dfs

    # -- final-join composition -----------------------------------------

    def join_all(self, dfs: dict, edges: list):
        """Chain the reduced relations back into the query's join, edge by
        edge, using name-based conditions (column names are unique across
        our tables; attribute-based refs would trip Spark's ambiguous
        self-join check because reduced DataFrames share key-set lineage).

        An edge whose endpoints are both already joined (a cycle-closing
        edge dropped by the spanning tree) is applied as a post-join
        filter — the transfer tree may drop it, the query must not.

        Size feedback into the host join: any non-anchor relation whose
        last_rows_est entry (observed by the transfer where it measured,
        filter-discounted footer estimate otherwise) is at or below
        ``host_broadcast_rows`` gets an explicit broadcast hint. This is
        what the static planner cannot do — it weighs a filtered dim at
        its full footer size, plans a sort-merge join, and shuffles the
        entire upstream join output (BUCKETED_r04's off-leg cost). Rows
        <= 0 mean "unknown" and are never hinted.
        """
        from pyspark.sql import functions as F

        edges = normalize_edges(edges)
        if not edges:
            raise ValueError("join_all needs at least one edge")

        def side(alias):
            df = dfs[alias]
            rows = self.last_rows_est.get(alias, 0.0)
            if 0.0 < rows <= self._host_broadcast_rows:
                return F.broadcast(df)
            return df

        joined = dfs[edges[0].left]
        included = {edges[0].left}
        pending = list(edges)
        while pending:
            progressed = False
            for e in list(pending):
                # one expr() round trip builds the whole conjunction
                # JVM-side; F.col(lc) == F.col(rc) per pair costs 3
                # py4j calls each and parses to the same unresolved
                # EqualTo attributes (plan-identical, construction-only)
                cond = F.expr(" AND ".join(
                    f"`{lc}` = `{rc}`"
                    for lc, rc in zip(e.left_cols, e.right_cols)))
                if e.left in included and e.right in included:
                    joined = joined.where(cond)
                    pending.remove(e)
                    progressed = True
                elif e.left in included:
                    joined = joined.join(side(e.right), cond, e.how)
                    included.add(e.right)
                    pending.remove(e)
                    progressed = True
                elif e.right in included:
                    how = {"left": "right", "right": "left"}.get(e.how, e.how)
                    joined = joined.join(side(e.left), cond, how)
                    included.add(e.left)
                    pending.remove(e)
                    progressed = True
            if not progressed:
                raise ValueError(f"disconnected join edges: {pending}")
        return joined

    def reduce_and_join(self, rels: dict, edges: list,
                        config: RPTConfig | None = None):
        """reduce() then join_all() — the common whole-query path."""
        r = self.reduce(rels, edges, config)
        return self.join_all(r, edges)
