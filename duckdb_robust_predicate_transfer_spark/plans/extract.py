"""Automatic join-graph extraction from Catalyst analyzed plans.

The reference rewrites *any* SQL statement with more than one eligible
join edge, with no user involvement: its optimizer-extension hook walks
DuckDB's logical plan, collecting base-table units and equi-join
conditions into a graph (ExtractOperators / CreateJoinEdges,
rpt_optimizer.cpp:25-139, :168-213, hook at :1702-1722). This module is
the PySpark analogue: given any DataFrame, traverse
``queryExecution().analyzed()`` through py4j and harvest

- base-relation *instances*: a ``SubqueryAlias`` chain ending in a
  registered view / parquet relation,
- local filters: deterministic ``Filter``/``ON`` conjuncts whose
  attribute references all land in one instance (rendered back to SQL
  with ``Expression.sql()``), and
- equi-join edges: ``attrA = attrB`` conjuncts whose sides land in two
  different instances — from join conditions (inner/left/right/semi)
  and from WHERE conjuncts (which enforce inner semantics regardless of
  the join shape beneath).

Everything is fail-safe: any node class outside a conservative
allowlist, any subquery expression, or any resolution miss returns
``None`` and the caller runs the query un-rewritten — exactly the
"extension not loaded" baseline. The traversal never launches a job;
the analyzed plan is pure metadata.

Correctness argument for the caller's view-substitution replay: a
semi-join reduction only ever removes build-non-matching rows, which
the query's own joins/filters would drop anyway; deterministic WHERE
re-application is idempotent. The one construct where removed rows
could *resurrect* output (null-extension of a FULL OUTER JOIN's other
side) is poisoned: every leaf beneath a full-outer join is barred from
reduction.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from .ir import JoinEdge

#: logical-plan node classes the walk may pass through. Anything else
#: (WithCTE, Sample, scripting nodes, ...) aborts extraction: we only
#: rewrite plans whose semantics we can vouch for.
_PASS_NODES = {
    "Project", "Filter", "Join", "Aggregate", "Sort", "SubqueryAlias",
    "GlobalLimit", "LocalLimit", "Offset", "Distinct", "Deduplicate",
    "Window", "Generate", "Union", "Intersect", "Except", "Expand",
    "Repartition", "RepartitionByExpression", "WithWindowDefinition",
}

#: Catalyst Join.joinType().toString() -> JoinEdge.how for edges whose
#: keys we may harvest. FULL OUTER is handled by subtree poisoning;
#: LeftAnti's right-side attributes cannot escape the join, so no edge
#: is ever harvestable from it and it needs no entry.
_JOIN_HOW = {
    "Inner": "inner",
    "Cross": "inner",
    "LeftOuter": "left",
    "RightOuter": "right",
    "LeftSemi": "left_semi",
}

_LEAF_RELATIONS = {"LogicalRelation", "DataSourceV2Relation",
                   "HiveTableRelation"}

_SUBQUERY_EXPRS = {"ScalarSubquery", "ListQuery", "Exists", "InSubquery",
                   "LateralSubquery", "DynamicPruningSubquery"}


class _Unsupported(Exception):
    pass


@dataclass
class LeafInstance:
    """One occurrence of a base table in the plan."""

    alias: str            #: outermost SubqueryAlias name (SQL alias)
    table: str            #: registered table / view name
    col_by_id: dict       #: output exprId -> column name
    filters: list = field(default_factory=list)  #: conjunct SQL strings
    protected: bool = False  #: under a FULL OUTER join -> never reduce


@dataclass
class Extraction:
    instances: dict  #: alias -> LeafInstance
    edges: list      #: list[JoinEdge] between instance aliases
    #: table -> list of allowed reduction key groups (one per recognized
    #: correlated-subquery occurrence); see _Walker.shared_sub
    shared_sub: dict = field(default_factory=dict)
    #: aliases that feed a join the graph carries NO edge for (anti /
    #: full outer): those joins are real — usually shuffled — exchanges
    #: of both inputs in the final plan, so the exchange-benefit gate
    #: (rewrite.py gate "dup") must never judge these relations
    #: "exchange-free" from their graph neighborhood alone
    opaque: set = field(default_factory=set)

    def occurrences(self, table: str) -> int:
        return sum(1 for i in self.instances.values() if i.table == table)


def _cls(jobj) -> str:
    return jobj.getClass().getSimpleName()


def _jseq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _conjuncts(expr) -> list:
    if _cls(expr) == "And":
        return _conjuncts(expr.left()) + _conjuncts(expr.right())
    return [expr]


def _disjuncts(expr) -> list:
    if _cls(expr) == "Or":
        return _disjuncts(expr.left()) + _disjuncts(expr.right())
    return [expr]


def _scan_expr(expr, attr_ids: list) -> None:
    """Collect AttributeReference exprIds; reject subquery expressions.
    (Strict form — used where a subquery can never be tolerated, e.g.
    inside an equi-edge side.)"""
    c = _cls(expr)
    if c in _SUBQUERY_EXPRS or "Subquery" in c:
        raise _Unsupported("subquery expression")
    if c == "AttributeReference":
        attr_ids.append(expr.exprId().id())
        return
    for child in _jseq(expr.children()):
        _scan_expr(child, attr_ids)


def _leaf_of(node, known_tables: set):
    """(outer_alias, table) if ``node`` roots a base-relation chain.

    Accepts ``SubqueryAlias+ -> (View -> ... | relation)``. A Project
    *between* the alias and the View is a query-level rename (a derived
    subquery) — rejected, so the walk descends and registers the deeper
    relation instead; the View's own body (e.g. the catalog's events
    timestamp conversion) is part of the table definition and is fine.
    """
    names = []
    cur = node
    while _cls(cur) == "SubqueryAlias":
        names.append(cur.alias())
        kids = _jseq(cur.children())
        if len(kids) != 1:
            return None
        cur = kids[0]
    if not names:
        return None
    c = _cls(cur)
    if c != "View" and c not in _LEAF_RELATIONS:
        return None
    table = names[-1]
    if table not in known_tables:
        return None
    return names[0], table


class _Walker:
    def __init__(self, known_tables: set):
        self.known = known_tables
        self.instances: dict = {}
        self.id_map: dict = {}    # exprId -> (alias, col name)
        self.edges: list = []
        self.opaque: set = set()  # aliases under anti/full joins
        #: aliases below the NULL-PRODUCING side of some outer join:
        #: conjuncts harvested ABOVE that join see the alias's columns
        #: post-padding (NULL for unmatched preserved rows), so baking
        #: them into the base-table shadow is unsound — the classic
        #: ``LEFT JOIN ... WHERE x IS NULL`` anti idiom would pre-filter
        #: the base table to its NULL keys (usually empty) and flip the
        #: anti into keep-everything (r8 finding, JOB jq22)
        self.null_padded: set = set()
        #: tables referenced INSIDE subquery expressions. The caller's
        #: replay re-analyzes the same SQL against shadow views, so a
        #: reduced shadow would also substitute into the subquery and
        #: could change ITS result — these tables are therefore barred
        #: from reduction/shadowing (the analogue of the reference
        #: excluding MARK-join build sides from transfer,
        #: rpt_optimizer.cpp:546-549, while still rewriting the rest).
        self.protected_tables: set = set()
        #: table -> list of allowed reduction keys, one entry per
        #: recognized correlated-scalar-subquery occurrence: each entry
        #: is a list of (inner_col, outer_alias, outer_col) equi pairs.
        #: The reference reaches these scans by treating the DELIM join
        #: as an edge source (rpt_optimizer.cpp:49-50); our view-level
        #: shadowing reaches them for free PROVIDED the shadow's only
        #: reductions are keyed exactly by the correlation columns —
        #: then every subquery group a surviving outer row can look up
        #: is computed over unchanged rows (see engine._auto_transfer_sql).
        self.shared_sub: dict = {}

    # -- subquery tolerance ---------------------------------------------

    def _scan_tolerant(self, expr, attr_ids: list, flags: list) -> None:
        """Like _scan_expr, but a subquery expression sets a flag and
        protects its inner tables instead of aborting extraction: the
        conjunct is simply not harvested (the replayed SQL re-applies
        it verbatim), which is always sound because reduction only ever
        removes rows a harvested join would drop anyway."""
        c = _cls(expr)
        if c in _SUBQUERY_EXPRS or "Subquery" in c:
            flags.append(c)
            if c == "ScalarSubquery" and self._try_shared_subquery(expr):
                # recognized Q17-shape correlated aggregate: the leaf
                # stays shadow-SHARED (constraint recorded) instead of
                # protected; children already vetted by the recognizer
                return
            try:
                self._protect_plan(expr.plan())
            except Exception:
                # wrapper without a plan() (e.g. InSubquery) — its
                # ListQuery child below carries it
                pass
            for child in _jseq(expr.children()):
                self._scan_tolerant(child, [], flags)
            return
        if c == "AttributeReference":
            attr_ids.append(expr.exprId().id())
            return
        for child in _jseq(expr.children()):
            self._scan_tolerant(child, attr_ids, flags)

    def _try_shared_subquery(self, expr) -> bool:
        """Recognize the DELIM shape the reference transfers into
        (rpt_optimizer.cpp:49-50 treats LOGICAL_DELIM_JOIN as an edge
        source): a correlated scalar aggregate over ONE known base
        table whose every correlation conjunct is an equi pair
        ``inner.col = outer(attr)``. On success, records
        shared_sub[table] += [allowed (inner_col, outer_alias,
        outer_col) pairs] and returns True — the caller then skips
        protection, and the engine may shadow the table's view iff its
        reductions are keyed exactly by those pairs (a key-set semi on
        the correlation column cannot change any subquery group a
        surviving outer row can reference). Anything unrecognized
        returns False and falls back to full protection — fail-safe."""
        try:
            plan = expr.plan()
            if _cls(plan) != "Aggregate":
                return False
            # aggregate/grouping expressions must not hide another
            # subquery (outer refs there are fine: they are constants
            # per evaluation and unaffected by inner-row reduction)
            for e in _jseq(plan.expressions()):
                if self._has_subquery(e):
                    return False
            node = _jseq(plan.children())[0]
            conds: list = []
            while True:
                c = _cls(node)
                if c == "Filter":
                    conds.extend(_conjuncts(node.condition()))
                    node = _jseq(node.children())[0]
                elif c == "Project":
                    for e in _jseq(node.expressions()):
                        if self._has_subquery(e):
                            return False
                    node = _jseq(node.children())[0]
                elif c == "SubqueryAlias":
                    leaf = _leaf_of(node, self.known)
                    break
                else:
                    return False
            if leaf is None:
                return False
            _, table = leaf
            inner_ids = {a.exprId().id(): a.name()
                         for a in _jseq(node.output())}
            pairs = []
            for conj in conds:
                got = self._corr_conjunct(conj, inner_ids)
                if got is None:
                    return False
                if got != "local":
                    pairs.append(got)
            if not pairs:
                return False  # uncorrelated: plain protection is right
            allowed = []
            for inner_col, outer_id in pairs:
                o = self.id_map.get(outer_id)
                if o is None:
                    return False  # outer side not a walked instance
                allowed.append((inner_col, o[0], o[1]))
            self.shared_sub.setdefault(table, []).append(allowed)
            return True
        except Exception:
            return False

    def _has_subquery(self, expr) -> bool:
        c = _cls(expr)
        if c in _SUBQUERY_EXPRS or "Subquery" in c:
            return True
        return any(self._has_subquery(ch) for ch in _jseq(expr.children()))

    def _corr_conjunct(self, conj, inner_ids: dict):
        """Classify one subquery-filter conjunct: ("col", outer_id) for
        an equi correlation pair, "local" for a deterministic inner-only
        predicate (replayed verbatim inside the subquery text), None for
        anything else (kills recognition)."""
        outer_ids: list = []
        ids: list = []
        self._scan_outer(conj, ids, outer_ids)
        if None in ids or None in outer_ids:
            return None  # nested subquery inside the conjunct
        if not outer_ids:
            if all(i in inner_ids for i in ids) and conj.deterministic():
                return "local"
            return None
        if _cls(conj) != "EqualTo":
            return None

        def side(e):
            c = _cls(e)
            if c == "OuterReference":
                try:
                    inner = e.e()
                except Exception:
                    return None
                if _cls(inner) == "AttributeReference":
                    return ("outer", inner.exprId().id())
                return None
            if c == "AttributeReference":
                return ("inner", e.exprId().id())
            return None

        a, b = side(conj.left()), side(conj.right())
        if a is None or b is None or a[0] == b[0]:
            return None
        inner_id = a[1] if a[0] == "inner" else b[1]
        outer_id = a[1] if a[0] == "outer" else b[1]
        if inner_id not in inner_ids:
            return None
        return (inner_ids[inner_id], outer_id)

    def _scan_outer(self, expr, ids: list, outer_ids: list) -> None:
        """Collect inner attr ids and OuterReference attr ids; a nested
        subquery poisons both lists (sets them unusable via sentinel)."""
        c = _cls(expr)
        if c in _SUBQUERY_EXPRS or "Subquery" in c:
            ids.append(None)      # sentinel: caller's membership checks
            outer_ids.append(None)  # fail on None, killing recognition
            return
        if c == "OuterReference":
            # the wrapped attr is the `e` FIELD, not a child
            try:
                inner = expr.e()
            except Exception:
                inner = None
            if inner is not None and _cls(inner) == "AttributeReference":
                outer_ids.append(inner.exprId().id())
            else:
                outer_ids.append(None)  # unrecognized wrapper: poison
            return
        if c == "AttributeReference":
            ids.append(expr.exprId().id())
            return
        for ch in _jseq(expr.children()):
            self._scan_outer(ch, ids, outer_ids)

    def _protect_plan(self, plan) -> None:
        """Record every known table referenced anywhere under a
        subquery's plan (incl. nested subqueries)."""
        if _cls(plan) == "SubqueryAlias":
            leaf = _leaf_of(plan, self.known)
            if leaf is not None:
                self.protected_tables.add(leaf[1])
                return
        for kid in _jseq(plan.children()):
            self._protect_plan(kid)
        for e in _jseq(plan.expressions()):
            self._scan_tolerant(e, [], [])

    # -- condition harvesting -------------------------------------------

    def _attach(self, conjunct, how: str | None,
                left_set: set, right_set: set,
                scope: set | None = None) -> None:
        """Route one conjunct: equi edge, local filter, or ignore.
        ``scope`` = aliases of the subtree the conjunct filters — the
        opaque fallback when a subquery-bearing conjunct exposes no
        outer attribute ids at this level (EXISTS/IN correlation lives
        inside the subquery plan, invisible here)."""
        flags: list = []
        c = _cls(conjunct)
        if c == "EqualTo":
            ids_l: list = []
            ids_r: list = []
            self._scan_tolerant(conjunct.left(), ids_l, flags)
            self._scan_tolerant(conjunct.right(), ids_r, flags)
            if flags:
                # e.g. ``col = (scalar subquery)``: replayed, and the
                # outer relations feed a subquery join — opaque (below)
                hit = {self.id_map[i][0] for i in ids_l + ids_r
                       if i in self.id_map}
                self.opaque |= hit if hit else (scope or set())
                return
            if (len(ids_l) == 1 and len(ids_r) == 1
                    and _cls(conjunct.left()) == "AttributeReference"
                    and _cls(conjunct.right()) == "AttributeReference"):
                a = self.id_map.get(ids_l[0])
                b = self.id_map.get(ids_r[0])
                if a and b and a[0] != b[0]:
                    if how is None:
                        # WHERE-clause equality enforces inner semantics
                        self.edges.append(
                            JoinEdge(a[0], b[0], (a[1],), (b[1],), "inner"))
                        return
                    # join-condition edge: orient to the join's sides
                    if a[0] in right_set and b[0] in left_set:
                        a, b = b, a
                    if a[0] in left_set and b[0] in right_set:
                        self.edges.append(
                            JoinEdge(a[0], b[0], (a[1],), (b[1],), how))
                    return
        # not a usable equi pair: try attaching as a local filter
        ids: list = []
        self._scan_tolerant(conjunct, ids, flags)
        if flags:
            # subquery-bearing conjunct (EXISTS / IN / correlated
            # scalar): replayed, never harvested — but the optimizer
            # turns it into a real semi/anti JOIN of the outer
            # relations it references, an exchange the edge graph does
            # not carry. Mark those relations opaque so gate "dup" cannot
            # judge them exchange-free (TPC-H Q22: customer's only
            # non-subquery join is the anti join itself).
            hit = {self.id_map[i][0] for i in ids if i in self.id_map}
            self.opaque |= hit if hit else (scope or set())
            return
        owners = {self.id_map[i][0] for i in ids if i in self.id_map}
        if len(owners) == 1 and len(ids) > 0 and conjunct.deterministic():
            alias = owners.pop()
            if not self._filter_sound(alias, how, left_set, right_set):
                return
            inst = self.instances.get(alias)
            if inst is not None and all(i in self.id_map for i in ids):
                inst.filters.append(conjunct.sql())
        elif len(owners) > 1 and _cls(conjunct) == "Or":
            self._imply_from_or(conjunct, how, left_set, right_set)

    def _filter_sound(self, alias: str, how: str | None,
                      left_set: set, right_set: set) -> bool:
        """May a (possibly implied) local filter owned by ``alias`` be
        baked into its shadow view, given the conjunct's provenance?

        WHERE-clause / inner-join / semi-join conjuncts: only when the
        alias is not null-padded below (an outer join between the
        conjunct and the instance means the conjunct sees post-padding
        values — ``IS NULL`` would keep exactly the padded rows, which
        no base-table filter can express; r8 finding, JOB jq22's
        LEFT-JOIN-IS-NULL anti idiom). Outer-join ON conjuncts: ONLY
        when the alias sits on the null-producing side of THIS join
        (right of LEFT, left of RIGHT) and is not padded by a deeper
        outer join — ON applies pre-padding there. On the PRESERVED
        side the join keeps rows that fail the ON clause (they pad
        with NULLs), so a baked filter both drops preserved rows at
        replay and unsoundly marks the instance prefiltered for the
        transfer cascade."""
        if alias in self.null_padded:
            return False
        if how is None or how in ("inner", "left_semi"):
            return True
        if how == "left":
            return alias in right_set
        if how == "right":
            return alias in left_set
        return False

    def _imply_from_or(self, conjunct, how: str | None = None,
                       left_set: set = frozenset(),
                       right_set: set = frozenset()) -> None:
        """Predicate move-around for cross-instance disjunctions — the
        host-optimizer trick the reference inherits from DuckDB.

        ``(n1.a=X AND n2.a=Y) OR (n1.a=Y AND n2.a=X)`` (TPC-H Q7/Q19
        shape) constrains NEITHER table as a single-owner conjunct, so
        without this the dims stay unfiltered, the transfer cascade has
        no selective source, and the info gate skips everything
        (measured at TPCH_SCALE 100x: the whole Q7 rpt regression). For
        each alias that every disjunct constrains, the OR of its
        per-disjunct atoms is a LOGICALLY IMPLIED local filter: a row
        failing it fails every disjunct, hence the original predicate —
        which the replay re-applies verbatim anyway, so adding the
        implication to the shadow view is sound by construction."""
        if not conjunct.deterministic():
            return
        per: list = []        # per-disjunct: alias -> [atom SQL]
        seen: set = set()
        for d in _disjuncts(conjunct):
            owned: dict = {}
            for atom in _conjuncts(d):
                ids: list = []
                flags: list = []
                self._scan_tolerant(atom, ids, flags)
                if flags:
                    return  # subquery inside the OR: no implication
                owners = {self.id_map[i][0] for i in ids
                          if i in self.id_map}
                if (len(owners) == 1 and ids
                        and all(i in self.id_map for i in ids)
                        and atom.deterministic()):
                    owned.setdefault(owners.pop(), []).append(atom.sql())
            per.append(owned)
            seen |= set(owned)
        for alias in seen:
            if all(alias in owned for owned in per):
                if not self._filter_sound(alias, how, left_set, right_set):
                    continue
                inst = self.instances.get(alias)
                if inst is not None:
                    branches = [" AND ".join(f"({s})" for s in owned[alias])
                                for owned in per]
                    inst.filters.append(
                        " OR ".join(f"({b})" for b in branches))

    def _single_attach(self, conjunct) -> None:
        """EqualTo within one instance is a local filter, not an edge."""
        self._attach(conjunct, None, set(), set())

    # -- plan traversal -------------------------------------------------

    def walk(self, node) -> set:
        """Returns the set of instance aliases in this subtree."""
        c = _cls(node)
        leaf = _leaf_of(node, self.known) if c == "SubqueryAlias" else None
        if leaf is not None:
            alias, table = leaf
            if alias in self.instances:
                raise _Unsupported(f"duplicate alias {alias}")
            col_by_id = {a.exprId().id(): a.name()
                         for a in _jseq(node.output())}
            self.instances[alias] = LeafInstance(alias, table, col_by_id)
            self.id_map.update(
                {i: (alias, n) for i, n in col_by_id.items()})
            return {alias}

        if c == "WithCTE":
            # WithCTE(cteDefs..., plan): harvest the main plan; every
            # table inside a CTE body is protected — the replay
            # re-analyzes the full SQL, so a reduced shadow would
            # substitute into the CTE definition and change its rows
            kids = _jseq(node.children())
            defs = [k for k in kids if _cls(k) == "CTERelationDef"]
            mains = [k for k in kids if _cls(k) != "CTERelationDef"]
            if len(mains) != 1:
                raise _Unsupported("WithCTE shape")
            for d in defs:
                self._protect_plan(d)
            return self.walk(mains[0])

        if c == "CTERelationRef":
            # opaque leaf: no instance, no edges through it; conjuncts
            # touching its attributes simply fail to attach and are
            # replayed by the query text
            return set()

        if c == "Join":
            kids = _jseq(node.children())
            left_set = self.walk(kids[0])
            right_set = self.walk(kids[1])
            jt = node.joinType().toString()
            cond = node.condition()
            conjs = (_conjuncts(cond.get()) if cond.isDefined() else [])
            if jt == "FullOuter":
                for alias in left_set | right_set:
                    self.instances[alias].protected = True
            how = _JOIN_HOW.get(jt)
            if how is None:
                # anti/full joins carry no transfer edges, but they ARE
                # exchanges of both inputs in the final plan — mark the
                # relations opaque so gate "dup" cannot call them
                # exchange-free from the edge graph alone
                self.opaque |= left_set | right_set
            for conj in conjs:
                if how is not None:
                    self._attach(conj, how, left_set, right_set)
                else:
                    # full/anti conditions are replayed by the query
                    # itself; hidden subqueries protect their tables
                    self._scan_tolerant(conj, [], [])
            # AFTER this join's own ON conjuncts (which apply
            # pre-padding): everything under the null-producing side is
            # padded for every conjunct harvested above (_filter_sound)
            if how == "left":
                self.null_padded |= right_set
            elif how == "right":
                self.null_padded |= left_set
            elif how is None:
                self.null_padded |= left_set | right_set
            return left_set | right_set

        if c not in _PASS_NODES:
            raise _Unsupported(c)

        sub: set = set()
        for kid in _jseq(node.children()):
            sub |= self.walk(kid)

        if c == "Filter":
            for conj in _conjuncts(node.condition()):
                self._attach(conj, None, set(), set(), scope=sub)
        else:
            # subquery expressions elsewhere (e.g. a scalar subquery in
            # a SELECT list) protect their tables; the replay re-binds
            # them against the untouched views
            for e in _jseq(node.expressions()):
                self._scan_tolerant(e, [], [])
        return sub


#: returned (instead of None) when extraction failed for a reason that
#: is NOT a property of the query shape — e.g. a transient py4j error.
#: Callers treat it like None ("run un-rewritten") but must not cache
#: it: a genuine unsupported-shape bail is permanent for the statement,
#: a transient failure is not (ADVICE r5).
TRANSIENT_BAIL = object()


def extract_join_graph(df: DataFrame, known_tables: set) -> Extraction | None:
    """Best-effort join-graph extraction; None = run un-rewritten."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        w = _Walker(set(known_tables))
        w.walk(plan)
        # a table referenced inside a subquery must keep its original
        # contents at replay: bar every outer instance of it too. A
        # recognized shared-subquery table escapes ONLY if no other
        # (unrecognized) subquery occurrence protected it.
        shared = {t: g for t, g in w.shared_sub.items()
                  if t not in w.protected_tables}
        for inst in w.instances.values():
            if inst.table in w.protected_tables:
                inst.protected = True
        # drop edges touching protected (full-outer / subquery) instances
        edges = [e for e in w.edges
                 if not w.instances[e.left].protected
                 and not w.instances[e.right].protected]
        if not edges:
            return None
        return Extraction(instances=w.instances, edges=edges,
                          shared_sub=shared, opaque=set(w.opaque))
    except _Unsupported:
        return None
    except Exception:
        return TRANSIENT_BAIL
