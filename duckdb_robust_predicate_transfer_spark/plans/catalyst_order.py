"""Read the host optimizer's join order out of Spark's physical plan.

The reference's ``join_order`` heuristic does not invent a transfer
schedule — it reuses the order the host engine already chose for the
joins: a build-first DFS over the physical join tree assigns every
base table an execution index, and later-executed tables become
transfer parents (BuildPhysicalPlanDAG / PhysicalDAGDFS,
rpt_optimizer.cpp:494-713). At the PySpark layer the analogous "host
plan" is Catalyst's physical plan for the un-rewritten join, which we
can traverse through py4j: join nodes expose their build side
(BroadcastHashJoinExec/ShuffledHashJoinExec ``buildSide``), and leaf
scans expose output attribute ``exprId``s that map back to the input
DataFrames.

Everything here is best-effort: any resolution failure returns None
and the caller falls back to declaration order (the behavior of the
plain ``join_order`` heuristic). The traversal never triggers a Spark
job — ``sparkPlan`` is pure planning.

The same toolkit reads a statement back after it ran:
``transfer_node_rows`` takes the row counts of each transfer landing
from the executed plan's metrics, without a job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _jseq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _output_expr_ids(jplan) -> set:
    return {a.exprId().id() for a in _jseq(jplan.output())}


def alias_expr_ids(alias_dfs: dict) -> dict:
    """alias -> set of Catalyst exprId longs of that DataFrame's output."""
    out = {}
    for alias, df in alias_dfs.items():
        out[alias] = _output_expr_ids(df._jdf.queryExecution().analyzed())
    return out


def _build_first_children(node) -> list:
    """Children of a physical node, build side first.

    The reference walks the join tree build-first so the build side's
    DFS index (= its execution order under a hash join) precedes the
    probe side's (rpt_optimizer.cpp:532-545). Spark hash joins carry
    an explicit BuildLeft/BuildRight; sort-merge joins have no build
    side, where we keep plan order (both sides sort concurrently).
    """
    kids = _jseq(node.children())
    if len(kids) == 2:
        try:
            if node.buildSide().toString() == "BuildRight":
                return [kids[1], kids[0]]
        except Exception:
            pass  # not a hash join (e.g. SortMergeJoinExec)
    return kids


def _norm_path(p: str) -> str:
    """Strip URI scheme + trailing slash so Hadoop rootPaths
    ('file:/x/y/') compare equal to catalog paths ('/x/y')."""
    if "://" in p:
        p = p.split("://", 1)[1]
    elif p.startswith("file:"):
        p = p[5:]
    return p.rstrip("/")


def _leaf_paths(node) -> "list | None":
    """Structural root paths of a leaf scan, or None.

    A physical FileSourceScanExec and an optimized logical
    LogicalRelation over a HadoopFsRelation both expose
    relation().location().rootPaths(); the toString() fallback of
    scan_prefilter_pairs truncates Location metadata at
    spark.sql.maxMetadataStringLength (default 100 chars), which made
    long fixture paths silently match nothing (ADVICE r7).
    """
    try:
        rp = node.relation().location().rootPaths()
        return [_norm_path(rp.apply(i).toString())
                for i in range(rp.size())]
    except Exception:
        return None


def _key_names(jkeys) -> "frozenset | None":
    """Column names of a hash join's key expressions, or None when any
    key is not a bare attribute (unknown => caller must not assume)."""
    try:
        names = []
        for k in _jseq(jkeys):
            if k.getClass().getSimpleName() != "AttributeReference":
                return None
            names.append(k.name())
        return frozenset(names)
    except Exception:
        return None


#: one-shot diagnostic for the silently-inert failure mode (ADVICE r7)
_warned_no_match = False


def scan_prefilter_pairs(joined: DataFrame, alias_paths: dict
                         ) -> "set | None":
    """(probe_alias, build_alias, probe_key_names) triples the HOST
    plan already filters.

    Walks the un-rewritten physical plan bottom-up and records, for
    every base-table leaf, the inner BroadcastHashJoins that sit on its
    pipeline BELOW its first shuffle exchange. Such a join drops probe
    rows missing from the build at the same per-row hash cost a
    transfer semi pays — and it does so before any exchange, i.e. at
    the exact point our broadcast-tier semi would land. A semi
    duplicating one of these joins is pure per-row overhead (gate "dup";
    measured: TPC-H Q9 at x1000, where the host broadcast-joins
    filtered part directly above the lineitem scan and the
    part->lineitem semi cost 8% of the query).

    ``probe_key_names`` is the frozenset of probe-side join-key column
    names (None when a key is a computed expression): gate "dup" must only
    suppress a semi whose probe columns the host join actually filters
    on (ADVICE r7 — today Catalyst folds all equi-keys of a pair into
    one BHJ, so a mismatch is theoretical, but suppression fires only
    on certainty).

    ``alias_paths``: alias -> parquet path of its base table; an alias
    is matched to a leaf scan structurally via the scan relation's
    rootPaths (toString substring as fallback). Ambiguity (two aliases
    sharing a path — a self-join) drops BOTH aliases: suppression must
    only fire on certainty. Returns None on any traversal failure
    (callers treat the gate as inert).
    """
    global _warned_no_match
    try:
        # NOT sparkPlan: exchanges are only inserted by
        # EnsureRequirements during executedPlan preparation. Under AQE
        # the executed plan is an AdaptiveSparkPlanExec wrapper whose
        # initialPlan carries the exchange-annotated tree (no jobs run
        # — this is pure planning).
        jplan = joined._jdf.queryExecution().executedPlan()
        if "AdaptiveSparkPlan" in jplan.getClass().getSimpleName():
            jplan = jplan.initialPlan()
        # self-joins: a path claimed by >1 alias matches no one
        by_path: dict = {}
        for a, p in alias_paths.items():
            by_path.setdefault(_norm_path(p), []).append(a)
        uniq = {p: als[0] for p, als in by_path.items() if len(als) == 1}
        pairs: set = set()
        matched_any = [False]

        def leaf_aliases(node) -> set:
            roots = _leaf_paths(node)
            if roots is not None:
                hit = {uniq[r] for r in roots if r in uniq}
            else:
                s = node.toString()
                hit = {a for p, a in uniq.items() if p in s}
            # one alias per leaf; anything else is unmatchable
            if len(hit) == 1:
                matched_any[0] = True
                return hit
            return set()

        def walk(node) -> "tuple[set, set]":
            """returns (aliases in subtree, aliases still pre-exchange)"""
            kids = _jseq(node.children())
            cname = node.getClass().getSimpleName()
            if not kids:
                hit = leaf_aliases(node)
                return set(hit), set(hit)
            subs = [walk(k) for k in kids]
            aliases = set().union(*(s for s, _ in subs))
            live = set().union(*(l for _, l in subs))
            if "ShuffleExchange" in cname or "BroadcastExchange" in cname:
                return aliases, set()
            if cname == "BroadcastHashJoinExec" and len(subs) == 2:
                try:
                    inner = node.joinType().toString() == "Inner"
                except Exception:
                    inner = False
                if inner:
                    (la, ll), (ra, rl) = subs
                    # only single-table other sides: the join condition
                    # then provably carries that table's keys
                    if len(ra) == 1:
                        b = next(iter(ra))
                        keys = _key_names(node.leftKeys())
                        pairs.update((a, b, keys) for a in ll)
                    if len(la) == 1:
                        b = next(iter(la))
                        keys = _key_names(node.rightKeys())
                        pairs.update((a, b, keys) for a in rl)
            return aliases, live

        walk(jplan)
        if alias_paths and not matched_any[0] and not _warned_no_match:
            _warned_no_match = True
            import warnings

            warnings.warn(
                "scan_prefilter_pairs: no leaf scan matched any alias "
                "path — gate 'dup' host-plan evidence is inert for "
                "this plan shape")
        return pairs
    except Exception:
        return None


import re

#: probe key inside ONE might_contain conjunct: xxhash64(col#id — only a
#: BARE attribute matches; cast-wrapped or computed keys come back None
#: (parsing is per-conjunct, see native_bloom_edges, so an unparseable
#: key can never make a later conjunct's key zip against its build)
_XXHASH_COL = re.compile(r"xxhash64\((\w+)#\d+")
#: creation column of a bloom build:  bloom_filter_agg(xxhash64(col#id
_CREATE_COL = re.compile(r"bloom_filter_agg\(xxhash64\((\w+)#\d+")


def native_bloom_edges(fresh: DataFrame, table_paths: dict,
                       table_cols: "dict | None" = None) -> "list | None":
    """Edges of the native runtime blooms Spark's InjectRuntimeFilter
    planted in ``fresh``'s optimized logical plan — pure planning, no
    jobs (bloom subqueries only run at an action).

    ``fresh`` must be a FRESHLY constructed DataFrame analyzed while
    ``spark.sql.optimizer.runtime.bloomFilter.enabled`` is true:
    QueryExecution caches the optimized plan on first access, so a
    DataFrame planned under suppression reports zero blooms forever.

    Spark only ever builds a native bloom from a bare
    selective-filter-over-scan (InjectRuntimeFilter's
    extractSelectiveFilterOverScan; verified empirically on the JOB
    fixture), so every bloom is a (probe_table, probe_col, build_table)
    edge directly comparable to a transfer op's edge. ``table_paths``
    maps table name -> parquet path for leaf resolution. When a side's
    lineage spans several leaves (the creation side is a SHADOWED view
    — a reduced DataFrame whose semi-join lineage reads two base
    tables), ``table_cols`` (table -> lowercase column-name set)
    breaks the tie by unique column ownership: bloom_filter_agg's
    o_orderkey can only come from orders. Sides still unresolvable
    come back as None in the tuple. Returns None on traversal failure.

    Probe keys are parsed PER might_contain CONJUNCT (split on the
    literal, one key slot per conjunct): a cast-wrapped or computed key
    yields None in ITS slot instead of letting a multi-conjunct regex
    bridge into the next conjunct and zip a probe col against the
    wrong build. A Filter whose key-slot count still disagrees with
    its subquery count emits no edges at all (counts as covered —
    suppression is the certified default).
    """
    try:
        plan = fresh._jdf.queryExecution().optimizedPlan()
        # one py4j string read settles the common no-bloom plan; the
        # walk below costs several round trips per node
        if "bloom_filter_agg(" not in plan.toString():
            return []
        path_to_table = {_norm_path(p): t for t, p in table_paths.items()}
        owners: dict = {}
        if table_cols:
            for t, cols in table_cols.items():
                for c in cols:
                    c = c.lower()
                    # None marks a column name owned by >1 table
                    owners[c] = None if c in owners else t

        def leaf_tables(node) -> set:
            out: set = set()
            stack = [node]
            while stack:
                n = stack.pop()
                kids = _jseq(n.children())
                if kids:
                    stack.extend(kids)
                    continue
                roots = _leaf_paths(n)
                for r in roots or ():
                    if r in path_to_table:
                        out.add(path_to_table[r])
            return out

        def resolve(tabs: set, col) -> "str | None":
            if len(tabs) == 1:
                return next(iter(tabs))
            t = owners.get(col.lower()) if col else None
            # ownership must agree with the lineage when we have one.
            # Empty ``tabs`` accepts ownership alone — NOT a mistake
            # (ADVICE r10 considered requiring >=1 resolved leaf):
            # bloom subquery sides are EXPRESSIONS, not plan nodes, so
            # leaf resolution returns zero leaves for every creation
            # side (measured: the sf0.001 arbitration test's reduced-
            # orders bloom resolves {} leaves); requiring a leaf would
            # disable the ownership mechanism everywhere it matters.
            # The theoretical mis-attribution (a temp view carrying a
            # uniquely-owned catalog column name) makes an edge count
            # as COVERED, i.e. falls back to the certified suppression
            # default — a safe failure direction.
            return t if t is not None and (not tabs or t in tabs) else None

        edges: list = []
        stack = [plan]
        while stack:
            node = stack.pop()
            stack.extend(_jseq(node.children()))
            if node.getClass().getSimpleName() != "Filter":
                continue
            cond = node.condition().toString()
            if "might_contain" not in cond:
                continue
            probes = leaf_tables(node)
            # one key slot per conjunct: segment i is the text between
            # the i-th might_contain( and the next (or end of cond)
            probe_cols = []
            for seg in cond.split("might_contain(")[1:]:
                m = _XXHASH_COL.search(seg)
                probe_cols.append(m.group(1) if m else None)
            # creation sides live in this Filter's subquery plans, in
            # the same expression order as the might_contain conjuncts
            builds = []
            for sub in _jseq(node.subqueries()):
                head = sub.toString().split("\n", 1)[0]
                cm = _CREATE_COL.search(head)
                if cm is None:
                    # keep the slot (preserving conjunct order) so one
                    # cast-wrapped build does not discard the Filter's
                    # other, parseable edges (ADVICE r9): this conjunct
                    # alone counts as covered
                    builds.append((None, None))
                    continue
                bt = leaf_tables(sub)
                builds.append((resolve(bt, cm.group(1)), cm.group(1)))
            if len(builds) != len(probe_cols):
                continue
            for pc, (bt, bc) in zip(probe_cols, builds):
                edges.append({"probe_table": resolve(probes, pc),
                              "probe_col": pc,
                              "build_table": bt, "build_col": bc})
        return edges
    except Exception:
        return None


def statement_evidence(df: DataFrame, alias_paths: dict, table_paths: dict,
                       table_cols: "dict | None" = None) -> tuple:
    """(scan_prefilter_pairs, native_bloom_edges) of one statement, both
    read from ``df``'s one QueryExecution: the executed plan gives the
    host-prefiltered pairs, the optimized plan it was planned from gives
    the native bloom edges. ``df`` is planned under whatever injection
    setting its session holds, so the blooms are the ones it will run
    with; the pairs do not depend on it (Spark injects blooms as Filters
    that move no join and no exchange)."""
    return (scan_prefilter_pairs(df, alias_paths),
            native_bloom_edges(df, table_paths, table_cols))


def physical_alias_order(joined: DataFrame, alias_dfs: dict) -> "list | None":
    """Aliases in physical execution order, or None if unresolvable.

    ``joined`` must be the *un-rewritten* composition of the relations
    in ``alias_dfs`` (the same DataFrame objects — leaf matching is by
    Catalyst exprId, which joins preserve). Self-joins re-alias one
    side's exprIds; such leaves simply fail to match and the function
    returns None rather than guessing.
    """
    try:
        ids = alias_expr_ids(alias_dfs)
        jplan = joined._jdf.queryExecution().sparkPlan()
        order: list = []
        stack = [jplan]
        while stack:
            node = stack.pop()
            kids = _build_first_children(node)
            if not kids:
                leaf_ids = _output_expr_ids(node)
                hits = [a for a, s in ids.items()
                        if s & leaf_ids and a not in order]
                if len(hits) == 1:
                    order.append(hits[0])
            else:
                # stack is LIFO: push reversed so kids[0] pops first
                stack.extend(reversed(kids))
        if set(order) != set(alias_dfs):
            return None
        return order
    except Exception:
        return None



#: a transfer filter's tag in a column name: ``__k{n}_{i}`` (key-set
#: column i) or ``__k{n}_bf`` (bloom column)
_TAG = re.compile(r"\b(__k\d+)_")
_ATTR = re.compile(r"(\w+)#\d+")
#: the key columns of a might_contain probe: xxhash64(cols..., seed)
_XXHASH_ARGS = re.compile(r"xxhash64\((.*?), -?\d+\)")
_SEMI_JOINS = ("BroadcastHashJoinExec", "ShuffledHashJoinExec",
               "SortMergeJoinExec")


def _ran_children(node) -> list:
    """Children of an executed node, through the adaptive wrapper, query
    stages, reused exchanges and cached plans (whose nodes ran where
    the cache was filled)."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    if name == "ReusedExchangeExec":
        return [node.child()]
    if name == "InMemoryTableScanExec":
        return [node.relation().cachedPlan()]
    return _jseq(node.children())


def _rows(node) -> "int | None":
    m = node.metrics().get("numOutputRows")
    return m.get().value() if m.isDefined() else None


def _rows_below(node) -> "int | None":
    """numOutputRows of the first node at or below ``node`` on its
    first-child path that counts rows."""
    while (n := _rows(node)) is None:
        kids = _ran_children(node)
        if not kids:
            return None
        node = kids[0]
    return n


def transfer_node_rows(df: DataFrame) -> dict:
    """(tag, frozenset of lowercased probe columns) -> (rows in, rows
    out) of each node a transfer landing produced in ``df``'s executed
    plan: a left-semi join whose build keys carry the tag, or a Filter
    whose ``might_contain`` reads a bloom column that does. Rows in are
    read at the probe-side input; a bloom's Filter may also hold probe
    predicates Catalyst combined into it, read after its rows in.

    Call it once ``df`` has executed: it reads metrics only, so it
    starts no job and leaves the plan as it was. A node found more than
    once keeps the reading with the most rows in; a node AQE removed
    (an empty relation) has no entry. {} when the plan cannot be read.
    """
    out: dict = {}
    seen: set = set()
    try:
        stack = [df._jdf.queryExecution().executedPlan()]
        while stack:
            node = stack.pop()
            kids = _ran_children(node)
            name = node.getClass().getSimpleName()
            found = []
            if name == "InMemoryTableScanExec":
                h = kids[0].hashCode()
                if h in seen:
                    continue
                seen.add(h)
            elif (name in _SEMI_JOINS
                  and node.joinType().toString() == "LeftSemi"):
                probe = node.leftKeys().toString()
                found = [(t, probe) for t in
                         set(_TAG.findall(node.rightKeys().toString()))]
            elif name == "FilterExec":
                segs = node.condition().toString().split("might_contain(")
                subs = _jseq(node.subqueries()) if len(segs) > 1 else []
                for seg, sub in (zip(segs[1:], subs)
                                 if len(subs) == len(segs) - 1 else ()):
                    m = _XXHASH_ARGS.search(seg)
                    found += [(t, m.group(1) if m else "") for t in
                              set(_TAG.findall(sub.output().toString()))]
            for tag, probe in found:
                key = (tag, frozenset(
                    c.lower() for c in _ATTR.findall(probe)))
                got = (_rows_below(kids[0]), _rows(node))
                if key not in out or (got[0] or 0) > (out[key][0] or 0):
                    out[key] = got
            stack.extend(kids)
        return out
    except Exception:
        return {}
