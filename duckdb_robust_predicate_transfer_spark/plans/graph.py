"""Join-graph construction and transfer-tree selection.

Re-derives the reference's two scheduling heuristics from observed
behavior (NOT a port of the C++):

- ``largest_root`` — Prim *maximum* spanning tree over the join graph
  (weight = number of join columns; tie-break prefers the edge whose
  smaller endpoint is larger), rooted at the largest-cardinality
  table, then BFS levels (rpt_optimizer.cpp:215-376). This is the
  "Robust" schedule: independent of the engine's join order.
- ``join_order`` — treat the caller-provided edge order as the
  execution join order and derive a rooted DAG from it; with
  ``flip_roots`` secondary roots are flipped into leaves until a
  single anchor remains (rpt_optimizer.cpp:494-810). We approximate
  this with a forest built by processing edges in order.

Pure Python, no Spark imports — unit-testable in isolation (the
reference has no planner unit tests at all; SURVEY.md section 5).
"""

from __future__ import annotations

from collections import defaultdict, deque
from dataclasses import dataclass, field

from .ir import JoinEdge, TableNode


@dataclass
class JoinGraph:
    nodes: dict = field(default_factory=dict)      # alias -> TableNode
    edges: list = field(default_factory=list)      # list[JoinEdge]

    @classmethod
    def build(cls, nodes, edges) -> "JoinGraph":
        g = cls()
        for n in nodes:
            g.nodes[n.alias] = n
        for e in edges:
            if e.eligible():
                g.edges.append(e)
        return g

    def adjacency(self):
        adj = defaultdict(list)
        for i, e in enumerate(self.edges):
            adj[e.left].append((e.right, i))
            adj[e.right].append((e.left, i))
        return adj

    def n_edges(self) -> int:
        return len(self.edges)


@dataclass
class RootedTree:
    root: str
    #: child alias -> (parent alias, edge)
    parent: dict = field(default_factory=dict)
    #: BFS levels: levels[0] == [root]
    levels: list = field(default_factory=list)

    def tree_edges(self):
        return [(p, c, e) for c, (p, e) in self.parent.items()]


def largest_root_tree(graph: JoinGraph) -> RootedTree:
    """Prim maximum spanning tree from the largest-cardinality node.

    Mirrors the reference semantics (rpt_optimizer.cpp:215-276): start
    at the largest table; repeatedly add the frontier edge with the
    largest weight (= #join columns), breaking ties by the larger
    min-endpoint cardinality; root the tree at the start node and
    compute BFS levels (:278-376). Disconnected components are attached
    as separate BFS roots under their own largest node.
    """
    if not graph.nodes:
        return RootedTree(root="")
    rows = {a: n.rows for a, n in graph.nodes.items()}
    root = max(graph.nodes, key=lambda a: (rows[a], a))
    adj = graph.adjacency()

    in_tree = {root}
    parent: dict = {}
    # frontier: candidate edges from tree to non-tree nodes
    while len(in_tree) < len(graph.nodes):
        best = None  # (weight, min_endpoint_rows, tiebreak_alias, child, p, edge)
        for u in in_tree:
            for v, ei in adj[u]:
                if v in in_tree:
                    continue
                e = graph.edges[ei]
                key = (e.weight, min(rows[u], rows[v]), v)
                if best is None or key > best[0]:
                    best = (key, v, u, e)
        if best is None:
            # disconnected: start a new component at its largest node
            rest = [a for a in graph.nodes if a not in in_tree]
            nxt = max(rest, key=lambda a: (rows[a], a))
            in_tree.add(nxt)
            # attach as a floating root (no parent edge — no transfer
            # across a cross product)
            continue
        _, child, par, e = best
        in_tree.add(child)
        parent[child] = (par, e)

    return _bfs_levels(root, parent, graph)


def join_order_dag(graph: JoinGraph, flip_roots: bool = True) -> RootedTree:
    """Rooted tree derived from the order edges were declared.

    The reference's ``join_order`` heuristic reuses the host
    optimizer's chosen join order as the transfer DAG, flipping
    non-anchor roots into leaves (rpt_optimizer.cpp:494-810). At the
    DataFrame layer the declared edge order IS the join order, so we
    process edges in order: the first time a node is seen it joins the
    forest; the later-seen endpoint becomes the child of the
    earlier-seen one (later-executed = parent in the reference, but we
    then re-root at the largest table when ``flip_roots`` is set,
    which matches FlipRootsToLeaves ending with the largest anchor).
    """
    if not graph.nodes:
        return RootedTree(root="")
    rows = {a: n.rows for a, n in graph.nodes.items()}
    largest = max(graph.nodes, key=lambda a: (rows[a], a))
    # without flip_roots: root at the last chosen edge's later endpoint
    # (the final join output)
    return _rooted_forest(graph, graph.edges, lambda chosen: (
        largest if flip_roots or not chosen else chosen[-1].right))


def execution_order_dag(graph: JoinGraph, order: list,
                        flip_roots: bool = True) -> RootedTree:
    """Rooted tree directed by an explicit table execution order.

    ``order`` is the base tables' physical execution order (earliest
    first), as read from the host engine's plan — the reference's
    PhysicalDAGDFS assigns exactly this index with a build-first DFS
    and makes later-executed tables transfer parents
    (rpt_optimizer.cpp:532-545, :575-601). We realize the same
    directionality by choosing spanning edges in ascending order of
    their later-executed endpoint (so cycle-breaking follows the real
    join order, not declaration order) and rooting at the
    last-executed table; ``flip_roots`` instead re-roots at the
    largest table, the terminal state of FlipRootsToLeaves
    (rpt_optimizer.cpp:715-810).
    """
    if not graph.nodes:
        return RootedTree(root="")
    rows = {a: n.rows for a, n in graph.nodes.items()}
    pos = {a: i for i, a in enumerate(order)}
    ranked = sorted(
        range(len(graph.edges)),
        key=lambda i: (max(pos.get(graph.edges[i].left, 0),
                           pos.get(graph.edges[i].right, 0)), i))
    if flip_roots:
        anchor = max(graph.nodes, key=lambda a: (rows[a], a))
    else:
        anchor = max(graph.nodes, key=lambda a: pos.get(a, -1))
    return _rooted_forest(graph, [graph.edges[i] for i in ranked],
                          lambda chosen: anchor)


def _rooted_forest(graph: JoinGraph, edges: list, anchor) -> RootedTree:
    """Union ``edges``, in order, into a spanning forest (an edge joins
    two components or is skipped), then root it by BFS at
    ``anchor(chosen edges)``. Components the anchor does not reach stay
    rootless: no transfer crosses a cross product."""
    chosen: list = []
    comp: dict = {a: a for a in graph.nodes}

    def find(x):
        while comp[x] != x:
            comp[x] = comp[comp[x]]
            x = comp[x]
        return x

    for e in edges:
        ra, rb = find(e.left), find(e.right)
        if ra != rb:
            comp[ra] = rb
            chosen.append(e)

    root = anchor(chosen)
    adj = defaultdict(list)
    for e in chosen:
        adj[e.left].append((e.right, e))
        adj[e.right].append((e.left, e))
    parent: dict = {}
    seen = {root}
    q = deque([root])
    while q:
        u = q.popleft()
        for v, e in adj[u]:
            if v not in seen:
                seen.add(v)
                parent[v] = (u, e)
                q.append(v)
    return _bfs_levels(root, parent, graph)


def column_equivalence_classes(edges) -> dict:
    """Union-find over ``(alias, column)`` pairs — the reference's
    column equivalence classes (union-find at rpt_optimizer.cpp:494-511,
    used by the DAG schedule's backward broadcast, :1070-1158).

    Only **inner** edges union their endpoints: for an inner join chain
    ``a.k = b.k = c.k`` every surviving result tuple carries the same
    key value in all three tables, so a key filter built from *any*
    member is sound against any other. Outer/semi edges do not give
    that symmetric guarantee, so they contribute no equivalence.

    Returns ``{(alias, col): class_representative}`` for every column
    that appears in an inner edge.
    """
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for e in edges:
        if e.how != "inner":
            continue
        for lc, rc in zip(e.left_cols, e.right_cols):
            ra, rb = find((e.left, lc)), find((e.right, rc))
            if ra != rb:
                parent[ra] = rb
    return {k: find(k) for k in parent}


def _bfs_levels(root: str, parent: dict, graph: JoinGraph) -> RootedTree:
    children = defaultdict(list)
    for c, (p, _) in parent.items():
        children[p].append(c)
    rows = {a: n.rows for a, n in graph.nodes.items()}
    levels = [[root]]
    while True:
        nxt = []
        for u in levels[-1]:
            # per-level processing order: ascending cardinality
            # (rpt_optimizer.cpp:876-879)
            nxt.extend(sorted(children[u], key=lambda a: (rows[a], a)))
        if not nxt:
            break
        levels.append(nxt)
    return RootedTree(root=root, parent=parent, levels=levels)
