"""Duplicate-cluster resolution: connected components over candidate
pairs.

Near-dup detection (dedup.py / the portable-oracle pipelines) emits
PAIRS; a training-data run needs CLUSTERS — "keep one document per
group of mutual near-duplicates", where duplicate chains (a~b, b~c,
a!~c) must still collapse to one survivor. That is connected
components over the pair graph: finished on the driver when the edge
list is small (Local finish, below), otherwise computed as iterative
min-label propagation in pure DataFrame ops:

- every node starts labeled with itself;
- each round, a node takes the minimum label among itself and its
  neighbors' labels (one join + one groupBy per round);
- iterate to fixpoint: converged when no label changed.

Rounds needed = graph diameter; duplicate clusters are shallow (near-
dup groups, not social graphs), so the loop is short in practice and
``max_iters`` bounds it. Each round materializes via localCheckpoint —
iterative lineage would otherwise stack and re-execute (and the
CacheManager stays out of later queries' plans). A checkpoint nothing
reads any more is unpersisted at once: each superseded round, and the
edge list when the call returns, so only the returned labels' own
checkpoint outlives the call (none after the local finish). The
per-round convergence check is one count aggregate, not a collect of
labels.

At 100 TB scale the same loop shape holds: the label frontier shuffles
on node id each round, and adversarial diameters are covered by the
default pointer-jumping step (each round additionally replaces a
node's label with its label's label, TWICE — quartering the remaining
chain length per round; O(log diameter) rounds total instead of
O(diameter), the classic Shiloach-Vishkin shortcut as used by the
MapReduce CC literature). Two extra in-round self-joins trade against
whole driver-sequenced rounds, each of which costs a checkpoint job
plus a convergence-count job; duplicate-cluster graphs converge in
2-3 rounds either way.

When the loop stops at ``max_iters`` with labels still changing, one
more job checks that every edge joins two equal labels. A label is
always a reachable id no larger than its node, so agreement on every
edge means each component carries its minimum: the labels are
returned. Otherwise the call raises instead of returning an unconverged
labelling.

Local finish. Most calls never reach the loop. The edge checkpoint
counts its rows through an ``observe()`` that rides the checkpoint job,
and when rows x (8 + the edge schema's ``defaultSize``) fits under
``spark.sql.autoBroadcastJoinThreshold`` the edges are collected and a
min-root union-find labels them on the driver. That product is Spark's
own per-row size estimate and the threshold is Spark's own bound for
shipping a whole relation to the driver and back out (a broadcast
join), so the choice adds no knob and is off wherever broadcasts are
(threshold -1). The labels come back as a ``LocalRelation`` built
through Arrow, with exact size statistics, so the anti-join in
``dedup_clusters`` can broadcast them. The local result is the exact
fixpoint whatever ``max_iters`` and ``pointer_jump`` say: those bound
and shape the loop only. Near-duplicate pair sets are this small:
``q_dedup_clusters``' few hundred edges take 4 Spark jobs to build
this way, pair pipeline included, instead of 28 through the loop
(sf0.001, local[4]).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F
from pyspark.sql.types import StructField, StructType

from ..session import observed


def undirected_edges(pairs: DataFrame, a_col: str = "id_a",
                     b_col: str = "id_b") -> DataFrame:
    """(src, dst) both ways for every row of ``pairs``. One ``inline``
    of two structs per pair, so ``pairs`` is evaluated once; a
    ``union`` of two projections would run its plan twice."""
    a, b = F.col(a_col), F.col(b_col)
    return pairs.select(F.inline(F.array(
        F.struct(a.alias("src"), b.alias("dst")),
        F.struct(b.alias("src"), a.alias("dst")))))


def connected_components(pairs: DataFrame, a_col: str = "id_a",
                         b_col: str = "id_b", max_iters: int = 20,
                         pointer_jump: bool = True,
                         pairs_canonical: bool = False) -> DataFrame:
    """(node, label) for every node appearing in ``pairs``; ``label``
    is the minimum node id reachable from ``node`` (deterministic
    canonical representative).

    ``pointer_jump=True`` (default) adds a label-chain contraction each
    round: sound because ``label(n) <= n`` is invariant (min always
    includes self), so ``label(label(n))`` is a reachable, no-larger
    representative for ``n``.

    ``pairs_canonical=True`` declares the input already DISTINCT with
    ``a_col < b_col`` on every row (the near-dup pair pipelines end in
    exactly that shape). The undirected edge list is then duplicate-free
    by construction — the two orientations cannot overlap (one has
    src<dst, the other src>dst) and each inherits the input's
    distinctness — so the edge-dedup exchange+aggregate is skipped.
    Duplicate edges would only cost work, never correctness (min-label
    propagation is idempotent over repeated edges), so the flag is a
    pure shuffle-removal knob (guide §2.4).

    Edge lists under the broadcast threshold skip the loop (module
    docstring, Local finish). The loop raises ``RuntimeError`` when
    ``max_iters`` rounds end short of the fixpoint."""
    und = undirected_edges(pairs, a_col, b_col)
    if not pairs_canonical:
        und = und.distinct()
    obs = Observation()
    und = (und.observe(obs, F.count(F.lit(1)).alias("n"))
           .localCheckpoint(eager=True))
    try:
        if _fits_driver(und, observed(obs)):
            return _local_components(und)
        return _propagate_labels(und, max_iters, pointer_jump)
    finally:
        # neither result reads the edge list: the local labels are a
        # LocalRelation, the loop's read only their own checkpoint
        _unpersist_checkpoint(und)


def _propagate_labels(und: DataFrame, max_iters: int,
                      pointer_jump: bool) -> DataFrame:
    """The Spark loop of ``connected_components`` over the checkpointed
    directed edge list ``und``. Each round's labels are checkpointed and
    the round they supersede is released, so the returned labels hold
    exactly one checkpoint."""
    held = labels = (und.select(F.col("src").alias("node")).distinct()
                     .withColumn("label", F.col("node"))
                     .localCheckpoint(eager=True))
    for _ in range(max_iters):
        nbr = (und.join(labels, und.dst == labels.node)
               .select(F.col("src").alias("node"),
                       F.col("label").alias("nbr_label")))
        # labels is unique per node, so min("label") IS the old label —
        # carrying it through the agg lets the convergence check below
        # run as a plain scan of the checkpointed result instead of a
        # second shuffle join against the previous round
        new = (labels.join(nbr, "node", "left")
               .groupBy("node")
               .agg(F.min("label").alias("old_label"),
                    F.least(F.min("label"), F.min("nbr_label"))
                    .alias("label")))
        if pointer_jump:
            # label-chain contraction, applied TWICE per checkpointed
            # round: node takes its label's label, then that label's
            # label (always present — every label is itself a node).
            # Each application halves the remaining chain length, so two
            # contractions quarter it; the extra self-join runs inside
            # the SAME driver round, trading a cheap in-round join for
            # whole driver-sequenced rounds (each round costs a
            # localCheckpoint job + a convergence-count job — the
            # dominant fixed cost of the loop at any scale).
            for _ in range(2):
                parent = new.select(F.col("node").alias("p_node"),
                                    F.col("label").alias("p_label"))
                new = (new.join(parent, new.label == parent.p_node,
                                "left")
                       .select(F.col("node"), F.col("old_label"),
                               F.least(F.col("label"),
                                       F.coalesce(F.col("p_label"),
                                                  F.col("label")))
                               .alias("label")))
        new = new.localCheckpoint(eager=True)
        _unpersist_checkpoint(held)
        held = new
        changed = (new.filter(F.col("label") != F.col("old_label"))
                   .count())
        labels = new.select("node", "label")
        if changed == 0:
            break
    else:
        if _labels_disagree(und, labels):
            _unpersist_checkpoint(held)
            raise RuntimeError(
                f"connected_components did not converge within "
                f"max_iters={max_iters} rounds")
    return labels


def _unpersist_checkpoint(df: DataFrame) -> None:
    """Drop the blocks of ``df``, an eager ``localCheckpoint``: its
    analyzed plan is the ``LogicalRDD`` over the checkpointed RDD, which
    otherwise stays registered until the JVM collects it."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def _fits_driver(und: DataFrame, obs_row) -> bool:
    """True when the observed edge count fits Spark's broadcast bound:
    rows x (8 + the row schema's defaultSize) is the per-row size Spark
    itself estimates. False when the count was not delivered."""
    if obs_row is None:
        return False
    jconf = und.sparkSession._jsparkSession.sessionState().conf()
    threshold = jconf.autoBroadcastJoinThreshold()
    row_bytes = 8 + und._jdf.schema().defaultSize()
    return obs_row["n"] * row_bytes <= threshold


def _local_components(und: DataFrame) -> DataFrame:
    """(node, label) over the collected directed edge list ``und``:
    min-root union-find, so every root is its component's minimum id.
    A null endpoint joins nothing, as in the loop: it is its own
    (null, null) row."""
    import pyarrow as pa

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    has_null = False
    for src, dst in und.collect():
        if src is None or dst is None:
            has_null = True
            for x in (src, dst):
                if x is not None:
                    parent.setdefault(x, x)
            continue
        parent.setdefault(src, src)
        parent.setdefault(dst, dst)
        a, b = find(src), find(dst)
        if a != b:
            parent[max(a, b)] = min(a, b)
    nodes = list(parent)
    labels = [find(n) for n in nodes]
    if has_null:
        nodes.append(None)
        labels.append(None)
    t = und.schema["src"].dataType
    schema = StructType([StructField("node", t), StructField("label", t)])
    # a pyarrow Table always takes the Arrow path (a LocalRelation with
    # exact statistics), whatever spark.sql.execution.arrow.* says; a
    # Python list would build an RDD-backed relation instead
    return und.sparkSession.createDataFrame(
        pa.table({"node": nodes, "label": labels}), schema)


def _labels_disagree(und: DataFrame, labels: DataFrame) -> bool:
    """True when some edge joins two different labels: the labelling is
    not yet the fixpoint."""
    ls = labels.select(F.col("node").alias("src"),
                       F.col("label").alias("l_src"))
    ld = labels.select(F.col("node").alias("dst"),
                       F.col("label").alias("l_dst"))
    return bool(und.join(ls, "src").join(ld, "dst")
                .filter(F.col("l_src") != F.col("l_dst"))
                .limit(1).count())


def dedup_clusters(docs: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id",
                   pairs_canonical: bool = False) -> DataFrame:
    """Collapse near-duplicate clusters to one canonical survivor per
    component (minimum id wins; documents in no pair survive as their
    own singleton). Returns ``docs`` filtered to the survivors.
    ``pairs_canonical`` — see ``connected_components``."""
    comp = connected_components(pairs, pairs_canonical=pairs_canonical)
    losers = (comp.filter(F.col("node") != F.col("label"))
              .select(F.col("node").alias(id_col)))
    return docs.join(losers, id_col, "left_anti")
