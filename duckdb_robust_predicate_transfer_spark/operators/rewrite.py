"""Apply a TransferPlan to live DataFrames.

This is the Spark-native re-expression of the reference's physical
CREATE_BF / USE_BF operator pair (physical_create_bf.cpp,
physical_use_bf.cpp):

- CREATE_BF materializes the build side and produces a Bloom filter
  -> here: ``build.select(keys).dropDuplicates()`` — an *exact* key
  set, i.e. a perfect Bloom filter (zero false positives), persisted
  when reused. AQE broadcasts small key sets automatically; we hint
  ``broadcast()`` when statistics say the build side is small.
- USE_BF probes the filter and drops non-joinable rows
  -> here: ``probe.join(keys, on, "left_semi")``.
- dynamic min/max scan pushdown (physical_create_bf.cpp:331-345)
  -> here: ``col BETWEEN lo AND hi`` predicates computed from the
  reduced build side; Catalyst pushes these into the Parquet scan
  (visible as PushedFilters), which is the distributed analogue of
  the reference's ConstantFilter-into-LogicalGet push.
- empty build side => always-false filter (physical_create_bf.cpp:
  290-297) -> here: ``probe.where(lit(False))`` short-circuit.
- the BF-as-table-filter push itself (rpt_optimizer.cpp:1401-1501,
  the probe SCAN dropping excluded data) -> here: the sketch tier's
  ``might_contain`` test, which fuses into the probe's scan stage the
  way Spark's own InjectRuntimeFilter does, plus the min/max BETWEENs
  above reaching the Parquet scan as PushedFilters.

Ordering dependencies (the reference's cross-pipeline scheduling,
physical_create_bf.cpp:559-613) are free: a key-set is just a
DataFrame consumed by a later join, so Spark's scheduler sequences
the stages.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, functions as F

from ..config import RPTConfig
from ..plans.ir import TransferPlan, TransferOp

#: Spark atomic types eligible for min/max transfer. The reference pushes
#: min/max for 13 orderable types incl. VARCHAR (physical_create_bf.cpp:
#: 131-176); in Spark any orderable atomic type works.
_MINMAX_TYPES = (
    "tinyint", "smallint", "int", "integer", "bigint", "long",
    "float", "double", "date", "timestamp", "timestamp_ntz", "string",
)

#: estimated fraction of probe rows surviving one key-filter application.
#: Propagating this through the schedule is what lets a mid table reduced
#: by a selective dim qualify for the broadcast-key path on its own
#: downstream CREATE (the reference propagates estimated cardinality
#: through CREATE_BF the same way, table_manager.cpp:64-69).
REDUCTION_DECAY = 0.2

#: the sketch tier ships builds of at most this many estimated keys: the
#: filter is m = NextPow2(12 bits/key), so 64M keys -> a 128 MB filter
#: in every probe task — about the ceiling where shipping it still
#: beats a probe-wide shuffle. Beyond, the exact shuffle-tier semi join
#: remains the right tool (bloom.py module docstring).
SKETCH_MAX_KEYS = 64_000_000

#: the min/max tier only builds from builds whose BASE table (raw footer
#: rows) is at most this big: the eager agg re-derives the build's whole
#: reduction lineage, so its cost scales with the base scan, not with
#: the reduced key count (measured at TPCH_SCALE x100: 0.5-0.8s per op
#: on the 15M-row orders lineage for a predicate the footer skip then
#: drops). Small-base builds (dims, cascade mid) keep the range
#: transfer; huge fact-derived builds skip straight to the key/sketch
#: tier.
MINMAX_MAX_BUILD_BASE = 4_000_000

#: ...and only into probes whose parquet row groups are actually
#: range-clustered on the transfer key: footer stats give avg(row-group
#: span)/global span for free, and when every row group spans ~the whole
#: domain (hash layout) a pushed BETWEEN cannot drop a single row group —
#: the eager agg job would buy two comparisons per row at best. Probes
#: must score BELOW this. Unknown layouts (no stats / non-numeric keys)
#: pass.
MINMAX_MAX_CLUSTERING = 0.5


@dataclass
class StepStat:
    op: TransferOp
    rows_in: int = -1
    rows_out: int = -1
    build_rows: int = -1
    #: wall time of the eager min/max agg job (runs whenever the tier is
    #: active — the one transfer op that is not lazy)
    minmax_ms: float = 0.0
    #: wall time to materialize the build key set / bloom sketch
    #: (profiling only: forced with a count, like the reference's
    #: sink+finalize timers, rpt_profiling.hpp:16-90)
    build_ms: float = 0.0
    #: wall time of the forced probe-side count (profiling only — the
    #: probe op is lazy in production, fused into the consumer's stage)
    probe_ms: float = 0.0


@dataclass(frozen=True)
class Decision:
    """The gate stack's verdict on one scheduled op: the tier it lands
    on or the gate that dropped it, plus the evidence: the estimate or
    observed count that was compared and the threshold it was compared
    with (None for the structural gates ``info`` and ``gate4``)."""

    op: TransferOp
    #: "exact_broadcast" | "exact_shuffle" | "sketch" | "minmax" (only
    #: the min/max tier can land) | "empty"; None when dropped
    tier: str | None = None
    #: "info" | "native" | "gate2g" | "gate2" | "gate2b" | "gate3" |
    #: "gate2b3" | "gate2c" | "dup" | "gate3a" | "gate4" | "noop"; None
    #: when the op lands
    gate: str | None = None
    value: float | None = None
    threshold: float | None = None
    #: an eager job measured a count while this op was decided or
    #: applied
    observed: bool = False
    #: the min/max tier lands too (eager agg, or bitmap stat columns)
    minmax: bool = False
    #: gate that suppressed the key tier of a "minmax" decision: the
    #: drop reported when the range then prunes nothing
    suppressed: str | None = None
    #: forward sketch rescue (gate 2f): the bloom's observed cardinality
    #: is re-checked before the probe is touched
    rescue: bool = False


@dataclass
class TransferResult:
    dfs: dict
    plan: TransferPlan
    stats: list = field(default_factory=list)
    persisted: list = field(default_factory=list)
    #: ops that actually landed a predicate/semi join on their probe
    #: (gate survivors) — lets callers audit WHICH keys reduced a
    #: relation, e.g. the shared-subquery shadow soundness check
    applied: list = field(default_factory=list)
    #: wall time spent in graph build + heuristic + scheduling (set by
    #: Engine.reduce — the reference's optimizer-time probe,
    #: rpt_profiling.hpp:16-40)
    planning_ms: float = 0.0
    #: tier each applied op landed as, parallel to ``applied``:
    #: "sketch" | "exact_broadcast" | "exact_shuffle" | "minmax" |
    #: "empty" — certification tooling reads it to attribute wins to
    #: the gate-2f rescue vs the ordinary tiers
    applied_tiers: list = field(default_factory=list)
    #: one Decision per scheduled op, in schedule order, as the apply
    #: step settled it (a landing tier, or the dropping gate)
    decisions: list = field(default_factory=list)
    #: alias -> base table name of each relation (set by Engine.reduce)
    tables: dict = field(default_factory=dict)

    @property
    def drops(self) -> dict:
        """gate-name -> count of scheduled ops that gate dropped, one
        name per drop site of ``decide`` plus "noop" (a landing that
        pruned nothing). "dup" = duplication economics: the host plan
        performs the same filtering itself, by the edge graph (every
        other neighbor of the probe broadcasts) or by the host plan's
        own broadcast join below the probe's first exchange."""
        out: dict = {}
        for d in self.decisions:
            if d.gate:
                out[d.gate] = out.get(d.gate, 0) + 1
        return out

    def release(self):
        for df in self.persisted:
            try:
                df.unpersist()
            except Exception:
                pass
        self.persisted.clear()

    def format_profile(self) -> str:
        """Per-step and per-pass reduction summary — the analogue of the
        reference's rpt_profiling printed table (rpt_profiling.hpp:
        114-216: optimizer time, per-op rows in/out AND per-op timers,
        forward/backward rollups with % rows removed). Meaningful only
        when profiling was enabled."""
        lines = [f"planning: {self.planning_ms:.2f} ms",
                 "step  phase     build -> probe           build_rows"
                 "     rows_in    rows_out   removed"
                 "   minmax_ms  build_ms  probe_ms"]
        totals = {"forward": [0, 0, 0.0], "backward": [0, 0, 0.0]}
        for i, st in enumerate(self.stats):
            op = st.op
            pct = ""
            step_ms = st.minmax_ms + st.build_ms + st.probe_ms
            totals[op.phase][2] += step_ms
            if st.rows_in > 0 and st.rows_out >= 0:
                totals[op.phase][0] += st.rows_in
                totals[op.phase][1] += st.rows_out
                pct = f"{100.0 * (st.rows_in - st.rows_out) / st.rows_in:6.2f}%"
            edge = f"{op.build}({','.join(op.build_cols)}) -> {op.probe}"
            lines.append(
                f"{i:>4}  {op.phase:<8}  {edge:<24} {st.build_rows:>10}"
                f"  {st.rows_in:>10}  {st.rows_out:>10}   {pct:>7}"
                f"  {st.minmax_ms:>9.1f} {st.build_ms:>9.1f}"
                f" {st.probe_ms:>9.1f}")
        for phase, (tin, tout, tms) in totals.items():
            if tin or tms:
                pct = (f"{100.0 * (tin - tout) / tin:6.2f}%" if tin else "")
                lines.append(
                    f"      {phase:<8}  TOTAL{'':<20} {'':>10}  {tin:>10}"
                    f"  {tout:>10}   {pct:>7}  {tms:>29.1f}")
        for d in self.decisions:
            if d.gate:
                op = d.op
                edge = f"{op.build}({','.join(op.build_cols)}) -> {op.probe}"
                lines.append(f"drop  {op.phase:<8}  {edge:<24} {d.gate:<7}"
                             f"  {_num(d.value)} vs {_num(d.threshold)}")
        return "\n".join(lines)


def _num(x) -> str:
    return "-" if x is None else f"{x:.6g}"


def _minmax_filter(probe: DataFrame, build: DataFrame, op: TransferOp,
                   probe_path: str | None = None):
    """Compute per-column min/max on the build side (one small agg job)
    and return (n_build_rows, between-predicate or None).

    When the probe is a base-table scan whose parquet footer range is
    known (free — no scan), a per-column predicate is attached ONLY if
    the build's range actually narrows it: on hash-uniform FKs the
    reduced build still spans the probe's whole key range, and a
    non-narrowing BETWEEN costs two comparisons per probe row while
    pruning zero row groups (measured on the cascade2 fixture:
    the useless min/max legs ate the entire transfer win). The
    reference attaches unconditionally because its in-process filters
    are free (physical_create_bf.cpp:331-345); ours are not."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    usable = _minmax_cols(build, op)
    for c in usable:
        aggs.append(F.min(c).alias(f"__min_{c}"))
        aggs.append(F.max(c).alias(f"__max_{c}"))
    row = build.agg(*aggs).collect()[0]
    n = row["__n"]
    if n == 0:
        return 0, None
    build_ranges = {c: (row[f"__min_{c}"], row[f"__max_{c}"])
                    for c in usable}
    return n, _range_pred(build_ranges, op, probe_path)


def _minmax_cols(build: DataFrame, op: TransferOp) -> list:
    """The build columns whose min/max can become a probe BETWEEN."""
    dtypes = dict(build.dtypes)
    return [c for c in op.build_cols if dtypes.get(c) in _MINMAX_TYPES]


def _probe_clustered(probe_path: str | None, probe_cols) -> bool:
    """Payoff-possibility check for the eager min/max agg: at least one
    probe key column's row groups must be range-clustered (footer-only,
    cached). Unknown layouts pass — absence of evidence must not turn
    the tier off for non-parquet probes."""
    if probe_path is None:
        return True
    from ..catalog import parquet_col_clustering

    saw_any = False
    for pc in probe_cols:
        try:
            c = parquet_col_clustering(probe_path, pc)
        except Exception:
            c = None
        if c is None:
            continue
        saw_any = True
        if c < MINMAX_MAX_CLUSTERING:
            return True
    return not saw_any


def _range_pred(build_ranges: dict, op: TransferOp,
                probe_path: str | None):
    """{build_col: (lo, hi)} -> probe BETWEEN predicate (or None),
    skipping any column whose build range does not narrow the probe's
    parquet footer range (see _minmax_filter's rationale)."""
    footer = {}
    if probe_path is not None:
        from ..catalog import parquet_col_range
        for pc in op.probe_cols:
            try:
                r = parquet_col_range(probe_path, pc)
            except Exception:
                r = None
            if r is not None:
                footer[pc] = r
    pred = None
    for bc, pc in zip(op.build_cols, op.probe_cols):
        if bc not in build_ranges:
            continue
        lo, hi = build_ranges[bc]
        if lo is None:
            continue
        pr = footer.get(pc)
        try:
            if pr is not None and lo <= pr[0] and hi >= pr[1]:
                continue  # cannot narrow the scan: skip the per-row cost
        except TypeError:
            # footer stats and Spark values can surface as different
            # Python types (bytes vs str for non-UTF8-annotated binary,
            # Decimal vs raw); an incomparable pair must degrade to
            # "attach the predicate", not abort the query
            pass
        p = F.col(pc).between(F.lit(lo), F.lit(hi))
        pred = p if pred is None else (pred & p)
    return pred


def _downstream_weight(alias: str, plan_ops, rows: dict) -> float:
    """Max footer-row count over ``alias`` and every probe reachable
    from it through scheduled build->probe chains (either pass) — the
    transitive value of reducing ``alias`` (a reduced mid-table feeds
    every later hop it builds for; gate 2f prices its rescue against
    this, not against the immediate probe alone: jq13's
    movie_company->title hop is paid for by castinfo, not by title;
    jq15's backward movie_keyword->title hop by movie_info)."""
    best = rows.get(alias, 0.0)
    seen = {alias}
    stack = [alias]
    while stack:
        a = stack.pop()
        for o in plan_ops:
            if o.build == a and o.probe not in seen:
                seen.add(o.probe)
                stack.append(o.probe)
                best = max(best, rows.get(o.probe, 0.0))
    return best


def _string_keys(df: DataFrame, cols) -> bool:
    """True when ANY of ``cols`` is string/binary-typed in ``df``.

    The bitmap probe tier's measured 4-5x per-row advantage over a
    broadcast-hash semi exists where the hash relation pays per-row
    string hashing + equality; integer keys probe a hash relation as
    cheaply as a bloom's bit-test, and the lazy semi additionally keeps
    AQE's integrated replanning (the r5/r6 sketch A/Bs' Q7 lesson).
    Unknown schemas return False: the exact tier is the certified
    default and escalation needs positive evidence."""
    try:
        types = {f.name.lower(): f.dataType.typeName()
                 for f in df.schema.fields}
        return any(types.get(str(c).lower()) in ("string", "binary")
                   for c in cols)
    except Exception:
        return False


def _sketch_tier(cfg, est: float) -> bool:
    """Does this build ship as a Bloom filter instead of exact keys?
    Only by explicit opt-in: ``use_sketch`` above
    ``sketch_threshold_rows`` (the q_sketch_transfer surface). The
    gates route other builds to the sketch tier themselves (gate 2f's
    rescue, the probe-side ``bloom_probe_min_rows`` choice)."""
    return cfg.use_sketch and est > cfg.sketch_threshold_rows


def _native_ops(ops: list, covered) -> set:
    """The ops gate "native" may drop: ``covered(op)`` — a native
    runtime bloom of the original plan covers the op's edge — and no
    later forward op that stays with the transfer builds from the op's
    probe. Such a later op carries the probe's reduction onward, which
    a one-hop bloom from the bare build cannot (REACH_SQL in
    tests/test_native_rf.py)."""
    may_drop: set = set()
    #: builds of the later forward ops that stay with the transfer
    stay: set = set()
    for op in reversed(ops):
        if op.probe not in stay and covered(op):
            may_drop.add(op)
        elif op.phase == "forward":
            stay.add(op.build)
    return may_drop


class TransferState:
    """What the gate stack reads, and the planner state it carries from
    op to op: estimates (overwritten by observed counts), which
    relations were reduced, and what each one knows. ``rows_est`` is
    used in place — observed counts reach the caller
    (Engine.last_rows_est)."""

    def __init__(self, dfs: dict, rows_est: dict, filtered: set,
                 plan: TransferPlan, cfg: RPTConfig,
                 probe_paths: dict | None = None,
                 colocated: dict | None = None,
                 rows_base: dict | None = None,
                 neighbor_edges: dict | None = None,
                 opaque_rels: set | None = None,
                 host_prefiltered: "set | None" = None,
                 native_edges: "set | None" = None):
        self.dfs = dict(dfs)
        self.rows_est = rows_est
        self.filtered = filtered
        self.plan = plan
        self.probe_paths = probe_paths or {}
        self.colocated = colocated or {}
        self.rows_base = rows_base
        self.neighbor_edges = neighbor_edges
        self.opaque_rels = opaque_rels or set()
        self.host_prefiltered = host_prefiltered
        #: aliases some forward op builds from: reducing them is
        #: transitive, so gate "dup" never fires on them
        self.forward_builds = {o.build for o in plan.ops
                               if o.phase == "forward"}
        #: (probe alias, lowercased probe col, build alias) edges a
        #: native runtime bloom of the original plan covers
        self.native_edges = native_edges or set()
        #: the ops gate "native" may drop (_native_ops)
        self.native_ops = _native_ops(plan.ops, self.covered)
        #: pre-decay estimates: local-filter selectivity only, updated
        #: by OBSERVED counts (min/max agg, bloom build) but never by the
        #: fixed semi-reduction decay guess — the conservative key-count
        #: figure for the broadcast-benefit gate (decay undershot Q3's
        #: true key count 2.4x at TPCH_SCALE x100)
        self.rows_pre = dict(rows_est)
        self.reduced: set = set()
        #: alias -> set of aliases whose base filters have influenced it
        #: via applied ops (itself included when base-filtered). An op
        #: only carries NEW information when the build knows something
        #: the probe doesn't — otherwise it is a provable no-op: e.g.
        #: after forward lineitem->orders, the backward orders->lineitem
        #: hop removes exactly 0 rows (every kept lineitem orderkey is,
        #: by construction, in the kept orders), yet costs a full pass
        #: over the fact's lineage (measured 0.00% removed for ~10 s at
        #: TPCH_SCALE 100x). The reference schedules such ops too, but
        #: its in-process filters are ~free; Spark's cost real jobs, so
        #: provable no-ops must die. Pure FK-orphan removal is not
        #: modeled as information: an unfiltered, never-reduced build
        #: starts with an empty set, so its ops drop here. Identity
        #: counts as information only when FK-orphan-removal ops are
        #: enabled (require_selective_build=False, the reference's
        #: always-transfer mode): an unfiltered build can then still
        #: remove probe rows with no matching build row at all.
        self.info: dict = {a: ({a} if (a in filtered
                                       or not cfg.require_selective_build)
                               else set()) for a in dfs}
        #: builds whose rows were observed exactly this schedule
        self.observed: set = set()
        #: the subset observed BY GATE 2g (weak-build observation): the
        #: keep-frac drop prices only these — a build observed via gate
        #: 0b's near-boundary tiering or the 2f rescue's backward path
        #: keeps its r8 behavior, and weak_observe_max_base=0 genuinely
        #: disables the whole feature (ADVICE r9)
        self.observed_weak: set = set()
        #: alias -> its reduction lineage is scan-local (no shuffled semi
        #: applied to it): broadcast semis, bloom probes, min/max
        #: BETWEENs and empty-build short-circuits all fuse into the
        #: relation's own scan stage, so an eager job over the lineage
        #: (gate 2f's observe count / bloom build) costs one scan and no
        #: exchange. A shuffled semi breaks that — re-deriving it eagerly
        #: pays a full exchange, which is the r6 sketch-regime Q7 loss
        #: (SKETCH_REGIME_r06).
        self.scan_local: dict = {a: True for a in dfs}
        #: alias -> number of reductions landed on it: keys the key-set
        #: and bloom caches so a further-reduced build is never served a
        #: stale filter
        self.epochs: dict = {}

    def covered(self, op: TransferOp) -> bool:
        """A native bloom covers every probe column of ``op`` from its
        build."""
        return bool(self.native_edges) and all(
            (op.probe, str(c).lower(), op.build) in self.native_edges
            for c in op.probe_cols)

    def note(self, alias: str, n: float, weak: bool = False) -> float:
        """Record an observed row count for ``alias``; returns it."""
        self.observed.add(alias)
        if weak:
            self.observed_weak.add(alias)
        self.rows_est[alias] = self.rows_pre[alias] = n
        return n

    def land(self, op: TransferOp, tier: str) -> None:
        """Commit a predicate landing on ``op.probe``. A provable no-op
        — a minmax range that prunes nothing, with no key tier — must
        not be committed: marking the probe reduced would let the
        information gate skip ops that could still prune (ADVICE r4)."""
        self.reduced.add(op.probe)
        self.info[op.probe] |= self.info[op.build]
        self.epochs[op.probe] = self.epochs.get(op.probe, 0) + 1
        if op.probe in self.rows_est:
            self.rows_est[op.probe] *= REDUCTION_DECAY
        if tier == "exact_shuffle":
            self.scan_local[op.probe] = False


def decide(op: TransferOp, s: TransferState, cfg: RPTConfig,
           observe) -> Decision:
    """Run every transfer gate on ``op``, in order, once.

    ``observe(alias, persist=False) -> float`` is how a gate obtains an
    observed row count (gates 0b and 2g, and the backward branch of the
    2f rescue): a callback that (optionally persists and) counts the
    build. Observations are recorded in ``s``; landing is the caller's
    (``TransferState.land``)."""
    inf = float("inf")
    bkr = cfg.broadcast_key_rows
    est = s.rows_est.get(op.build, inf)
    base = (s.rows_base or {}).get(op.build, 0.0)
    seen = False

    def drop(gate, value=None, threshold=None) -> Decision:
        return Decision(op, gate=gate, value=value, threshold=threshold,
                        observed=seen)

    # 0. information gate: skip ops that provably cannot remove rows
    if not (s.info[op.build] - s.info[op.probe] - {op.probe}):
        return drop("info")

    # native. one filter per edge (the reference's --no-jfp discipline,
    # test_job_queries.sh:123-138): a native runtime bloom of the
    # original plan already filters this edge, and the statement runs
    # with the caller's injection, so the op would only double it.
    # Sits before the first observe() so an all-covered statement runs
    # no eager job. Kept when the build was reduced: the op then ships
    # already-reduced keys a bloom from the bare build cannot (as gate
    # "dup" guards its host-plan branch), and when the probe feeds a
    # later forward op that stays with the transfer (_native_ops) —
    # until that reach turns out unused (settled at the end of
    # apply_transfer).
    if op in s.native_ops and op.build not in s.reduced:
        return drop("native")

    # 0b. near-boundary tier observation (config.observe_est_factor):
    # a guessed estimate just above the broadcast ceiling may hide a
    # genuinely broadcastable key set (x300 Q10: guess 9M, actual
    # 1.7M — the difference between a scan-fused broadcast semi and
    # re-shuffling the 60M-row probe). Pay one scan+filter count on
    # UNREDUCED filtered builds only (a reduced build's lineage is a
    # real join; its ops already run on observed/decayed figures),
    # then let every gate below see the exact number.
    if (cfg.observe_est_factor > 0 and op.build not in s.reduced
            and op.build in s.filtered and op.build not in s.observed
            and bkr < est <= cfg.observe_est_factor * bkr):
        est, seen = s.note(op.build, observe(op.build)), True

    # bounded-downside gates — the robustness margin the reference
    # lacks (it always applies when >1 edge; its in-process filters
    # are ~free, ours cost real Spark exchanges). An unfiltered,
    # never-reduced build only removes FK-orphan probe rows; the info
    # gate above already drops it (TransferState.info).
    # 2g. weak-build observation (config.weak_observe_max_base):
    #     a local filter's true selectivity is unknown — LIKE
    #     '%Pictures%' keeps 100% where the decay guess says 20% —
    #     so for dim-sized bases pay one scan+filter count and
    #     apply gate 2b's keep-frac rule to EVERY tier: a build
    #     still holding most of its domain removes almost nothing
    #     while its eager key-set jobs are real (JOB jq17/jq23).
    #     Dropping here hands the weak arm to the host's lazy
    #     AQE-planned blooms: the statement runs with the caller's
    #     injection, so Spark may plant one on the edge, and its build
    #     costs nothing before the final plan runs.
    if (cfg.weak_observe_max_base > 0 and s.rows_base is not None
            and op.build not in s.reduced and op.build in s.filtered
            and op.build not in s.observed
            and cfg.weak_observe_min_base <= base
            <= cfg.weak_observe_max_base):
        est, seen = s.note(op.build, observe(op.build), weak=True), True
    if (op.build in s.observed_weak and op.build not in s.reduced
            and base > 0 and est >= cfg.max_build_keep_frac * base):
        return drop("gate2g", est, cfg.max_build_keep_frac * base)
    # 2. transfer only into probes big enough to repay an exchange —
    #    but ONLY for shuffle-tier builds. A broadcast-tier build
    #    (est <= broadcast_key_rows) costs no exchange at all: the
    #    semi join rides the probe's own scan stage as a broadcast
    #    hash join, exactly like the reference's free in-process
    #    filters. Skipping those breaks the CASCADE: an unreduced
    #    tiny dim (supplier, customer) then fails the info gate as a
    #    build side and its parent's selective filter (the nation gate in
    #    TPC-H Q5/Q7/Q8/Q9) never reaches the fact tables — measured
    #    at TPCH_SCALE 100x as the whole rpt-leg regression.
    probe_rows = s.rows_est.get(op.probe, inf)
    if est > bkr and probe_rows < cfg.min_probe_rows:
        return drop("gate2", probe_rows, cfg.min_probe_rows)
    # 2b. shuffle-tier builds must also be SELECTIVE: the op costs a
    #     distinct-key shuffle + a shuffled semi join + (big probes)
    #     an eager min/max job, so a build side still holding most
    #     of its base table can only remove a minority of probe rows
    #     — bounded downside says skip it. Broadcast-tier builds are
    #     exempt (free), as is any build with no footer baseline.
    if est > bkr and base > 0 and est >= cfg.max_build_keep_frac * base:
        return drop("gate2b", est, cfg.max_build_keep_frac * base)
    # 3. the backward floor: the forward pass already reduced the root,
    #    so a backward op pays only into a probe too big for the host
    #    to broadcast in the final join. A probe that fits the
    #    broadcast hint (host_broadcast_rows) is joined through a hash
    #    table the host builds once — reducing it further converts no
    #    row savings into shuffle savings, while the backward key set
    #    re-derives the root's reduced lineage: a full extra pass over
    #    the biggest table. The forward cascade is exempt — its
    #    reductions feed the NEXT hop's build regardless of how the
    #    final join consumes the probe. Scale-adaptive through the
    #    observed counts (rows_est is the measured figure once a
    #    relation was observed): at cluster scale a still-huge probe
    #    clears the floor and the backward pass engages. Measured at
    #    TPCH_SCALE 100x: Q7 rpt 10.6s -> 4.2s with the backward legs'
    #    broadcastable probes skipped, no cascade-fixture regression
    #    (the cascade's backward ops target facts). Sits before gate
    #    2f so a doomed backward hop never pays the rescue's count.
    if op.phase == "backward" and probe_rows <= cfg.host_broadcast_rows:
        return drop("gate3", probe_rows, cfg.host_broadcast_rows)
    # 2b2/2b3. a shuffled semi never SAVES an exchange of the probe:
    #      it shuffles the probe's full current rows by the op keys —
    #      the same exchange the final probe<->build join pays — and
    #      only reduces per-row work downstream. It is therefore
    #      redundant unless the reduction reaches ANOTHER exchange:
    #      the probe must have a different join edge (different keys,
    #      different neighbor) whose other side is itself too big to
    #      broadcast, i.e. the final plan will shuffle the probe
    #      AGAIN and the semi shrinks that second shuffle. Only
    #      scan-local tiers (broadcast, sketch) can land a reduction
    #      BEFORE the first exchange, the way the reference's
    #      in-process filters always do. r5 shipped the degree-1
    #      special case (Q3/Q10); the r6 clean-room A/B generalized
    #      it: on EVERY full-22 x1000 query with a shuffle-tier op
    #      the no-shuffle-semi leg was faster (Q5 13.8->11.1s,
    #      Q7 10.7->5.5s, Q8 13.6->10.3s, Q17 7.4->6.4s vs off
    #      30.3/15.1/14.3/14.2) — their downstream joins are all
    #      broadcast dims, so the "reduction feeds the probe's other
    #      joins" rationale priced at zero exchanges saved.
    force_sketch = rescue = False
    if (cfg.skip_redundant_shuffle_semi and s.neighbor_edges is not None
            and est > bkr and not _sketch_tier(cfg, est)):
        saves_exchange = any(
            n != op.build and set(cols) != set(op.probe_cols)
            and s.rows_est.get(n, inf) > cfg.host_broadcast_rows
            for n, cols in s.neighbor_edges.get(op.probe, []))
        if not saves_exchange:
            # gate 2f: subtree sketch rescue (config.sketch_rescue)
            # — the hop is otherwise LOST, and with it the
            # transitive selectivity of the build's whole reduced
            # subtree (the jq10/jq11/jq13 gap vs native's
            # subtree-built blooms, JOB_REGIME_r07). Re-express it
            # scan-locally when the guards hold; never replace a
            # live shuffled semi (the r6 sketch-escalation mistake).
            # both passes are eligible: a backward hop whose
            # observed build turns out broadcast-tier (jq15's
            # 234-key movie_keyword after its kw semi) passes gate
            # 3a below on the observed number; one that stays
            # shuffle-tier is still killed there (the r6 lesson —
            # an eager bloom over the root's lineage never pays)
            build_base = base or est
            ok = (cfg.sketch_rescue
                  and est <= SKETCH_MAX_KEYS
                  # string/binary probe keys only — the rescue's
                  # repay is the probe join's PER-ROW cost (string
                  # hashing + equality on every surviving row),
                  # which the pre-exchange cut removes; integer-key
                  # joins are too cheap per row to repay an eager
                  # bloom over a 100M+-row build lineage (measured
                  # in-round at x1000: the unconditioned rescue
                  # planted orders->lineitem on Q3/Q10 and
                  # lineitem->orders on Q7, turning Q7's 2.8x win
                  # into 0.89x via 15-31 s eager builds; the JOB
                  # wins jq10/jq11/jq13 are all string-key)
                  and _string_keys(s.dfs[op.probe], op.probe_cols)
                  and s.scan_local.get(op.build, True)
                  and _downstream_weight(
                      op.probe, s.plan.ops, s.rows_base or s.rows_est)
                  >= cfg.sketch_rescue_probe_factor * build_base)
            if not ok:
                return drop("gate2b3", est, bkr)
            if op.phase == "forward" and op.build not in s.observed:
                # forward rescue goes straight to the filter: the
                # bloom build's one job also returns count(1)
                # (build_bloom), so a separate count scan would only
                # duplicate it; weakness/overflow are re-checked
                # post-build and the probe withheld then
                # (Decision.rescue). The apply step persists the
                # build first.
                force_sketch = rescue = True
            else:
                # backward hops must PROVE broadcast-tier — gate 3a
                # reads the observed number (an eager bitmap over a
                # shuffle-tier ROOT lineage is the r6-documented
                # loser); already-observed builds re-tier for free.
                # The count persists the build: its materialization
                # (selective by gate 2b, so small) then serves the
                # bloom build and the final join too (measured on
                # jq13: 3 extra 12.5M-row movie_company scans behind
                # a 124k-row reduction).
                if op.build not in s.observed:
                    est = s.note(op.build, observe(op.build, persist=True))
                    seen = True
                # re-check size and selectivity on the OBSERVED
                # count: a weak build (keeps >= max_build_keep_frac
                # of its base) cuts too little to repay the eager
                # bloom build (jq7's 50%-country company arm), and
                # an over-large one is beyond the bitmap's
                # broadcast ceiling
                if est > SKETCH_MAX_KEYS:
                    return drop("gate2b3", est, SKETCH_MAX_KEYS)
                if (s.rows_base is not None and build_base > 0
                        and est >= cfg.max_build_keep_frac * build_base):
                    return drop("gate2b3", est,
                                cfg.max_build_keep_frac * build_base)
                # est == 0 rides the sketch branch too: its
                # empty-build short-circuit (probe WHERE false) is
                # the reference's always-false filter
                # (physical_create_bf.cpp:290-297), and the
                # broadcast-tier gates below must not reclaim the
                # op (a zero-key build duplicates no host join)
                force_sketch = est > bkr or est == 0
    #: probe-side tier choice (config.bloom_probe_min_rows): on a
    #: huge probe the per-row filter cost IS the op, and the
    #: bitmap's bit-tests are 4-5x cheaper than a broadcast-hash
    #: semi's hash lookups — but ONLY for string/binary keys, where
    #: the hash relation pays per-row string hashing + equality
    #: (measured, 50M-row string-key fact). On integer keys the
    #: broadcast-hash semi's lookup is as cheap as the bit-test AND
    #: stays lazy inside AQE's replanning, which the eager bitmap
    #: build forfeits — the r5/r6 clean-room sketch A/Bs measured
    #: exactly that as Q7's win turning into a loss (SKETCH_AB_r05,
    #: SKETCH_REGIME_r06), and the unconditioned escalation
    #: reproduced it at x1000 (Q7 6.3->19.0 s, Q3/Q10 engaging ops
    #: gate 2c used to drop — the r8 in-round regression).
    probe_big = (cfg.bloom_probe_min_rows > 0
                 and s.rows_est.get(op.probe, 0.0)
                 >= cfg.bloom_probe_min_rows
                 and _string_keys(s.dfs[op.probe], op.probe_cols))
    #: (gate, value, threshold) that suppressed the key-set tier
    supp = None
    # 2c. broadcast-tier benefit gate: BroadcastExchange collects the
    #     key set to the driver and builds the hash relation single-
    #     threaded, so a MID-SIZE key set (above bf_cheap_keys) is a
    #     real fixed cost — require the probe to dwarf it. Priced on
    #     the PRE-DECAY build estimate: the per-semi decay is a fixed
    #     0.2 guess that can undershoot the true key count severalfold
    #     and sneak an expensive build under the bar (TPC-H Q3 at
    #     x100/x300, the r4 bounded-downside break). Minmax-only mode
    #     ships no keys, and the sketch tier's parallel JVM build +
    #     bitmap broadcast has no driver hash relation — both exempt.
    #     Failing this gate suppresses ONLY the key-set tier: the
    #     minmax tier ships two scalars per column (no driver hash
    #     relation) and is separately payoff-checked below
    #     (clustering + base-size bounds), so it must not be lost
    #     with the keys (ADVICE r5).
    exact_bc = est <= bkr and not force_sketch and not _sketch_tier(cfg, est)
    if (cfg.bf_benefit_probe_ratio > 0 and cfg.filter_type != "minmax_only"
            and exact_bc):
        pre = s.rows_pre.get(op.build, est)
        if (pre > cfg.bf_cheap_keys
                and probe_rows < cfg.bf_benefit_probe_ratio * pre):
            if probe_big:
                # the bitmap ships no driver hash relation — gate
                # 2c's fixed cost vanishes, so escalate the tier
                # instead of losing the op
                force_sketch, exact_bc = True, False
            else:
                supp = ("gate2c", probe_rows,
                        cfg.bf_benefit_probe_ratio * pre)
    # dup. duplication economics for the BROADCAST tier (gate 2b3's
    #     insight one tier down): the semi would drop the same rows at
    #     the same per-row hash cost as a host broadcast-hash join the
    #     final plan already has, and add its build jobs on top. Two
    #     kinds of evidence, either one suppresses:
    #     - the edge graph (2d): every other neighbor of the probe is
    #       itself broadcastable, so the final plan joins the probe
    #       with broadcast-hash joins only (JOB-regime jq1/jq4:
    #       0.6-0.7x on 1-2 s queries whose dims all broadcast).
    #       Reduction pays only when it crosses an exchange: keep the
    #       semi if ANY other neighbor is too big to broadcast (a
    #       shuffle join of the probe exists), or if the probe holds
    #       plan edges the graph cannot see (anti/full outer ->
    #       opaque);
    #     - the host plan (2e): the un-rewritten plan already
    #       inner-BHJ-joins this build into the probe's scan pipeline
    #       below the probe's first shuffle, so the semi duplicates it
    #       even though the probe crosses an exchange later (Q9's
    #       part->lineitem at x1000: the one residual the graph-only
    #       evidence could not see).
    #     The min/max tier is exempt as in gate 2c — it prunes the
    #     scan itself and is separately payoff-checked.
    #     CASCADE GUARD: never suppress an op whose probe is the
    #     BUILD of a later forward op — reduction through an
    #     intermediate dim is transitive (Q5: region->nation looks
    #     all-broadcast locally, but reduced nation is what shrinks
    #     customer, then orders, then lineitem; suppressing the hop
    #     collapsed the whole cascade, x1000 subset recheck). A
    #     probe no forward op ever builds from (a terminal fact:
    #     jq1's movie_company, a star fact) has no transitive value
    #     — only there can local all-broadcast duplication hold.
    if (supp is None and cfg.skip_no_exchange_probe and exact_bc
            and op.probe not in s.forward_builds):
        hp = s.host_prefiltered

        def host_filters() -> bool:
            return any(p == op.probe and b == op.build
                       and (k is None or set(op.probe_cols) <= k)
                       for p, b, k in hp)
        if (cfg.host_broadcast_rows > 0
                # the build itself may be broadcast-SEMI-able for us
                # yet too big for the HOST to broadcast in the final
                # join — that join is then a shuffle of the probe, and
                # the semi's reduction lands before it: a crossed
                # exchange, keep
                and est <= cfg.host_broadcast_rows
                and op.probe not in s.opaque_rels
                and op.probe in (s.neighbor_edges or {})):
            widest = max((s.rows_est.get(n, inf)
                          for n, _cols in s.neighbor_edges[op.probe]
                          if n != op.build), default=0.0)
            # SQL-path refinement (r8): the graph estimates model the
            # plan join_all would build (size-hinted BHJs), but the
            # REPLAYED host plan broadcasts by Catalyst's STATIC
            # sizeInBytes, which ignores filter selectivity — a
            # year-filtered 60MB title stays SMJ, the probe fact pays
            # its full shuffle map-write, and the suppressed semi was
            # the only thing that could have landed the reduction
            # before it (JOB jq13: castinfo's 50M-row exchange behind
            # a suppressed title->castinfo hop; native's subtree bloom
            # wins exactly by filtering that write). When host-plan
            # evidence exists, suppression additionally requires the
            # host to REALLY pre-filter this pair below the probe's
            # first exchange.
            if (widest <= cfg.host_broadcast_rows
                    and (hp is None or host_filters())):
                supp = ("dup", widest, cfg.host_broadcast_rows)
        # host-plan evidence alone. Guards: the BUILD must not itself
        # carry transfer reductions (a cascade INTO the build means
        # the semi filters on already-reduced keys the host's
        # bare-table BHJ cannot express — ADVICE r7); the host join's
        # probe-side keys must cover the op's probe columns (unknown
        # keys = no suppression); the probe must be huge enough (10x
        # broadcast_key_rows) that any backward op building from it
        # stays shuffle-tier, which gate 3a (backward_broadcast_only)
        # already skips — so no transitive reduction is lost. The
        # engine excludes shared-subquery/virtual probes before
        # handing over the pairs (their semi reaches subquery
        # occurrences the host join cannot — Q17's 2.5x).
        if (supp is None and hp and host_filters()
                and op.build not in s.reduced
                and cfg.backward_broadcast_only
                and s.rows_est.get(op.probe, 0.0) > 10 * bkr):
            supp = ("dup", s.rows_est.get(op.probe, 0.0), 10 * bkr)
    if supp and cfg.filter_type == "bf_only":
        return drop(*supp)  # no minmax tier to fall back to
    # 3a. shuffle-tier backward hops are opt-in (see config docstring)
    if op.phase == "backward" and cfg.backward_broadcast_only and est > bkr:
        return drop("gate3a", est, bkr)
    # 4. both endpoints declared bucketed on this edge's keys: the
    #    join is already exchange-free, and transfer along it only
    #    adds probe work (measured: BUCKETED_r03.json)
    if (s.colocated.get(op.build) == frozenset(op.build_cols)
            and s.colocated.get(op.probe) == frozenset(op.probe_cols)):
        return drop("gate4")

    # min/max pushdown is an *eager* driver-side agg job per op; it
    # only pays when the probe side is a big scan whose PushedFilters
    # benefit (the reference pushes unconditionally because its
    # filters are free in-process; ours cost a Spark job) ... and only
    # from broadcast-tier builds (unless minmax_only is forced): a
    # shuffle-tier build's eager agg re-derives a multi-million-row
    # lineage for a range that, on hash-uniform FKs, never narrows the
    # probe footer anyway (measured at TPCH_SCALE 100x: 3.6 s agg,
    # predicate dropped by the footer skip, zero pruning). Builds that
    # carry range-correlated filters are precisely the small,
    # already-reduced ones. ... and the eager agg's cost scales with
    # the build's BASE scan (it re-derives the whole reduction
    # lineage), so huge-base builds skip it even in "all" mode —
    # measured 0.5-0.8s per op on the 15M-row orders lineage at x100
    # for a predicate the footer skip then dropped. minmax_only mode
    # stays unbounded (explicit ask).
    minmax = (cfg.filter_type == "minmax_only"
              or (cfg.filter_type == "all"
                  and probe_rows >= cfg.minmax_min_probe_rows
                  and est <= bkr
                  and (base <= 0 or base <= MINMAX_MAX_BUILD_BASE)
                  and _probe_clustered(s.probe_paths.get(op.probe),
                                       op.probe_cols)))
    if supp or cfg.filter_type == "minmax_only":
        if not minmax:
            return drop(*supp)
        value, threshold = supp[1:] if supp else (est, bkr)
        return Decision(op, tier="minmax", value=value,
                        threshold=threshold, observed=seen, minmax=True,
                        suppressed=supp[0] if supp else None, rescue=rescue)
    if _sketch_tier(cfg, est) or force_sketch or probe_big:
        tier = "sketch"
    else:
        tier = "exact_shuffle" if est > bkr else "exact_broadcast"
    return Decision(op, tier=tier, value=est, threshold=bkr, observed=seen,
                    minmax=minmax, rescue=rescue)


def apply_transfer(dfs: dict, rows_est: dict, filtered: set,
                   plan: TransferPlan, cfg: RPTConfig,
                   probe_paths: dict | None = None,
                   colocated: dict | None = None,
                   rows_base: dict | None = None,
                   neighbor_edges: dict | None = None,
                   opaque_rels: set | None = None,
                   host_prefiltered: "set | None" = None,
                   native_edges: "set | None" = None) -> TransferResult:
    """Execute the schedule over ``dfs`` (alias -> DataFrame), mutating a
    copy; returns reduced DataFrames plus optional per-step stats.
    ``probe_paths`` (alias -> parquet path) enables footer-range-aware
    min/max skipping for base-table probes. ``colocated``
    (alias -> frozenset of bucket columns) marks relations whose join on
    those columns is already exchange-free — transfer along such an edge
    is skipped (Rel.colocated_on). ``rows_base`` (alias -> raw footer
    rows, no filter guesses) feeds the shuffle-tier selectivity gate.
    ``neighbor_edges`` (alias -> list of (neighbor alias, key cols on
    this alias)) feeds the exchange-saving gates 2b3 and "dup".
    ``opaque_rels`` marks aliases whose final plan holds joins the edge
    graph cannot see (anti / full outer) — gate "dup" never suppresses
    transfer into them. ``host_prefiltered`` ((probe, build) pairs the
    host plan already filters below the probe's first exchange,
    plans/catalyst_order.scan_prefilter_pairs) feeds gate "dup".
    ``native_edges`` ((probe, lowercased probe col, build) edges a
    native runtime bloom of the original plan covers,
    plans/catalyst_order.native_bloom_edges) feeds gate "native".

    Each op is decided (``decide``, with an ``observe`` callback that
    counts the build) and then applied: the key-set, bloom and min/max
    jobs run here, and the apply step may still revise the decision —
    an observed count re-tiers the key set, a forward rescue's bloom
    may prove too weak, a min/max range may prune nothing."""
    s = TransferState(dfs, rows_est, filtered, plan, cfg,
                      probe_paths=probe_paths, colocated=colocated,
                      rows_base=rows_base, neighbor_edges=neighbor_edges,
                      opaque_rels=opaque_rels,
                      host_prefiltered=host_prefiltered,
                      native_edges=native_edges)
    res = TransferResult(dfs=s.dfs, plan=plan)
    inf = float("inf")
    #: (build alias, build_cols, reduction epoch) -> keys DataFrame; when
    #: one build side feeds several probes on the same columns (a column
    #: equivalence class, e.g. nation.n_nationkey into both customer and
    #: supplier), build the key set once and share the broadcast — the
    #: reference's one-CREATE-per-class broadcast, rpt_optimizer.cpp:
    #: 1070-1158. The epoch (number of reductions applied to the build so
    #: far) keys the cache so a later, further-reduced build is not
    #: served a stale key set.
    keys_cache: dict = {}
    #: same sharing for the bitmap tier: one build feeding several
    #: probes on the same columns builds the bloom once
    bloom_cache: dict = {}

    # stacked-CREATE merge (the analogue of BuildStackedBFOperators,
    # rpt_optimizer.cpp:1174-1216: adjacent CREATEs over one table share
    # ONE materialization pass building n filters): a build side feeding
    # several DIFFERENT column sets is persisted at first use regardless
    # of the size bound, so each extra key set reads the materialized
    # rows instead of re-running the build's reduction lineage.
    colsets: dict = {}
    for op in plan.ops:
        colsets.setdefault(op.build, set()).add(op.build_cols)
    multi_filter_builds = {b for b, cs in colsets.items() if len(cs) > 1}

    def persisted(alias: str) -> DataFrame:
        df = s.dfs[alias]
        if cfg.persist_reduced and df not in res.persisted:
            df = s.dfs[alias] = df.persist()
            res.persisted.append(df)
        return df

    def observe(alias: str, persist: bool = False) -> float:
        return float((persisted(alias) if persist
                      else s.dfs[alias]).count())

    #: landed ops a native bloom covers, kept only to carry their
    #: probe's reduction into a later op (gate "native")
    for_reach: set = set()
    for op in plan.ops:
        d = decide(op, s, cfg, observe)
        if d.tier is None:
            res.decisions.append(d)
            continue
        if s.covered(op) and op.build not in s.reduced:
            for_reach.add(op)
        build, probe = s.dfs[op.build], s.dfs[op.probe]
        est = s.rows_est.get(op.build, inf)
        st = StepStat(op=op)
        if cfg.profiling:
            st.rows_in = probe.count()
            st.build_rows = build.count()

        # persist a build side that was itself reduced: it feeds the
        # key-set job(s) AND the final join (the analogue of CREATE_BF's
        # materialize-and-re-emit, physical_create_bf.cpp:201-242,441-557).
        # Tiny builds recompute for free — persist only above the bound.
        # Sketch-tier builds measured FASTER without a forced persist
        # here: the bloom aggregation needs only the key columns, so a
        # column-pruned recompute of the reduction lineage beats
        # materializing the build's full (wide) row payload. A forward
        # rescue persists regardless: its bloom build and the final
        # join then read the cached rows (see gate 2f).
        if d.rescue or (op.build in s.reduced
                        and (est >= cfg.persist_min_rows
                             or op.build in multi_filter_builds)):
            build = persisted(op.build)

        landed = None
        if d.minmax and d.tier != "sketch":
            t0 = time.perf_counter()
            # the footer range is a superset of the probe's actual range
            # (reductions only shrink it), so "build range covers the
            # footer range => the predicate prunes nothing" stays valid
            # even for an already-reduced probe
            n, pred = _minmax_filter(probe, build, op,
                                     probe_path=s.probe_paths.get(op.probe))
            st.minmax_ms = (time.perf_counter() - t0) * 1e3
            # AQE-style mid-schedule feedback (SURVEY §7: "measure at
            # persist time ... a place we can beat the reference"): the
            # agg just measured this relation exactly, so every later
            # gate/broadcast/persist decision involving it uses the
            # observed size instead of a decayed footer guess — including
            # THIS op's own key-set tier choice below (a decayed estimate
            # that undershot a genuinely huge build must not force a
            # driver-side broadcast of its keys)
            s.rows_est[op.build] = s.rows_pre[op.build] = est = float(n)
            if n == 0:
                s.dfs[op.probe] = probe.where(F.lit(False))
                landed = "empty"
            elif pred is not None:
                probe = s.dfs[op.probe] = probe.where(pred)
                landed = "minmax"

        if d.tier == "sketch":
            # sketch tier: ship a fixed-size Bloom filter instead of the
            # key set — for build sides whose distinct-key shuffle would
            # dominate (PTBloomFilter's role, bloom_filter.cpp:27-78).
            # count + min/max + filter all ride ONE aggregate over the
            # build lineage (build_bloom): r3 measured the old separate
            # eager min/max job as the entire 1.37x sketch-vs-exact
            # residual on the cascade.
            from .bloom import build_bloom, probe_bloom

            t0 = time.perf_counter()
            bck = (op.build, op.build_cols, s.epochs.get(op.build, 0))
            bloom = bloom_cache.get(bck)
            if bloom is None:
                # a decayed estimate can undershoot the reduced build;
                # build_bloom's resize rule self-corrects with one
                # rebuild (ref physical_create_bf.cpp:385-406)
                bloom = bloom_cache[bck] = build_bloom(
                    build, list(op.build_cols), est if est != inf else 1e6,
                    stat_cols=_minmax_cols(build, op) if d.minmax else [])
            st.build_ms = (time.perf_counter() - t0) * 1e3
            n = s.note(op.build, float(bloom.n_rows))
            bb = (s.rows_base or {}).get(op.build, 0.0)
            if d.rescue and n > 0 and (
                    n > SKETCH_MAX_KEYS
                    or (bb > 0 and n >= cfg.max_build_keep_frac * bb)):
                # the observed build is too weak/big to probe with:
                # the bitmap job is sunk (one scan, same as the
                # observe-then-refuse path), the probe is withheld
                res.decisions.append(Decision(
                    op, gate="gate2b3", value=n, observed=True,
                    threshold=(SKETCH_MAX_KEYS
                               if n > SKETCH_MAX_KEYS
                               else cfg.max_build_keep_frac * bb)))
                res.stats.append(st)
                continue
            if n == 0:
                s.dfs[op.probe] = probe.where(F.lit(False))
            else:
                pred = _range_pred(bloom.ranges, op,
                                   s.probe_paths.get(op.probe))
                if pred is not None:
                    probe = probe.where(pred)
                s.dfs[op.probe] = probe_bloom(probe, list(op.probe_cols),
                                              bloom)
            landed = "sketch"
        elif d.tier != "minmax" and landed != "empty":
            ck = (op.build, op.build_cols, s.epochs.get(op.build, 0))
            keys = keys_cache.get(ck)
            if keys is None:
                keys = build.select(
                    *[F.col(b).alias(f"__k{i}")
                      for i, b in enumerate(op.build_cols)])
                # broadcast semi join dedups in hash-table build; an
                # extra distinct shuffle would only slow it down
                keys = keys_cache[ck] = (
                    F.broadcast(keys) if est <= cfg.broadcast_key_rows
                    else keys.dropDuplicates())
                if cfg.profiling:
                    # force the key-set materialization so its cost is
                    # attributed to the CREATE, not the consumer stage
                    # (the reference's sink+finalize timers)
                    t0 = time.perf_counter()
                    keys.count()
                    st.build_ms = (time.perf_counter() - t0) * 1e3
            cond = None
            for i, p in enumerate(op.probe_cols):
                c = F.col(p) == F.col(f"__k{i}")
                cond = c if cond is None else (cond & c)
            s.dfs[op.probe] = probe.join(keys, cond, "left_semi")
            landed = ("exact_shuffle" if est > cfg.broadcast_key_rows
                      else "exact_broadcast")

        observed = d.observed or d.minmax or d.tier == "sketch"
        if landed:
            res.applied.append(op)
            res.applied_tiers.append(landed)
            s.land(op, landed)
            d = replace(d, tier=landed, observed=observed,
                        value=est if landed.startswith("exact") else d.value)
        else:
            # survived every gate but landed nothing (suppressed key
            # tier with a no-op minmax range, usually)
            d = replace(d, tier=None, gate=d.suppressed or "noop",
                        observed=observed)
        res.decisions.append(d)
        if cfg.profiling:
            t0 = time.perf_counter()
            st.rows_out = s.dfs[op.probe].count()
            st.probe_ms = (time.perf_counter() - t0) * 1e3
        res.stats.append(st)

    # gate "native", settled: an op kept for reach that no later landing
    # built from only doubles the native bloom on its edge. It drops
    # after all, and a probe that only such ops reduced goes back to its
    # input, so a statement left with nothing else bails to the host —
    # the cession (their eager jobs have already run; a repeat of the
    # statement hits the engine's bail cache)
    idle = {op for i, op in enumerate(res.applied) if op in for_reach
            and not any(o.build == op.probe for o in res.applied[i + 1:])}
    back = {op.probe for op in idle
            if all(o in idle for o in res.applied if o.probe == op.probe)}
    if back:
        for p in back:
            s.dfs[p] = dfs[p]
            s.rows_est[p] = s.rows_pre[p]
        gone = {op for op in idle if op.probe in back}
        kept = [(o, t) for o, t in zip(res.applied, res.applied_tiers)
                if o not in gone]
        res.applied = [o for o, _ in kept]
        res.applied_tiers = [t for _, t in kept]
        res.decisions = [
            replace(d, tier=None, gate="native", minmax=False)
            if d.op in gone else d for d in res.decisions]
    return res
