"""Engine configuration.

Mirrors the reference extension's session settings
(rpt_extension.cpp:56-69): ``rpt_filter_type`` (all|bf_only|
minmax_only), ``rpt_pass_mode`` (both|forward_only), ``rpt_heuristic``
(largest_root|join_order), ``rpt_flip_roots``, ``rpt_display_dag`` —
re-expressed for a Spark execution model, where the exact-key
semi-join tier replaces the in-memory Bloom filter as the default
transfer mechanism (a distinct key-set is a perfect Bloom filter, and
AQE broadcasts small ones automatically). ``rpt_profiling`` has no
switch: ``TransferResult.format_profile(df)`` reads every statement's
record from the run of ``df``.
"""

from __future__ import annotations

from dataclasses import dataclass, replace


@dataclass
class RPTConfig:
    #: master switch — False reproduces the "extension not loaded" baseline
    enabled: bool = True
    #: "both" | "forward_only"  (reference: rpt_pass_mode)
    pass_mode: str = "both"
    #: "largest_root" | "join_order" | "catalyst"  (reference:
    #: rpt_heuristic largest_root|join_order). ``join_order`` directs the
    #: DAG by edge-declaration order; ``catalyst`` reads the *actual*
    #: physical join order (build-first DFS with hash-join build sides)
    #: out of Spark's plan via py4j — the closest analogue of the
    #: reference reusing the host optimizer's join order
    #: (rpt_optimizer.cpp:494-713) — falling back to declaration order
    #: when leaf resolution fails (e.g. self-joins re-alias exprIds)
    heuristic: str = "largest_root"
    #: "all" | "bf_only" | "minmax_only"  (reference: rpt_filter_type)
    #: - bf tier here = exact-key left-semi transfer (perfect Bloom filter)
    #: - minmax tier = col BETWEEN lo AND hi predicates, which Spark pushes
    #:   into the Parquet scan (the analogue of the reference's dynamic
    #:   ConstantFilter pushdown, physical_create_bf.cpp:331-345)
    filter_type: str = "all"
    #: reference: rpt_flip_roots (join_order heuristic only)
    flip_roots: bool = True
    #: use a serialized Bloom-filter sketch instead of exact key sets when
    #: the build side exceeds sketch_threshold_rows (scale path for huge
    #: build sides where a distinct key-set shuffle would be costly)
    use_sketch: bool = False
    sketch_threshold_rows: int = 4_000_000
    #: probe-side tier choice (r8): when the probe has at least this
    #: many estimated rows, a key-set op ships as a scan-fused Bloom
    #: filter even though the build is broadcast-tier — the filter's
    #: might_contain test costs ~4-5x less per probe row than a
    #: broadcast-hash semi's hash-relation lookup (measured with the
    #: earlier hand-built bitmap on a 50M-row string-key fact: bloom
    #: 0.8-1.5 s vs left_semi 4.2-5.0 s for the SAME reduction), and on
    #: a huge scan the per-row term is the whole cost. This is exactly
    #: why Spark's native InjectRuntimeFilter ships a bloom rather than
    #: a semi, and the reference's filter IS a bloom
    #: (bloom_filter.cpp:27-78) — the exact-key semi remains the right
    #: tool for smaller probes, where its zero false positives feed
    #: cleaner statistics downstream and the build cost difference
    #: dominates. FP rows (~0.3% at full load, bloom.py) are dropped by
    #: the final exact join, so results are identical. 0 disables
    #: (exact semis everywhere, the pre-r8 behavior).
    #: STRING/BINARY probe keys only: integer keys probe a broadcast
    #: hash relation as cheaply as a bloom test and the lazy semi keeps
    #: AQE replanning — the unconditioned escalation reproduced the
    #: r5/r6 sketch A/Bs' Q7 loss at x1000 (6.3->19.0 s; in-round r8
    #: regression, fixed).
    bloom_probe_min_rows: int = 8_000_000
    #: skip the whole transfer when every relation except the largest is
    #: small enough to broadcast (estimated rows after local filters): the
    #: final join is then a chain of broadcast hash joins — ONE pass over
    #: the fact table with zero shuffles — which no transfer op can beat
    #: (each op adds at least one job). ~400k rows ≈ Spark's 10 MB
    #: autoBroadcastJoinThreshold at ~25 B/row. 0 disables the bail-out.
    #: This is the robustness margin for small scale factors; at cluster
    #: scale the mid tables blow past it and the cascade engages.
    all_broadcast_bail_rows: int = 400_000
    #: transfer only into probes at least this big: each op costs a real
    #: Spark exchange, which a small probe's final join already beats.
    #: Scale-adaptive: at cluster scale every big table clears the bar and
    #: the full cascade engages; at toy scale only paying ops survive.
    #: 0 = reference-faithful (always transfer when >1 edge).
    min_probe_rows: int = 50_000
    #: skip ops whose build side is neither filtered nor already reduced —
    #: such a build's key set spans its whole domain and can only remove
    #: FK-orphan probe rows, rarely worth a distributed semi join
    require_selective_build: bool = True
    #: broadcast the distinct key-set when its estimated rows are below this
    #: (otherwise let AQE decide)
    broadcast_key_rows: int = 2_000_000
    #: observe (count) an UNREDUCED build whose estimate lands within
    #: this factor above broadcast_key_rows before choosing its tier:
    #: the fixed 0.2 filter-selectivity guess mis-tiers builds near the
    #: broadcast boundary — TPCH_SCALE x300 Q10's 3-month date filter
    #: keeps 3.8% of orders (observed 1.7M keys) but the 0.2 guess says
    #: 9M, forcing a shuffled semi that re-shuffles the whole 60M-row
    #: probe (measured rpt 0.79x of off) where a scan-fused broadcast
    #: semi was available. The count is one scan+filter job (no shuffle,
    #: no join lineage — reduced builds are excluded so the cascade's
    #: wins never pay it), and the observed number then feeds every
    #: later gate the way the reference's finalize-time cardinalities do
    #: (table_manager.cpp:64-69). 0 disables.
    observe_est_factor: float = 8.0
    #: gate 2g — WEAK-BUILD OBSERVATION: a build carrying only a LOCAL
    #: filter has unknown selectivity — the fixed 0.2 decay guess
    #: cannot tell co_name LIKE '%Pictures%' (keeps 100% of the JOB
    #: fixture's companies) from 'Universal %' (1%), and a key set
    #: spanning its whole domain removes nothing while its eager
    #: distinct+broadcast build is a real cost (JOB_REGIME_r08: jq17's
    #: 500k-key all-pass company op lost 27% end-to-end; jq23's
    #: 70%-keep country IN-list op was half of a 0.68x). When the
    #: build's BASE footer rows are at or below this bound (dim-sized,
    #: so the count is one cheap scan+filter job), observe the filtered
    #: cardinality up front and drop the op when it keeps >=
    #: max_build_keep_frac of its base — extending gate 2b's
    #: shuffle-tier keep-frac rule to every tier, on an OBSERVED number
    #: the way the reference prices from finalize-time cardinalities
    #: (table_manager.cpp:64-69). Genuinely selective dims pass and
    #: their exact counts feed every later gate (better tiering for
    #: free); big builds (> bound) are excluded so TPC-H's 15M+-row
    #: filtered customer/orders never pay an extra scan. 0 disables.
    weak_observe_max_base: int = 4_000_000
    #: ...and builds BELOW this base are not worth the count job: a
    #: sub-64k key set's broadcast hash relation builds in a few tens
    #: of ms, so even a 100%-keep op costs less than observing it
    #: would (the measured harm scales with key count — jq17's loss
    #: came from a 500k-key all-pass build). Keeps toy-scale bench
    #: queries free of per-op count jobs; at cluster scale every dim
    #: clears the bar and the weak check engages.
    weak_observe_min_base: int = 64_000
    #: a broadcast-tier exact-key build BELOW this many (pre-decay
    #: estimated) keys is "cheap": its driver hash relation builds in
    #: tens of ms and the op is near-free, so no benefit test applies.
    #: Above it, BroadcastExchange's single-threaded collect+build is a
    #: real fixed cost that the probe reduction must repay — see
    #: bf_benefit_probe_ratio. (Measured at TPCH_SCALE x100: Q3's
    #: 1.45M-key broadcast semi lost 25-30% end-to-end while the
    #: cascade's 300k-key op wins 2-3x.)
    bf_cheap_keys: int = 800_000
    #: ...and for those mid-size builds, require the probe to be at
    #: least this many times the build's PRE-DECAY key estimate. The
    #: pre-decay estimate (local-filter selectivity only, no semi-join
    #: decay) is the conservative cost figure: decay is a fixed 0.2
    #: guess that r4's Q3 showed can undershoot the true key count 2.4x.
    #: 0 disables. Separates TPC-H Q3/Q8's paying-too-much ops (probe
    #: 4-12x keys) from Q5/cascade's structural wins (probe 10-130x).
    bf_benefit_probe_ratio: float = 8.0
    #: skip shuffle-tier ops that cannot SAVE an exchange (gate 2b3): a
    #: shuffled semi pays the same exchange of the probe as the final
    #: join, so it only pays when the probe also has a different-key
    #: edge to a neighbor too big to broadcast. The r6 x1000 A/B: the
    #: no-shuffle-semi leg won on every query with a live shuffle op
    #: (Q5 13.8->11.1s, Q7 10.7->5.5s, Q8 13.6->10.3s). The reasoning
    #: sits with gate 2b3 in operators/rewrite.decide.
    skip_redundant_shuffle_semi: bool = True
    #: gate 2f — SUBTREE SKETCH RESCUE: when gate 2b3 would drop a
    #: shuffle-tier hop, re-express it scan-locally instead: observe the
    #: build, then ship a broadcast key set or a sized Bloom filter that
    #: lands before the probe's first exchange — what Spark's
    #: InjectRuntimeFilter gets by building from a join subtree
    #: (JOB_REGIME_r07: native beat rpt 1.5-3x on jq10/jq11/jq13). Its
    #: guards keep the SKETCH_REGIME_r06 lesson (Q7's eager build over a
    #: shuffled lineage lost 0.38x): a scan-local build lineage, string
    #: or binary probe keys (x1000: integer-key rescues turned Q7's 2.8x
    #: into 0.89x), at most rewrite.SKETCH_MAX_KEYS observed keys,
    #: enough downstream rows (sketch_rescue_probe_factor), and on the
    #: backward pass an observed broadcast-tier build. The guards and
    #: their measurements sit with gate 2f in operators/rewrite.decide.
    sketch_rescue: bool = True
    #: minimum ratio of max-downstream-probe footer rows to the rescued
    #: build's base footer rows (see sketch_rescue). The rescue costs
    #: at most two SCAN-LOCAL passes of the build base (observe count +
    #: bloom build; the exact-broadcast outcome needs only the count),
    #: repaid by downstream rows cut before their first exchange —
    #: 0.5 admits jq15's backward movie_keyword(33M)->title hop whose
    #: value is movie_info (20M), while still refusing hops whose whole
    #: downstream is under half the build's own scan.
    sketch_rescue_probe_factor: float = 0.5
    #: gate "dup" — the exchange-benefit test for the BROADCAST tier:
    #: suppress a key-set semi that only duplicates a host
    #: broadcast-hash join, on either evidence: every other neighbor of
    #: the probe broadcasts (JOB regime at 100M: jq1 0.63x, jq4 0.57x;
    #: host_broadcast_rows=0 turns this branch off), or the host plan
    #: already broadcast-joins the build below the probe's first shuffle
    #: (plans/catalyst_order.scan_prefilter_pairs; TPC-H Q9 at x1000,
    #: GATE2E_AB_r08). Exempt: probes with a too-big neighbor, probes a
    #: later forward op builds from (the cascade), opaque probes,
    #: shared-subquery probes (Q17's 2.5x) and the min/max tier. The
    #: guards sit with gate "dup" in operators/rewrite.decide.
    skip_no_exchange_probe: bool = True
    #: shuffle-tier ops (build keys too big to broadcast) only run when
    #: the build side is genuinely selective: estimated/observed build
    #: rows below this fraction of the build's raw footer rows. A build
    #: still holding most of its base table can only remove a minority
    #: of probe rows, which a distinct-key shuffle + shuffled semi join
    #: + eager min/max job cannot repay (measured at TPCH_SCALE 100x:
    #: the orders->lineitem backward hop removed 0.00% for ~8 s).
    #: Broadcast-tier ops are exempt — they ride the probe's scan stage
    #: for free, like the reference's in-process filters. 1.0 disables.
    max_build_keep_frac: float = 0.5
    #: feed the transfer's size knowledge back into the HOST join:
    #: join_all broadcast-hints any non-anchor relation whose final
    #: estimated/observed rows are at or below this. Catalyst's static
    #: estimate cannot see a local filter's selectivity (a filtered 1M-row
    #: dim still "weighs" its full footer size, so the planner picks a
    #: sort-merge join that shuffles the ENTIRE upstream join output —
    #: measured as the whole off-leg gap in BUCKETED_r04); the transfer's
    #: min/max+bloom jobs measure those relations exactly, which is the
    #: analogue of the reference's host replanning on reduced cardinality
    #: estimates (table_manager.cpp:64-69). It is also gate 3's
    #: backward floor: a backward op drops when its probe is at or
    #: below this many rows, since the host then broadcasts the probe
    #: and reducing it saves no exchange (operators/rewrite.decide).
    #: 0 disables the hints, the floor and gate "dup"'s edge-graph
    #: branch.
    host_broadcast_rows: int = 1_000_000
    #: min/max scan-pushdown transfer only pays when the probe scan is big:
    #: each min/max is an eager driver-side agg job (fixed ~0.1-0.3 s of
    #: latency) whose payoff is Parquet row-group pruning on the probe
    #: scan — a win only when that scan is huge AND the build's filter
    #: correlates with the key range (e.g. TPC-H date filters on orders
    #: narrow the orderkey range). On hash-uniform FKs the reduced build
    #: still spans the probe's whole key range and nothing can prune; the
    #: rewriter detects this from the probe's parquet footer range (free)
    #: and skips attaching the useless predicate (rewrite.py
    #: _minmax_filter), so only the agg job itself remains as overhead —
    #: filter_type='bf_only' removes that too for known-uniform keys
    minmax_min_probe_rows: int = 5_000_000
    #: backward-pass ops only with broadcast-tier builds (keys ride the
    #: probe's scan for free). A shuffle-tier backward hop re-derives the
    #: root's multi-million-row reduced lineage (persist + distinct-key
    #: shuffle) to shrink a probe the forward pass already fed into the
    #: root — pure cost unless the probe's own final-join shuffle
    #: dominates, which on a 60M-row local fixture it never does
    #: (TPCH_SCALE 100x: Q9's backward hop removed a genuine 60% of
    #: orders yet cost 2x the whole rewrite-off query). At cluster scale
    #: flip this off for shuffle-bound probes; the certified cascade wins
    #: (CASCADE_BIG/BUCKETED) come from the forward pass and survive the
    #: default.
    backward_broadcast_only: bool = True
    #: one filtering mechanism per edge (the reference's --no-jfp
    #: ablation discipline, test_job_queries.sh:123-138): native runtime
    #: blooms on the joins the transfer filters only double the work
    #: (TPCH_SCALE x100: composed Q7 4.21s vs rpt alone 2.54s). With
    #: this on and the caller's injection on, Engine.sql runs the
    #: statement with the caller's injection and only its eager
    #: transfer jobs with it off, and an op whose edge a native bloom of
    #: the original plan covers drops at gate "native": covered edges
    #: ride native, the rest ride the transfer, and a statement whose
    #: every op drops is a plain bail (the cession). The certified
    #: cluster default is this composed mode: x300 1.098 vs 1.028
    #: (TPCH_SCALE_X300_r05), x1000 1.139 vs 1.124
    #: (TPCH_SCALE_X1000_r06), JOB 1.203 vs ~1.0 (JOB_REGIME_r06), and
    #: EAGER_AB_r10 measured the eager jobs 1.043x faster with
    #: injection off. Off: injection stays as the caller set it, and no
    #: gate "native" runs.
    suppress_native_rf: bool = True
    #: persist a reduced build side that feeds both a key set and the
    #: final join when it is big enough that recomputing it would cost
    #: more than materializing it. A persist lives exactly as long as
    #: its statement's DataFrame (Engine.reduce)
    persist_min_rows: int = 5_000_000
    #: print the transfer DAG (reference: rpt_display_dag)
    display_dag: bool = False
    #: print the DAG derived from the host optimizer's join order as 2-D
    #: boxes (reference: rpt_display_physical_dag, dag_printer.cpp:13-180)
    display_physical_dag: bool = False

    def validate(self) -> "RPTConfig":
        assert self.pass_mode in ("both", "forward_only"), self.pass_mode
        assert self.heuristic in (
            "largest_root", "join_order", "catalyst"), self.heuristic
        assert self.filter_type in ("all", "bf_only", "minmax_only"), self.filter_type
        return self

    def with_(self, **kw) -> "RPTConfig":
        return replace(self, **kw).validate()


#: baseline config: rewrite off (reference "extension not loaded")
BASELINE = RPTConfig(enabled=False)
#: default config: rewrite on, exact-key + minmax transfer, both passes
DEFAULT = RPTConfig()
