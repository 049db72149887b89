"""Paired interleaved A/B bench between two checkouts (guide §1; VERDICT
r10 "Next round" #1: the r10 driver run showed +74% on a no-code-change
control leg, so single-block comparisons on this host are not bankable).

Runs bench.py alternately from checkout A and checkout B (fresh process
per run, same env, A/B B/A A/B ... interleaving, so machine drift and
the warm-up a pair's first run pays hit both sides equally), then
reports per-leg medians/mins and the control-leg agreement (cascade
off + native_rf — code paths identical in both checkouts, so their
ratio measures MACHINE state, not code).

The two trees must be placed alike: a pair's result has followed where
each tree sat, so a checkout (holding ``.git`` or a ``.bench_build``
cache) against a bare copy is refused. Export both as sibling copies:

  git archive BASE | tar -x -C ../base
  git archive HEAD | tar -x -C ../head
  python tools/paired_bench.py --a ../base --b ../head \
      --pairs 3 --out PAIRED_BENCH.json
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time


def run_bench(tree: str, env: dict) -> dict:
    p = subprocess.run([sys.executable, os.path.join(tree, "bench.py")],
                       capture_output=True, text=True, env=env,
                       cwd=tree, timeout=3600)
    for line in reversed(p.stdout.splitlines()):
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"no JSON from {tree}: rc={p.returncode} "
                       f"tail={p.stderr[-500:]}")


#: what a checkout or an earlier run leaves in a tree; the two trees
#: of a pair must agree on each
PLACEMENT_MARKERS = (".git", ".bench_build")


def placement_mismatch(a: str, b: str) -> list:
    """The PLACEMENT_MARKERS that exactly one of trees ``a`` and ``b``
    holds."""
    return [m for m in PLACEMENT_MARKERS
            if os.path.exists(os.path.join(a, m))
            != os.path.exists(os.path.join(b, m))]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--a", required=True, help="checkout A (baseline)")
    ap.add_argument("--b", required=True, help="checkout B (candidate)")
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--runs", default="2", help="BENCH_RUNS inside each")
    ap.add_argument("--out", default="PAIRED_BENCH_r11.json")
    args = ap.parse_args()
    bad = placement_mismatch(args.a, args.b)
    if bad:
        sys.exit(f"trees not placed alike: only one holds {bad}; "
                 "compare two sibling copies")

    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    env["BENCH_RUNS"] = args.runs
    env["BENCH_EXTRA"] = "0"  # r9's bench has no EXTRA; keep legs equal

    results: dict = {"a": [], "b": []}
    t_start = time.time()
    for i in range(args.pairs):
        order = (("a", args.a), ("b", args.b))
        for side, tree in order if i % 2 == 0 else order[::-1]:
            t0 = time.time()
            r = run_bench(tree, env)
            r["_wall"] = round(time.time() - t0, 1)
            results[side].append(r)
            print(f"# pair {i} side {side}: geomean={r.get('value')} "
                  f"off={r.get('cascade', {}).get('sec', {}).get('off')} "
                  f"wall={r['_wall']}s", file=sys.stderr, flush=True)

    def series(side: str, path) -> list:
        out = []
        for r in results[side]:
            v = r
            for k in path:
                v = (v or {}).get(k) if isinstance(v, dict) else None
            if v is not None:
                out.append(v)
        return out

    summary: dict = {"pairs": args.pairs, "runs_per_bench": args.runs,
                     "wall_sec": round(time.time() - t_start, 1)}
    # headline geomean per side
    for side in ("a", "b"):
        vals = series(side, ["value"])
        summary[f"geomean_{side}"] = {
            "all": vals, "min": min(vals), "median": statistics.median(vals)}
    summary["b_vs_a_speedup_min"] = round(
        summary["geomean_a"]["min"] / summary["geomean_b"]["min"], 3)
    summary["b_vs_a_speedup_median"] = round(
        summary["geomean_a"]["median"] / summary["geomean_b"]["median"], 3)
    # control legs: identical code in both checkouts
    controls = {}
    for leg in ("off", "native_rf"):
        av = series("a", ["cascade", "sec", leg])
        bv = series("b", ["cascade", "sec", leg])
        if av and bv:
            controls[leg] = {
                "a_min": min(av), "b_min": min(bv),
                "a_median": statistics.median(av),
                "b_median": statistics.median(bv),
                "b_over_a_median": round(
                    statistics.median(bv) / statistics.median(av), 3)}
    summary["control_legs"] = controls
    summary["controls_within_10pct"] = all(
        0.9 <= c["b_over_a_median"] <= 1.1 for c in controls.values())
    # per-query medians
    pq = {}
    qa = [r.get("queries", {}) for r in results["a"]]
    qb = [r.get("queries", {}) for r in results["b"]]
    for q in (qa[0] if qa else {}):
        a_vals = [d[q] for d in qa if d.get(q) is not None]
        b_vals = [d[q] for d in qb if d.get(q) is not None]
        if a_vals and b_vals:
            am, bm = statistics.median(a_vals), statistics.median(b_vals)
            pq[q] = {"a_median": am, "b_median": bm,
                     "speedup": round(am / max(bm, 1e-3), 3)}
    summary["per_query"] = pq
    if pq:
        summary["per_query_geomean_speedup"] = round(math.exp(
            sum(math.log(max(v["speedup"], 1e-3)) for v in pq.values())
            / len(pq)), 3)
    out = {"summary": summary, "raw": results,
           "a_tree": args.a, "b_tree": args.b}
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(summary["control_legs"]))
    print(json.dumps({k: v for k, v in summary.items()
                      if k not in ("per_query",)}, default=str))


if __name__ == "__main__":
    main()
