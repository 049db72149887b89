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

``--perfbench WORKLOAD --seeds 41-50`` pairs the repository benchmark
instead: one pair of untraced ``perfbench/run.py`` runs per seed, the
first side alternating by pair, with the run length of tree A's
BENCHMARK.json. It reads only each run's JSON line and reports, per
end-to-end metric that BENCHMARK.json names, each side's median and
quartiles, the pairs each side won, and how many runs were correct:

  python tools/paired_bench.py --a ../base --b ../head \
      --perfbench llm_pipeline --seeds 41-50 --out PAIRED_LLM.json
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
    return last_json(p, tree)


def run_perfbench(tree: str, workload: str, seed: int, seconds) -> dict:
    """One untraced ``perfbench/run.py`` run from ``tree``; its JSON
    line."""
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, cwd=tree, timeout=900)
    return last_json(p, tree)


def last_json(p: subprocess.CompletedProcess, tree: str) -> dict:
    """The last JSON object line of ``p``'s standard output."""
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


def parse_seeds(text: str) -> list:
    """``"41-50"`` -> [41, ..., 50]; ``"7"`` -> [7]."""
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(vals: list) -> dict:
    """Median and quartiles of ``vals``."""
    q1, med, q3 = (statistics.quantiles(vals, n=4, method="inclusive")
                   if len(vals) > 1 else vals * 3)
    return {"median": med, "q1": q1, "q3": q3, "all": vals}


def perfbench_summary(results: dict, end_to_end: list) -> dict:
    """Per end-to-end metric (BENCHMARK.json's ``end_to_end`` entries):
    each side's median and quartiles, and the pairs each side won; a
    tie counts for neither. ``results`` holds each side's JSON lines in
    pair order."""
    out: dict = {}
    for side in ("a", "b"):
        out[f"correct_{side}"] = sum(bool(r.get("correct"))
                                     for r in results[side])
        out[f"failed_{side}"] = sum(r.get("failed", 0)
                                    for r in results[side])
    for m in end_to_end:
        name, lower = m["name"], m["better"] == "lower"
        va, vb = ([r["metrics"][name]["value"] for r in results[side]]
                  for side in ("a", "b"))
        better = (lambda x, y: x < y) if lower else (lambda x, y: x > y)
        a, b = spread(va), spread(vb)
        out[name] = {
            "a": a, "b": b,
            "wins_a": sum(better(x, y) for x, y in zip(va, vb)),
            "wins_b": sum(better(y, x) for x, y in zip(va, vb)),
            "a_iqr": round(a["q3"] - a["q1"], 4),
            "median_b_minus_a": round(b["median"] - a["median"], 4)}
    return out


def perfbench_pairs(args) -> None:
    """One pair per seed: ``perfbench/run.py`` from tree A and tree B
    with the same seed, the first side alternating by pair."""
    with open(os.path.join(args.a, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seeds = parse_seeds(args.seeds)
    results: dict = {"a": [], "b": []}
    for i, seed in enumerate(seeds):
        order = (("a", args.a), ("b", args.b))
        for side, tree in order if i % 2 == 0 else order[::-1]:
            r = run_perfbench(tree, args.perfbench, seed,
                              bench["run_seconds"])
            results[side].append(r)
            print(f"# seed {seed} side {side}: correct={r.get('correct')} "
                  + " ".join(f"{k}={v['value']}"
                             for k, v in r["metrics"].items()),
                  file=sys.stderr, flush=True)
    summary = perfbench_summary(results, bench["end_to_end"])
    out = {"workload": args.perfbench, "seeds": seeds, "summary": summary,
           "raw": results, "a_tree": args.a, "b_tree": args.b}
    with open(args.out or f"PAIRED_PERFBENCH_{args.perfbench}.json",
              "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(summary))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--a", required=True, help="checkout A (baseline)")
    ap.add_argument("--b", required=True, help="checkout B (candidate)")
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--runs", default="2", help="BENCH_RUNS inside each")
    ap.add_argument("--perfbench", metavar="WORKLOAD",
                    help="pair perfbench/run.py runs of this workload "
                         "instead of bench.py runs, one pair per seed")
    ap.add_argument("--seeds", default="41-50",
                    help="perfbench seeds, A-B inclusive")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    bad = placement_mismatch(args.a, args.b)
    if bad:
        sys.exit(f"trees not placed alike: only one holds {bad}; "
                 "compare two sibling copies")
    if args.perfbench:
        perfbench_pairs(args)
        return

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
    with open(args.out or "PAIRED_BENCH_r11.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(summary["control_legs"]))
    print(json.dumps({k: v for k, v in summary.items()
                      if k not in ("per_query",)}, default=str))


if __name__ == "__main__":
    main()
