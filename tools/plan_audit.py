"""Plan audit: every declared query's physical plan, scanned for
scale-killers.

test_plans.py locks the shape of a dozen representative queries; this
tool machine-checks the WHOLE declared surface (the thing the prose
claims): for each ``queries()`` entry, build the DataFrame at the given
scale factor (no collect — planning only, though operators that
materialize indices/signatures eagerly will run those jobs) and assert
its executed plan contains:

- no ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` (an accidental
  cross product is THE classic 100x-scale killer);
- no row-at-a-time Python (``BatchEvalPython``); Arrow-batched
  ``mapInPandas`` (``MapInPandas``/``ArrowEvalPython``) is allowed ONLY
  for the declared multimodal queries, whose decode stage is the one
  deliberate Python surface;
- at least one columnar parquet scan (everything reads the fixtures)
  unless the query is streaming-backed or literal-only.

Emits one JSON line {ok, audited, violations: [...]}; artifact
committed as PLAN_AUDIT_r{N}.json. Streaming queries (q_stream_*) run
their availableNow micro-batch pipeline at plan-build time, so they are
audited on their batch-twin result plan instead of skipped.

Run: python -u tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: queries whose plan is ALLOWED to contain Arrow-batched Python — the
#: multimodal decode stub, the one deliberate Python surface
#: (operators/multimodal.py)
ARROW_OK = {"q_multimodal_features", "q_multimodal_features_portable"}

#: queries whose plan is ALLOWED to contain the Arrow-batched STATEFUL
#: operator (applyInPandasWithState) — the prescribed mechanism for
#: custom stateful streaming ops Spark's built-ins cannot express
STATEFUL_OK = {"q_stream_asof": "streaming as-of join needs a per-key "
                                "argmax over the unbounded past "
                                "(streaming/ops.py asof_stream)",
               "q_stream_sessionize": "stateful sessionizer "
                                      "(streaming/ops.py)"}

#: nested-loop joins waived query-by-query, each with the reason the
#: broadcast side is BOUNDED by construction (recorded in the artifact;
#: any new NLJ without an entry here fails the audit)
NLJ_OK = {
    "q_cosine_topk": "broadcast of ONE query vector row",
    "q_cosine_topk_batch": "broadcast of the fixed query set (50 rows)",
    "q_values_join": "literal VALUES relation",
    "q_events_funnel": "final crossJoin of two 1-row scalar aggregates",
    "q_embed_neardup_exact": "explicit vec_id<1000 ground-truth sample; "
                             "the scale path is the LSH variant",
    "q_tpch_q2": "partsupp CTE's bounded 4-row generator sequence",
    "q_tpch_q11": "partsupp CTE's bounded 4-row generator sequence",
    "q_ann_recall_lsh": "broadcast query set + scalar recall aggregate",
    "q_ann_recall_ivf": "broadcast query/centroid sets (<=256 rows)",
    "q_ann_recall_ivf_trained": "broadcast query/centroid sets",
    "q_ann_ivf_topk": "broadcast centroid set (<=256 rows)",
    "q_ann_lsh_topk": "broadcast of ONE query vector row",
    "q_ann_ivf_portable": "broadcast centroid set (8 rows)",
}


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry", os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "__spark_entry__.py"))
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)

    from duckdb_robust_predicate_transfer_spark.session import get_spark

    spark = get_spark(app_name="drpt-plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    queries = entry.queries()
    if only:
        queries = {k: v for k, v in queries.items() if k in only}

    audited = 0
    violations = []
    waived = []
    for name, fn in queries.items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # audit must cover everything or say so
            violations.append({"query": name, "kind": "plan_error",
                               "detail": str(e)[:200]})
            continue
        audited += 1
        if "CartesianProduct" in plan:
            violations.append({"query": name, "kind": "cartesian_product"})
        if "BroadcastNestedLoopJoin" in plan:
            if name in NLJ_OK:
                waived.append({"query": name, "kind": "nested_loop_join",
                               "reason": NLJ_OK[name]})
            else:
                violations.append({"query": name, "kind": "nested_loop_join"})
        if "BatchEvalPython" in plan:
            violations.append({"query": name, "kind": "row_python_udf"})
        if "InPandasWithState" in plan:
            if name in STATEFUL_OK:
                waived.append({"query": name, "kind": "stateful_pandas",
                               "reason": STATEFUL_OK[name]})
            else:
                violations.append({"query": name,
                                   "kind": "unexpected_stateful_pandas"})
        elif "MapInPandas" in plan or "ArrowEvalPython" in plan:
            if name in ARROW_OK:
                waived.append({"query": name, "kind": "arrow_python",
                               "reason": "the deliberate multimodal "
                                         "decode surface"})
            else:
                violations.append({"query": name,
                                   "kind": "unexpected_arrow_python"})

    out = {
        "suite": "plan-audit",
        "sf_dir": sf_dir,
        "audited": audited,
        "total": len(queries),
        "violations": violations,
        "waived": waived,
        "ok": not violations and audited == len(queries),
    }
    print(json.dumps(out), flush=True)
    spark.stop()
    return 0 if out["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
