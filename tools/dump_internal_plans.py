"""Dump the PRE-localCheckpoint subplans that the committed query-level
explain files cannot show (VERDICT r10 "What's wrong" #3: the minhash /
simhash signature folds and the CC iteration body are hidden behind
`Scan ExistingRDD` in the query-level dumps because the pipelines
checkpoint them).

Writes plans/<round>/internal_<name>.txt:
  - minhash_signature fold (shows fan_out's conditional round-robin
    Exchange feeding the interpreted k-way fold)
  - simhash_signature fold (same mechanism)
  - one connected-components iteration body (neighbor-min join + agg +
    the two pointer-jump contractions), built from checkpointed inputs
    exactly as the loop does

Usage: python -u tools/dump_internal_plans.py [--plans-dir r11]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def explain_str(df) -> str:
    spark = df.sparkSession
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--plans-dir", default="r11")
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1"))
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from duckdb_robust_predicate_transfer_spark.catalog import get_catalog
    from duckdb_robust_predicate_transfer_spark.operators.cluster import (
        undirected_edges)
    from duckdb_robust_predicate_transfer_spark.operators.dedup import (
        minhash_signature, simhash_signature)
    from duckdb_robust_predicate_transfer_spark.session import get_spark

    spark = get_spark(app_name="drpt-internal-plans")
    spark.sparkContext.setLogLevel("ERROR")
    plans_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", args.plans_dir)
    os.makedirs(plans_dir, exist_ok=True)

    docs = get_catalog(spark, args.sf_dir).table("documents")
    dumps = {
        "internal_minhash_signature":
            minhash_signature(docs, "doc_id", "text"),
        "internal_simhash_signature":
            simhash_signature(docs, "doc_id", "text"),
    }

    # one CC iteration body, built exactly as the loop does (from
    # checkpointed und/labels), WITHOUT checkpointing the result
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long")
    und = undirected_edges(pairs).distinct().localCheckpoint(eager=True)
    labels = (und.select(F.col("src").alias("node")).distinct()
              .withColumn("label", F.col("node"))
              .localCheckpoint(eager=True))
    nbr = (und.join(labels, und.dst == labels.node)
           .select(F.col("src").alias("node"),
                   F.col("label").alias("nbr_label")))
    new = (labels.join(nbr, "node", "left")
           .groupBy("node")
           .agg(F.min("label").alias("old_label"),
                F.least(F.min("label"), F.min("nbr_label"))
                .alias("label")))
    for _ in range(2):
        parent = new.select(F.col("node").alias("p_node"),
                            F.col("label").alias("p_label"))
        new = (new.join(parent, new.label == parent.p_node, "left")
               .select(F.col("node"), F.col("old_label"),
                       F.least(F.col("label"),
                               F.coalesce(F.col("p_label"),
                                          F.col("label")))
                       .alias("label")))
    dumps["internal_cc_iteration"] = new

    for name, df in dumps.items():
        plan = explain_str(df)
        path = os.path.join(plans_dir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"# {name}: Exchange={plan.count('Exchange')} "
              f"-> {path}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
