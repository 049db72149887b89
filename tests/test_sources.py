"""Sources/sinks: format roundtrips, partitioned writes, bucketed
co-located joins (the shuffle-free scale path)."""

import os

from pyspark.sql import functions as F

from duckdb_robust_predicate_transfer_spark.sources import io as src


def test_csv_json_parquet_roundtrip(spark, sf_dir, tmp_path):
    nation = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    base = sorted(map(tuple, nation.collect()))

    p = str(tmp_path / "nation_csv")
    src.write_csv(nation, p)
    got = src.read_csv(spark, p, schema=nation.schema)
    assert sorted(map(tuple, got.collect())) == base

    p = str(tmp_path / "nation_json")
    src.write_json(nation, p)
    got = src.read_json(spark, p, schema=nation.schema)
    assert sorted(map(tuple, got.collect())) == base

    p = str(tmp_path / "nation_parquet")
    src.write_parquet(nation, p)
    assert sorted(map(tuple, src.read_parquet(spark, p).collect())) == base


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    p = str(tmp_path / "orders_by_status")
    src.write_parquet(orders, p, partition_by=["o_orderstatus"])
    # partition value becomes a directory => scan of one status reads
    # only that directory (partition pruning)
    statuses = [d for d in os.listdir(p) if d.startswith("o_orderstatus=")]
    assert len(statuses) >= 2
    got = src.read_parquet(spark, p).filter(F.col("o_orderstatus") == "F")
    expect = orders.filter(F.col("o_orderstatus") == "F").count()
    assert got.count() == expect
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    lineitem = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    src.write_bucketed(orders.select("o_orderkey", "o_totalprice"),
                       "t_orders_b", ["o_orderkey"], n_buckets=4)
    src.write_bucketed(lineitem.select("l_orderkey", "l_quantity"),
                       "t_lineitem_b", ["l_orderkey"], n_buckets=4)
    a = spark.table("t_orders_b")
    b = spark.table("t_lineitem_b")
    # force a non-broadcast join so the bucketing is what avoids the shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = a.join(b, a.o_orderkey == b.l_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_external_df_feeds_engine(spark, sf_dir, tmp_path):
    """A CSV-sourced relation plugs into Engine.reduce via Rel(df=...)."""
    from duckdb_robust_predicate_transfer_spark.config import RPTConfig
    from duckdb_robust_predicate_transfer_spark.engine import Engine, Rel

    nation = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    p = str(tmp_path / "nation_csv2")
    src.write_csv(nation, p)
    nation_csv = src.read_csv(spark, p, schema=nation.schema)

    e = Engine(spark, sf_dir, RPTConfig(min_probe_rows=0,
                                        require_selective_build=False,
                                        all_broadcast_bail_rows=0))
    r = e.reduce_and_join(
        {"c": "customer", "n": Rel("nation", df=nation_csv),
         "rg": Rel("region", "r_name = 'ASIA'")},
        [("c", "n", "c_nationkey", "n_nationkey"),
         ("n", "rg", "n_regionkey", "r_regionkey")])
    off = Engine(spark, sf_dir, RPTConfig(enabled=False))
    r2 = off.reduce_and_join(
        {"c": "customer", "n": "nation", "rg": Rel("region", "r_name = 'ASIA'")},
        [("c", "n", "c_nationkey", "n_nationkey"),
         ("n", "rg", "n_regionkey", "r_regionkey")])
    assert (sorted(map(tuple, r.select("c_custkey", "n_name").collect()))
            == sorted(map(tuple, r2.select("c_custkey", "n_name").collect())))


def test_text_functions(spark, sf_dir):
    from duckdb_robust_predicate_transfer_spark.functions import text as T

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    row = (docs.select(
        T.token_count().alias("n"),
        T.stopword_ratio().alias("sr"),
        T.avg_word_len().alias("awl"),
        T.punct_ratio().alias("pr"),
        T.lang_guess().alias("lg"),
        T.quality_passes().alias("q"),
        T.fingerprint().alias("fp"))
        .agg(F.min("n"), F.max("sr"), F.max("awl"), F.max("pr"),
             F.count_distinct("lg"), F.max("q"), F.count_distinct("fp"))
        .collect()[0])
    assert row[0] >= 1                       # every doc tokenizes
    assert 0.0 <= row[1] <= 1.0              # ratios bounded
    assert row[3] <= 1.0
    assert row[6] > 1                        # fingerprints discriminate

    # jaccard of a column with itself is 1
    jac = (docs.limit(5)
           .select(T.ngram_jaccard("text", "text").alias("j"))
           .agg(F.min("j")).collect()[0][0])
    assert jac == 1.0


def test_graded_sink_query_prunes(spark, sf_dir):
    """The DRIVER-GRADED q_partitioned_sink must keep its partition
    pruning: the read-back filter resolves as a PartitionFilter (1 of 3
    status directories scanned), not a row filter over everything."""
    from duckdb_robust_predicate_transfer_spark.workload import QUERIES

    df = QUERIES["q_partitioned_sink"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan, plan
    assert 0 < df.count() <= 5

