"""Batch sources and sinks.

The reference inherits its entire scan/copy surface from host DuckDB
(SURVEY.md §0: "Everything queryable ... is inherited"), which reads
and writes Parquet/CSV/JSON. This module is the Spark-native
equivalent surface, with the scale-relevant extras DuckDB's
single-node COPY has no need for:

- partitioned writes (``partition_by``) so downstream scans prune
  whole directories (the distributed analogue of zone maps);
- bucketed saved tables (``write_bucketed``) so repeated big-big
  equi-joins and aggregations on the bucket keys skip the shuffle
  entirely — the 100 TB answer to the reference's in-memory hash
  sharing (physical_create_bf.hpp:73);
- Parquet everywhere by default: columnar + min/max row-group
  statistics is what makes the engine's min/max predicate transfer
  (operators/rewrite.py) land as actual scan pruning.

Every reader returns a plain DataFrame so results plug directly into
``Engine.reduce`` as ``Rel(df=...)`` relations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_csv(spark: SparkSession, path: str, schema=None,
             header: bool = True, delimiter: str = ",") -> DataFrame:
    """CSV with explicit schema preferred: schema inference is a full
    extra pass over the data — fine at test scale, a disaster at 100 TB."""
    reader = (spark.read.option("header", header)
              .option("delimiter", delimiter)
              .option("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSSSSS]"))
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines. Same schema rule as CSV: pass one at scale."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite",
                  partition_by: list | None = None,
                  max_records_per_file: int | None = None) -> None:
    """Partitioned Parquet sink. ``partition_by`` low-cardinality columns
    only (each value is a directory); ``max_records_per_file`` bounds
    file size without an extra repartition job."""
    w = df.write.mode(mode)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite",
              header: bool = True) -> None:
    df.write.mode(mode).option("header", header).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def write_bucketed(df: DataFrame, table: str, bucket_cols: list,
                   n_buckets: int = 32, sort_cols: list | None = None,
                   mode: str = "overwrite") -> None:
    """Save as a bucketed managed table: co-locates rows by hash of
    ``bucket_cols`` at write time, so any later equi-join or groupBy on
    those columns between same-bucketed tables runs shuffle-free. This
    is the preparation step a 100 TB fact/fact join pipeline does once
    and amortizes over every downstream query."""
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)

