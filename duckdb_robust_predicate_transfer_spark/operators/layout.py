"""Scan-layout helpers.

``fan_out``: the CPU-heavy per-row operators (MinHash/SimHash signature
folds, portable md5 tiers) run straight off a parquet scan. Scan
parallelism is bounded by the file/row-group layout, NOT by the core
count — a fixture written as one row group is structurally a one-task
scan, so a signature fold over it runs single-threaded on a 32-core
session while 31 cores idle. At production scale the same scan yields
thousands of tasks and needs nothing.

``fan_out`` makes that scale-adaptive instead of config-tuned: when the
scan's input bytes cannot fill the session's parallelism at the
session's own split size (`spark.sql.files.maxPartitionBytes`), the rows
are redistributed round-robin across ``defaultParallelism`` partitions
before the expensive stage; otherwise the DataFrame passes through
untouched. The shuffle this inserts is bounded by construction
(< parallelism x maxPartitionBytes — i.e. less than one task-per-core of
input), and round-robin repartition is retry-deterministic because
Spark's sort-before-repartition (SPARK-23207) stays at its default.

Call it on the NARROW projection (select the columns the fold needs
first), so the inserted exchange ships proxy-width rows, never payloads
the stage does not read (guide: shuffle fewer bytes / project before
the exchange).
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

from ..session import jvm_handle


def _max_partition_bytes(spark) -> int:
    v = spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
    try:
        return int(v)
    except ValueError:
        pass
    try:
        return int(jvm_handle(
            spark._jvm,
            "org.apache.spark.network.util.JavaUtils.byteStringAsBytes")(v))
    except Exception:
        return 128 << 20


def fan_out(df: DataFrame, min_parallelism: int | None = None) -> DataFrame:
    """Redistribute ``df`` across the session's cores when (and only
    when) its file scan is too small to do so itself.

    Results are unchanged for any downstream computation that does not
    depend on physical row placement (per-row projections, aggregations,
    joins — everything in this codebase). Returns ``df`` untouched when
    the input is not a measurable local file scan, or when the scan
    already fills ``min_parallelism`` tasks at the session's split size.
    """
    try:
        spark = df.sparkSession
        par = int(min_parallelism or spark.sparkContext.defaultParallelism)
        files = df.inputFiles()
        if not files:
            return df
        # many small files already yield >= par scan tasks (each file is
        # at least one split) — no exchange needed
        if len(files) >= par:
            return df
        total = 0
        for f in files:
            # inputFiles() returns percent-encoded file URIs; unquote so
            # paths with spaces/special chars stat instead of raising
            p = unquote(urlparse(f).path) or f
            total += os.path.getsize(p)
        if total >= par * _max_partition_bytes(spark):
            return df
        return df.repartition(par)
    except Exception:
        # unknown layout (remote storage, non-file source): assume the
        # scan parallelizes itself — the at-scale default
        return df
