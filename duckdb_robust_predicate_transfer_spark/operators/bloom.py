"""Bloom-filter sketch transfer tier, built from Spark's own filter.

Plays the role of the reference's PTBloomFilter (bloom_filter.cpp:
27-78), which is a thin wrapper over its host engine's blocked Bloom
filter: when a build side's key set is too large to ship as an exact
key DataFrame, transfer a fixed-size filter instead. Here the host
engine is Spark, so both halves are Catalyst's runtime-filter
expressions, the ones ``InjectRuntimeFilter`` plants:

- **Build**: ONE aggregate job over the build lineage,
  ``bloom_filter_agg(xxhash64(keys), items, bits)``
  (``BloomFilterAggregate``). The same one-row result carries
  ``count(1)`` and the min/max of ``stat_cols``, so the observed
  cardinality and the CreateBF min/max piggyback
  (physical_create_bf.cpp:201-242, 331-345) cost no extra scan.
- **Probe**: ``might_contain(<scalar subquery>, xxhash64(keys))``
  (``BloomFilterMightContain``), a codegen filter inside the probe
  scan's stage: no join, no UDF, no shuffle. The subquery reads a
  one-row ``LocalRelation`` holding the filter bytes. A binary
  literal would work too, but it prints the whole filter as hex in
  every plan string.

What is kept from the reference is the *sizing rule*: bits =
NextPowerOfTwo(max(512, est_rows * 12)), with a one-shot rebuild at
the observed cardinality when the estimate was too low
(physical_create_bf.cpp:385-406). Spark picks the hash count for
m / 12 items (k = 8), which gives about 0.3% false positives at full
load; they pass the probe and the later exact join drops them.

Spark caps every filter at ``runtime.bloomFilter.maxNumBits`` (64M
bits) and ``maxNumItems`` (4M), which would silently shrink a large
sketch and raise its false-positive rate. The build therefore runs in
a clone of its DataFrame's session with both caps set from the sizing
rule; the caller's conf is never written.

The trade: the filter travels to the driver once (m/8 bytes, 4 MB for
a 3M-key build) and then inside the probe stage's task binary, as
Spark's own runtime filters do, so every probe task deserializes it.
Measured on a 4-core host with a 32 MB filter (20M string keys)
probing 30M generated rows: the build took 13 s, and the probe 5.1-5.5
s in 8 tasks but 8.4-9.1 s in 64, about 60 ms of wall time per added
task. Very large filters therefore favour fewer probe tasks. Callers
gate on ``sketch_threshold_rows`` below and on ``SKETCH_MAX_KEYS``
above.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F

from ..session import bind, clone_session, jvm_handle

#: the sizing rule's bits per expected key, and the build's overflow
#: bound: a filter of m bits is sized for m / 12 keys
BITS_PER_KEY = 12

_CAPS = "spark.sql.optimizer.runtime.bloomFilter."
_CATALYST = "org.apache.spark.sql.catalyst.expressions."
_AGG = _CATALYST + "aggregate.BloomFilterAggregate"
_MIGHT_CONTAIN = _CATALYST + "BloomFilterMightContain"


def _size_bits(est_rows: float) -> int:
    bits = max(512, int(est_rows) * BITS_PER_KEY)
    return 1 << (bits - 1).bit_length()


def _catalyst(spark, cls: str, *args: Column,
              aggregate: bool = False) -> Column:
    """A Column over a new Catalyst ``cls`` of ``args``: the only place
    this module builds Spark's filter expressions."""
    utils = "org.apache.spark.sql.classic.ExpressionUtils."
    expression = jvm_handle(spark._jvm, utils + "expression")
    try:
        e = jvm_handle(spark._jvm, cls)(*[expression(a._jc) for a in args])
        if aggregate:
            e = e.toAggregateExpression()
    except Exception as exc:
        raise RuntimeError(f"cannot build Spark's {cls}: {exc}") from exc
    return Column(jvm_handle(spark._jvm, utils + "column")(e))


class BloomSketch:
    """Driver-side handle: Spark's serialized filter (None for an empty
    build) plus the observed row count. ``len(sketch)`` is the filter's
    bit array in bytes (the reference exposes the same through its
    filter allocation, bloom_filter.hpp:22-57). ``ranges`` carries
    per-``stat_cols`` (min, max) folded into the build pass."""

    def __init__(self, data: "bytes | None", m_bits: int, n_rows: int,
                 ranges: dict | None = None):
        self.data = data
        self.n_rows = n_rows
        self.ranges = ranges or {}
        self.m_bits = m_bits
        if data is not None:
            # serialized header: version, hash count, [v2: seed], words
            off = 8 if int.from_bytes(data[:4], "big") == 1 else 12
            self.m_bits = 64 * int.from_bytes(data[off:off + 4], "big")

    def __len__(self) -> int:
        return self.m_bits // 8


def build_bloom(df: DataFrame, cols, est_rows: float,
                stat_cols=()) -> BloomSketch:
    """Distributed Bloom build with the reference's resize rule: if the
    observed build cardinality overflows the allocated bits (more than
    m/12 keys), rebuild once at the observed size, the analogue of
    PhysicalCreateBF rehashing into a bigger filter on underestimate
    (physical_create_bf.cpp:385-406). Estimates from parquet footers
    are upper bounds (builds only shrink), so the second pass fires
    only when the caller guessed. ``stat_cols`` (a subset of df's
    columns) fold min/max into the same build pass; results land on
    the returned sketch's ``ranges``."""
    spark = clone_session(df.sparkSession)
    build = bind(df, spark)
    stats = [a for c in stat_cols for a in (F.min(c), F.max(c))]
    est = est_rows
    for attempt in range(2):
        m_bits = _size_bits(est)
        items = m_bits // BITS_PER_KEY
        spark.conf.set(_CAPS + "maxNumBits", str(m_bits))
        spark.conf.set(_CAPS + "maxNumItems", str(items))
        bf = _catalyst(spark, _AGG, F.xxhash64(*cols), F.expr(f"{items}L"),
                       F.expr(f"{m_bits}L"), aggregate=True)
        row = build.agg(bf, F.count(F.lit(1)), *stats).first()
        n_rows = row[1]
        if n_rows * BITS_PER_KEY <= m_bits or attempt == 1:
            break
        est = n_rows
    ranges = {c: (row[2 + 2 * i], row[3 + 2 * i])
              for i, c in enumerate(stat_cols) if row[2 + 2 * i] is not None}
    return BloomSketch(row[0], m_bits, n_rows, ranges)


def probe_bloom(df: DataFrame, cols, sketch: BloomSketch,
                name: str = "bf") -> DataFrame:
    """Filter df to rows whose key hash might be in the filter: false
    positives pass (later exact joins drop them), true matches never
    fail. An empty build keeps no rows. ``name`` is the column of the
    one-row relation the filter's subquery reads, by which a plan
    reader can tell this filter from others."""
    if sketch.data is None:
        return df.where(F.lit(False))
    spark = df.sparkSession
    # a pyarrow Table always takes the Arrow path to a LocalRelation,
    # whatever spark.sql.execution.arrow.pyspark.enabled says
    bf = spark.createDataFrame(pa.table({name: [sketch.data]})).scalar()
    return df.where(_catalyst(spark, _MIGHT_CONTAIN, bf, F.xxhash64(*cols)))
