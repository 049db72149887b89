"""Table registry: name -> DataFrame + statistics.

The analogue of the reference's ``TableManager`` (table_manager.cpp:
36-92), which registers every base table from catalog metadata and
captures ``estimated_cardinality`` at registration time, without a
scan. Here both the schema and the statistics come from Parquet
footers read on the driver, so registering a table launches no Spark
job — the same metadata a catalog/ANALYZE would provide on a cluster.

The schema is converted by Spark's own footer code
(``ParquetFileFormat.readSchemaFromFooter`` with a
``ParquetToSparkSchemaConverter`` built from the session conf), the
function Spark's schema-inference job runs per file. A hand-written
mapping from pyarrow types could drift from Spark's reading of the
same footer (timestamp units and UTC adjustment, INT96, binary as
string, the stored Spark schema in the key-value metadata); this one
cannot. A directory table takes its schema from the first of its
sorted ``*.parquet`` members (``parquet_files``), which is Spark's own
one-file inference with ``mergeSchema`` off, its default.

``Catalog.register_views`` opens and registers the tables concurrently,
one thread per table up to the host's cores; ``events`` opens first,
because a nanos fixture sets a session conf its schema conversion
reads. The JVM classes and statics ``open_parquet`` calls are resolved
once per py4j gateway (``session.jvm_handle``), not walked per table.
"""

from __future__ import annotations

import functools
import glob
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.errors.exceptions.captured import convert_exception
from pyspark.sql import DataFrame, SparkSession

from .session import jvm_handle

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def parquet_files(path: str) -> list:
    """The Parquet files behind a catalog path: the path itself, or a
    directory's ``*.parquet`` members in sorted order. Every footer
    reader in this module takes its files from here."""
    if os.path.isdir(path):
        return sorted(glob.glob(os.path.join(path, "*.parquet")))
    return [path]


_ERRORS = "org.apache.spark.sql.errors.QueryCompilationErrors."
_PQ = "org.apache.spark.sql.execution.datasources.parquet."


def open_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job.

    The schema is read from the footer of ``parquet_files(path)[0]`` on
    the driver and converted under the session's current conf (so a
    conf such as ``nanosAsLong`` must be set before the call), then the
    table is opened with that schema. A missing path raises Spark's
    ``[PATH_NOT_FOUND]``; a directory without ``*.parquet`` members
    raises ``[UNABLE_TO_INFER_SCHEMA]`` rather than opening empty."""
    jvm = functools.partial(jvm_handle, spark._jvm)
    if not os.path.exists(path):
        raise convert_exception(jvm(_ERRORS + "dataPathNotExistError")(path))
    files = parquet_files(path)
    if not files:
        raise convert_exception(
            jvm(_ERRORS + "dataSchemaNotSpecifiedError")("Parquet"))
    js = spark._jsparkSession
    state = js.sessionState()
    first = jvm("org.apache.hadoop.fs.Path")(files[0])
    meta = jvm(_PQ + "ParquetFooterReader.readFooter")(
        jvm("org.apache.parquet.hadoop.util.HadoopInputFile.fromPath")(
            first, state.newHadoopConf()),
        jvm("org.apache.parquet.format.converter.ParquetMetadataConverter"
            ".SKIP_ROW_GROUPS"))
    schema = jvm(_PQ + "ParquetFileFormat.readSchemaFromFooter")(
        jvm("org.apache.parquet.hadoop.Footer")(first, meta),
        jvm(_PQ + "ParquetToSparkSchemaConverter")(state.conf()))
    return DataFrame(js.read().schema(schema).parquet(path), spark)


def parquet_row_count(path: str) -> int:
    """Row count from Parquet footer metadata (cheap, exact, no scan)."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        ds = pq.ParquetDataset(path)
        return sum(pq.ParquetFile(f).metadata.num_rows for f in ds.files)
    return pq.ParquetFile(path).metadata.num_rows


def parquet_col_range(path: str, column: str):
    """(min, max) of ``column`` across all row groups from parquet
    footer statistics — free (no scan), exact. None when statistics are
    absent. The probe-side yardstick for deciding whether a min/max
    transfer predicate can prune anything at all."""
    import pyarrow.parquet as pq

    lo = hi = None
    for f in parquet_files(path):
        md = pq.ParquetFile(f).metadata
        try:
            idx = md.schema.names.index(column)
        except ValueError:
            return None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
    return None if lo is None else (lo, hi)


def _b16(v) -> int:
    """Order-preserving integer projection of a string/bytes statistic:
    the first 16 bytes, big-endian, zero-padded. Lexicographic byte
    order maps to integer order, so row-group span ratios work for
    string keys exactly as for numerics. Values differing only past
    byte 16 collapse to span 0 (reads as clustered) — that errs toward
    RUNNING the min/max agg, never toward a wrong predicate."""
    b = v.encode("utf-8", "surrogatepass") if isinstance(v, str) else bytes(v)
    return int.from_bytes(b[:16].ljust(16, b"\0"), "big")


def _stat_span(lo, hi):
    """Numeric width of a [lo, hi] footer range, or None for types
    without a meaningful difference. String/binary stats project onto
    the first 16 bytes (order-preserving), so hash-scattered string FK
    layouts are recognizable as unclustered — without this, every
    string-keyed probe read as 'unknown' and the minmax tier paid its
    eager agg job for a predicate the layout could never act on
    (JOB-regime jq1: 890 ms of pure overhead on a 1 s query)."""
    if isinstance(lo, (str, bytes)) and isinstance(hi, (str, bytes)):
        try:
            return float(_b16(hi) - _b16(lo))
        except Exception:
            return None
    try:
        d = hi - lo
    except TypeError:
        return None
    try:
        return float(d.total_seconds())  # timedelta (date/timestamp stats)
    except AttributeError:
        try:
            return float(d)
        except (TypeError, ValueError):
            return None


def _path_stamp(path: str) -> tuple:
    """Cheap content fingerprint for footer-derived caches: (mtime_ns,
    size) of the file, or of every *.parquet member for a directory.
    Tools regenerate fixtures in place at fixed /tmp paths, so a cache
    keyed by path alone would serve stale footer statistics for the
    life of the process (ADVICE r5)."""
    try:
        if os.path.isdir(path):
            return tuple(
                (os.path.basename(f), s.st_mtime_ns, s.st_size)
                for f in parquet_files(path)
                for s in (os.stat(f),))
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return (0, 0)


def parquet_col_clustering(path: str, column: str):
    return _col_clustering_cached(path, column, _path_stamp(path))


@functools.lru_cache(maxsize=4096)
def _col_clustering_cached(path: str, column: str, _stamp: tuple):
    """How range-clustered are the row groups on ``column``?

    Returns avg(row-group span) / global span from footer statistics
    alone (no scan): ~1.0 means every row group spans the whole domain
    (hash/round-robin layout — a pushed BETWEEN can never drop a row
    group), ~1/num_row_groups means disjoint clustered ranges (a
    narrowed range prunes proportionally). None when statistics are
    absent or the type has no numeric span. The payoff-side yardstick
    for the eager min/max transfer: paying a driver agg job for a
    predicate the probe's layout cannot act on is pure overhead
    (measured at TPCH_SCALE x100: 0.2-0.8s per op)."""
    import pyarrow.parquet as pq

    lo = hi = None
    spans = []
    for f in parquet_files(path):
        md = pq.ParquetFile(f).metadata
        try:
            idx = md.schema.names.index(column)
        except ValueError:
            return None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            s = _stat_span(st.min, st.max)
            if s is None:
                return None
            spans.append(s)
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
    if not spans:
        return None
    total = _stat_span(lo, hi)
    if total is None or total <= 0:
        return None
    return (sum(spans) / len(spans)) / total


def parquet_ts_unit(path: str, column: str = "ts") -> str:
    """The parquet footer's logical timestamp unit for ``column``
    ('ns', 'us', 'ms'), or '' if the column is not an INT64 logical
    timestamp. Footer-based — not inferred from the surfaced Spark type
    — so a fixture storing plain INT64 micros can never be mistaken for
    nanos and silently divided by 1000. INT96 timestamps (Spark's own
    legacy writer format; pyarrow reports them as timestamp[ns]) return
    '' because Spark reads them natively as TIMESTAMP — only INT64
    TIMESTAMP(NANOS) needs the nanosAsLong workaround."""
    import pyarrow.parquet as pq

    files = parquet_files(path)
    if not files:
        return ""
    pf = pq.ParquetFile(files[0])
    sch = pf.schema
    for i in range(len(sch)):
        col = sch.column(i)
        if col.name != column:
            continue
        if col.physical_type != "INT64":
            return ""
        lt = col.logical_type
        if getattr(lt, "type", None) != "TIMESTAMP":
            return ""
        return getattr(pf.schema_arrow.field(column).type, "unit", "")
    return ""


@dataclass
class TableInfo:
    name: str
    path: str
    row_count: int


class Catalog:
    """Lazy loader over a scale-factor directory of Parquet tables.

    ``table`` opens each table once with ``open_parquet``: the schema
    comes from the footer on the driver, so no table costs a Spark job
    to open. ``info`` takes row counts from the footers too (pyarrow
    metadata, no scan). A table is ``<name>.parquet``, a file or a
    directory; a directory's schema comes from its first sorted
    ``*.parquet`` member (``parquet_files``)."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self._dfs: dict[str, DataFrame] = {}
        self._info: dict[str, TableInfo] = {}
        #: view name -> the session catalog's stored view (a Scala
        #: ``Option[TemporaryViewRelation]``) as ``register_views`` left it
        self._views: dict = {}

    def path(self, name: str) -> str:
        return os.path.join(self.sf_dir, f"{name}.parquet")

    def table(self, name: str) -> DataFrame:
        if name not in self._dfs:
            self._dfs[name] = (self._read_events() if name == "events"
                               else open_parquet(self.spark, self.path(name)))
        return self._dfs[name]

    def _read_events(self) -> DataFrame:
        """events.ts has been generated as either parquet TIMESTAMP(NANOS)
        — which Spark's vectorized reader rejects ([PARQUET_TYPE_ILLEGAL])
        — or TIMESTAMP(MICROS) without UTC adjustment — which Spark reads
        as TIMESTAMP_NTZ. Normalize BOTH fixture flavors to one schema
        contract: ``ts`` is ``TimestampType``. The session timezone is
        pinned to UTC (session.py), so the NTZ→TIMESTAMP cast is
        value-preserving and query semantics match DuckDB regardless of
        which fixture generation produced the file.

        The nanos branch is detected from the parquet footer (not the
        surfaced Spark type, which would also fire on plain INT64), and
        the ``nanosAsLong`` legacy conf is only flipped in that branch —
        a MICROS fixture never touches session-wide conf. Nanos truncate
        to micros with integer division (a double division would lose
        precision at 1e18 ns) — the truncation DuckDB applies too."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import TimestampType

        if parquet_ts_unit(self.path("events")) == "ns":
            # Left set for the session: the lazy scan re-reads footers at
            # execution time, so restoring the conf before the first
            # action would re-trigger [PARQUET_TYPE_ILLEGAL].
            self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong",
                                "true")
            df = open_parquet(self.spark, self.path("events"))
            df = df.withColumn("ts",
                               F.timestamp_micros(F.expr("ts div 1000")))
        else:
            df = open_parquet(self.spark, self.path("events"))
        if not isinstance(df.schema["ts"].dataType, TimestampType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df

    def info(self, name: str) -> TableInfo:
        if name not in self._info:
            p = self.path(name)
            self._info[name] = TableInfo(name, p, parquet_row_count(p))
        return self._info[name]

    def row_count(self, name: str) -> int:
        return self.info(name).row_count

    def known_tables(self) -> set:
        """Every table name this catalog can serve: the fixed fixture
        set plus any other ``<name>.parquet`` in the directory. The
        reference's TableManager registers whatever the binder resolved
        (table_manager.cpp:41-62) — it is not limited to a benchmark
        schema — so the SQL auto-transfer path must likewise see
        fixture-local tables (e.g. the JOB-regime workload's dims)."""
        found = {os.path.basename(p)[:-len(".parquet")]
                 for p in glob.glob(os.path.join(self.sf_dir, "*.parquet"))}
        return set(TABLES) | found

    def register_views(self, names=None) -> None:
        """Register each table as a temp view of its own name.

        ``Engine.sql`` calls this before every statement, and extraction
        maps plan leaves to tables by view name, so a name the caller
        has since replaced or dropped is registered again. A name whose
        stored view still equals the one this catalog left there is
        skipped: two py4j calls instead of a ``createOrReplaceTempView``
        (an analysis of the table plus a catalog write), and no thread
        starts when every name is skipped. The rest open and register
        concurrently (see the module docstring); the first that fails
        raises once every thread has ended."""
        views = self.spark._jsparkSession.sessionState().catalog()
        todo = []
        for n in (names if names is not None
                  else sorted(self.known_tables())):
            if not os.path.exists(self.path(n)):
                continue
            mine = self._views.get(n)
            if mine is not None and views.getRawTempView(n).equals(mine):
                continue
            todo.append(n)
        if not todo:
            return
        if "events" in todo:
            self.table("events")

        def register(n):
            self.table(n).createOrReplaceTempView(n)
            return views.getRawTempView(n)

        with ThreadPoolExecutor(min(len(todo), os.cpu_count() or 1)) as pool:
            self._views.update(zip(todo, pool.map(register, todo)))


_CATALOGS: dict[tuple[int, str], Catalog] = {}


def get_catalog(spark: SparkSession, sf_dir: str) -> Catalog:
    """Per-(session, dir) catalog cache so repeated query calls reuse readers."""
    key = (id(spark), os.path.abspath(sf_dir))
    cat = _CATALOGS.get(key)
    if cat is None:
        cat = _CATALOGS[key] = Catalog(spark, sf_dir)
    return cat
