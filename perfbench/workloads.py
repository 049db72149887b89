"""The benchmark workloads and their correctness checks.

A workload yields the statements of one pass, runs one statement as a
closed-loop client would (construction, then collect or Parquet write),
and checks what it got against DuckDB on the same files after the timed
window. Nothing is run twice for the check: the join workloads keep the
collected rows, the pipeline keeps the Parquet it wrote.
"""

from __future__ import annotations

import datetime
import math
import os
import shutil
from collections import Counter
from decimal import Decimal

from jobq import StatementSource

JOB_TABLES = ("title", "company", "keyword", "person", "castinfo",
              "movie_company", "movie_keyword", "movie_info")
PIPELINE_TABLES = ("documents", "embeddings")

#: the pipeline statements, one per operator module: MinHash near-dup
#: pairs (operators.dedup), near-dup clusters (operators.cluster) and
#: exact batch top-k (operators.similarity), each written out as Parquet
PIPELINE_QUERIES = ("q_dedup_minhash", "q_dedup_clusters",
                    "q_cosine_topk_batch")


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else float(f"{v:.10g}")
    if isinstance(v, Decimal):
        return float(f"{float(v):.10g}")
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def canon(rows, columns) -> Counter:
    """Multiset of rows with columns ordered by name and floats cut to
    ten significant digits, so column order and last-ulp noise do not
    count as differences."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return Counter(tuple(_norm(r[i]) for i in order) for r in rows)


class Result:
    """One timed statement: what ran and what it returned."""

    def __init__(self, name: str, text: "str | None"):
        self.name, self.text = name, text
        self.columns: list = []
        self.rows: "list | None" = None
        self.path: "str | None" = None
        self.error: "str | None" = None


class Workload:
    kind = ""
    tables: tuple = ()
    #: True: collected join statements that go through the rewrite;
    #: False: results written as Parquet, no rewrite
    joins = True

    def __init__(self, seed: int, fixture: str, out_dir: str):
        self.fixture, self.out_dir = fixture, out_dir

    def duck(self):
        import duckdb

        con = duckdb.connect()
        con.sql(f"SET threads={len(os.sched_getaffinity(0))}")
        for t in self.tables:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.fixture}/{t}.parquet')")
        return con

    def reference(self, con, res: Result):
        """(columns, rows) DuckDB returns for ``res``'s statement."""
        rel = con.sql(res.text)
        return rel.columns, rel.fetchall()

    def got(self, con, res: Result):
        return res.columns, res.rows

    def verify(self, results: list, corrupt: bool = False) -> tuple:
        """(verified, wrong, first mismatch or None) over ``results``
        that completed. ``corrupt`` drops one row from the first result
        before comparing, to prove a wrong answer is caught."""
        con = self.duck()
        verified = wrong = 0
        first = None
        cache: dict = {}
        try:
            for i, res in enumerate(r for r in results if r.error is None):
                key = res.text if res.text is not None else res.name
                if key not in cache:
                    cols, rows = self.reference(con, res)
                    cache[key] = canon(rows, cols)
                cols, rows = self.got(con, res)
                if corrupt and i == 0:
                    rows = list(rows)[1:] if rows else [(None,) * len(cols)]
                verified += 1
                if canon(rows, cols) != cache[key]:
                    wrong += 1
                    first = first or res.name
        finally:
            con.close()
        return verified, wrong, first

    def cleanup(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)


class JobAdhoc(Workload):
    """JOB-shaped statements through ``Engine.sql``, fresh literals every
    statement."""

    kind = "job"
    tables = JOB_TABLES

    def __init__(self, seed, fixture, out_dir):
        super().__init__(seed, fixture, out_dir)
        self.source = StatementSource(seed)

    def one_pass(self) -> list:
        return self.source.one_pass()

    def construct(self, spark, name: str, text: str, rewrite: bool = True):
        from duckdb_robust_predicate_transfer_spark import Engine, RPTConfig

        cfg = None if rewrite else RPTConfig(enabled=False)
        return Engine(spark, self.fixture, cfg).sql(text)


class LlmPipeline(Workload):
    """Near-dup and similarity operators over documents and embeddings,
    each result written as Parquet."""

    kind = "pipeline"
    tables = PIPELINE_TABLES
    joins = False

    def one_pass(self) -> list:
        return [(n, None) for n in PIPELINE_QUERIES]

    def construct(self, spark, name: str, text, rewrite: bool = True):
        from duckdb_robust_predicate_transfer_spark.workload import QUERIES

        return QUERIES[name](spark, self.fixture)

    def reference(self, con, res):
        from duckdb_robust_predicate_transfer_spark.workload import ORACLE

        rel = con.sql(ORACLE[res.name])
        return rel.columns, rel.fetchall()

    def got(self, con, res):
        rel = con.sql(f"SELECT * FROM read_parquet('{res.path}/*.parquet')")
        return rel.columns, rel.fetchall()

    def sink_path(self, pass_no: int, name: str) -> str:
        return os.path.join(self.out_dir, f"p{pass_no}", name)


WORKLOADS = {"job_adhoc": JobAdhoc, "llm_pipeline": LlmPipeline}
