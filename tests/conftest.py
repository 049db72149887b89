import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("DRPT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from duckdb_robust_predicate_transfer_spark.session import get_spark

    s = get_spark(app_name="drpt-tests", master="local[8]",
                  shuffle_partitions=8)
    # plan-audit tests parse executedPlan().toString(); keep long
    # FileScan lines from truncating to "... N more fields"
    s.conf.set("spark.sql.debug.maxToStringFields", "200")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(autouse=True)
def _clear_cache_between_tests(request, spark):
    """A persist leaked by one test rewrites later tests' plans (the
    CacheManager substitutes cached relations into any matching
    subplan), turning pruned FileScans into full-width
    InMemoryRelations. Plan-audit tests in particular must see clean
    scans."""
    yield
    spark.catalog.clearCache()


@pytest.fixture
def conf_set(spark):
    """``with conf_set(key, value):`` sets a session conf for the block
    and restores the previous value in a ``finally``. Tests force
    connected_components onto its Spark loop this way, with
    ``spark.sql.autoBroadcastJoinThreshold`` at -1."""
    @contextmanager
    def setting(key, value):
        old = spark.conf.get(key)
        spark.conf.set(key, value)
        try:
            yield
        finally:
            spark.conf.set(key, old)
    return setting
