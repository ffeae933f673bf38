from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("VSS_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from vector_search_spark.session import get_spark

    s = get_spark(
        app_name="vss-tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "6g"},
    )
    yield s


@pytest.fixture(scope="session")
def catalog_plans(spark):
    """Every catalog entry built ONCE per session, cache cleared first:
    ``{name: initial physical plan text}`` for the digest gate and the
    plan sweeps (each full catalog build costs over a minute)."""
    from vector_search_spark.plans import digests

    return digests.catalog_plans(spark, SF_ORACLE)


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the oracle views registered (mirrors driver)."""
    import duckdb

    con = duckdb.connect()
    from vector_search_spark.tables import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM '{SF_ORACLE}/{t}.parquet'"
        )
    yield con
    con.close()
