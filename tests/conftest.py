from __future__ import annotations

import duckdb
import pytest

from luma_etl_data_platform_spark.core.session import get_spark
from luma_etl_data_platform_spark.sources.tables import TABLES

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    return get_spark(app_name="luma-tests", extra_conf={
        "spark.sql.shuffle.partitions": "8",
        "spark.driver.memory": "4g",
    })


def make_duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Mirror of the driver's oracle setup: each parquet table is a view."""
    con = duckdb.connect()
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")
    return con


@pytest.fixture(scope="session")
def duck_smoke():
    con = make_duck(SF_SMOKE)
    yield con
    con.close()


@pytest.fixture(scope="session")
def duck_correct():
    con = make_duck(SF_CORRECT)
    yield con
    con.close()
