from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import Row

from luma_etl_data_platform_spark.core.session import get_spark
from luma_etl_data_platform_spark.sources import lakehouse as LH
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


def _mk(spark, rows):
    return spark.createDataFrame([Row(**r) for r in rows])


@pytest.fixture()
def table(tmp_path, spark):
    """A 3-file table: keys 1-2 / 11-12 / 21-22, one file each."""
    path = str(tmp_path / "tbl")
    parts = [
        [dict(k=1, v=10, tag="a"), dict(k=2, v=20, tag="a")],
        [dict(k=11, v=110, tag="b"), dict(k=12, v=120, tag="b")],
        [dict(k=21, v=210, tag="c"), dict(k=22, v=220, tag="c")],
    ]
    LH.create_table(spark, path, _mk(spark, parts[0]).coalesce(1), ["k"])
    for p in parts[1:]:
        LH.append_table(spark, path, _mk(spark, p).coalesce(1), ["k"])
    return path
