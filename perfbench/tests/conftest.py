from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]


@pytest.fixture(scope="session")
def spark():
    from luma_etl_data_platform_spark.core.session import get_spark
    return get_spark(app_name="perfbench-tests", master="local[2]", extra_conf={
        "spark.sql.shuffle.partitions": "2", "spark.driver.memory": "1g"})
