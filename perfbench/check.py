"""Comparison of a query result against its DuckDB oracle, with the
repository's parity normaliser (``tests/parity.py``): column names
compared as sets, rows compared order-insensitively."""

from __future__ import annotations

import os

from luma_etl_data_platform_spark.sources.tables import TABLES
from tests.parity import canonical_rows


def duck_connect(sf_dir: str):
    import duckdb
    con = duckdb.connect()
    for name in TABLES:
        if os.path.exists(f"{sf_dir}/{name}.parquet"):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")
    return con


def same_result(got, want) -> bool:
    return (sorted(got.columns) == sorted(want.columns)
            and canonical_rows(got) == canonical_rows(want))
