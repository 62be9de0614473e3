"""DDL generation from metadata (staging-table layer).

Reference: db/sql.py:7-30 emits ``CREATE TABLE [db].[dbo].[t]`` with
columns from JSON-schema metadata plus an identity column, and
``DROP TABLE IF EXISTS``; driven by metadata/createtablefrommetadata.
py:33-59. Here both the T-SQL emission (byte-parity capable) and the
Spark-native DDL are generated from the same metadata; Spark tables
are parquet-backed catalog tables.
"""

from __future__ import annotations

from ..functions.cleansing import dedupe_names, escape_identifier
from ..schema_registry.types import spark_type_for, sqlserver_type_for


def tsql_create_table(db: str, table: str, metadata: dict,
                      columns: list[str] | None = None) -> str:
    """T-SQL CREATE TABLE in the reference's shape (db/sql.py:7-22):
    every column from metadata (optionally filtered), canonicalized
    names, plus ``id int IDENTITY``."""
    names = list(metadata) if columns is None else [c for c in columns if c in metadata]
    fixed = dedupe_names(names)
    cols = [
        f"{escape_identifier(fx, 'tsql')} {sqlserver_type_for(orig, metadata[orig])}"
        for orig, fx in zip(names, fixed)
    ]
    cols.append("[id] int IDENTITY")
    body = ",\n  ".join(cols)
    return f"CREATE TABLE [{db}].[dbo].[{table}] (\n  {body}\n)"


def tsql_drop_table(db: str, table: str) -> str:
    """Reference: db/sql.py:24-30."""
    return f"DROP TABLE IF EXISTS [{db}].[dbo].[{table}]"


def spark_create_table(table: str, metadata: dict,
                       columns: list[str] | None = None,
                       location: str | None = None) -> str:
    """Spark SQL DDL for the same table: parquet-backed, typed from
    the same JSON-schema metadata (identity column replaced by a
    surrogate generated at load time via monotonically_increasing_id)."""
    names = list(metadata) if columns is None else [c for c in columns if c in metadata]
    fixed = dedupe_names(names)
    cols = [
        f"{escape_identifier(fx)} {spark_type_for(metadata[orig]).simpleString()}"
        for orig, fx in zip(names, fixed)
    ]
    body = ",\n  ".join(cols)
    loc = f"\nLOCATION '{location}'" if location else ""
    return f"CREATE TABLE IF NOT EXISTS {table} (\n  {body}\n) USING parquet{loc}"

