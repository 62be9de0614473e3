"""Cleansing/conforming column library.

Each function re-expresses one of the reference's pandas/row-level
cleansing steps as a pure ``pyspark.sql`` Column expression (JVM-side,
whole-stage-codegen'd — no Python in the hot path). Citations point at
the behavior being reproduced.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Column-NAME canonicalization (driver-side, strings not Columns)
# ---------------------------------------------------------------------------

def format_col_name(name: str) -> str:
    """Newlines and dots → underscore; strip brackets (reference:
    utilities/utilities.py:109-115 format_col_name; db/sql.py:14)."""
    return name.replace("\n", "_").replace(".", "_").replace("[", "").replace("]", "")


def dedupe_names(names: list[str]) -> list[str]:
    """Canonicalized names that collide get a ``_dupe`` suffix
    (reference: utilities/utilities.py:285-304; the loader later drops
    ``*_dupe`` columns, lambda_function.py:173-175)."""
    seen: set[str] = set()
    out: list[str] = []
    for n in names:
        fixed = format_col_name(n)
        if fixed in seen:
            fixed = fixed + "_dupe"
        seen.add(fixed)
        out.append(fixed)
    return out


def canonicalize_columns(df: DataFrame) -> DataFrame:
    """Rename every column through format_col_name + dedupe policy."""
    return df.toDF(*dedupe_names(df.columns))


# ---------------------------------------------------------------------------
# Value-level cleansing (Column expressions)
# ---------------------------------------------------------------------------

_UUID_RE = "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
_DATE_PREFIX_RE = "^[0-9]{4}-[0-9]{2}-[0-9]{2}"


def clean_csv_value(col: Column) -> Column:
    """Strip double-quotes and newlines from a string value (reference:
    utilities/utilities.py:598-607 process_val). With parquet this is
    unnecessary; kept for CSV-sink parity."""
    return F.regexp_replace(col, '["\\n\\r]', "")


def repair_amount(col: Column) -> Column:
    """Amount fields that actually contain a date string become 0.00,
    everything else is cast to double, unparsable → null (reference:
    utilities/utilities.py:591-596 filter_transaction_amounts)."""
    return (
        F.when(col.cast("string").rlike(_DATE_PREFIX_RE), F.lit(0.0))
        .otherwise(col.cast("string").try_cast("double"))
    )


def validate_uuid(col: Column) -> Column:
    """Keep values matching the UUID regex, else 'N/A' (reference:
    utilities/utilities.py:570-575 is_unique_id)."""
    return F.when(col.rlike(_UUID_RE), col).otherwise(F.lit("N/A"))


def extract_keyed_value(col: Column, key: str = "IDBudgetFundType") -> Column:
    """From a comma-joined ``k=v`` blob, extract the value for ``key``
    (reference: utilities/utilities.py:585-589 — keeps entries
    containing the key, takes the piece after '='). Higher-order
    functions, no UDF."""
    entries = F.filter(F.split(col, ","), lambda x: x.contains(key))
    first = F.try_element_at(entries, F.lit(1))
    return F.when(first.isNotNull(), F.try_element_at(F.split(first, "="), F.lit(-1)))


def coerce_timestamp(col: Column) -> Column:
    """String → timestamp with coerce-to-null on failure (reference:
    lambda_function.py:124-129,161-163 pd.to_datetime(errors='coerce'))."""
    return col.try_cast("timestamp")


# ---------------------------------------------------------------------------
# Null repair — per-dtype sentinels
# ---------------------------------------------------------------------------

# reference: lambda_function.py:183-199 — Int64→-99, float→-99.0,
# string→'', datetime→1900-01-01 (tz-aware variant→1970-01-01Z).
SENTINELS = {
    "int": -99,
    "float": -99.0,
    "string": "",
    "timestamp": "1900-01-01 00:00:00",
}


def fill_sentinels(df: DataFrame, sentinels: dict | None = None) -> DataFrame:
    s = dict(SENTINELS)
    if sentinels:
        s.update(sentinels)
    int_cols, float_cols, str_cols, ts_cols = [], [], [], []
    for f in df.schema.fields:
        if isinstance(f.dataType, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            int_cols.append(f.name)
        elif isinstance(f.dataType, (T.FloatType, T.DoubleType, T.DecimalType)):
            float_cols.append(f.name)
        elif isinstance(f.dataType, T.StringType):
            str_cols.append(f.name)
        elif isinstance(f.dataType, T.TimestampType):
            ts_cols.append(f.name)
    out = df
    if int_cols:
        out = out.na.fill(s["int"], int_cols)
    if float_cols:
        out = out.na.fill(s["float"], float_cols)
    if str_cols:
        out = out.na.fill(s["string"], str_cols)
    if ts_cols:
        ts = F.lit(s["timestamp"]).cast("timestamp")
        out = out.select(*[
            F.coalesce(F.col(c), ts).alias(c) if c in ts_cols else F.col(c)
            for c in out.columns
        ])
    return out


# ---------------------------------------------------------------------------
# Reserved-keyword escaping (reference: lambda_function.py:96-99,177-181
# wraps T-SQL keywords as [col]; Spark handles quoting natively, kept
# for generated-DDL parity)
# ---------------------------------------------------------------------------

def escape_identifier(name: str, dialect: str = "spark") -> str:
    if dialect == "tsql":
        return f"[{name}]"
    return "`" + name.replace("`", "``") + "`"


# ---------------------------------------------------------------------------
# PII redaction (training-data hygiene; no reference analog — the
# reference handles only GUID/amount repair, utilities.py:570-596.
# Standard corpus-scrub pass before LLM training.)
# ---------------------------------------------------------------------------

# RE2/Java-portable patterns (no lookarounds), so a SQL oracle can
# apply the identical regexes.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_SSN_RE = r"\b\d{3}-\d{2}-\d{4}\b"
PII_PHONE_RE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"


def redact_pii(col: Column) -> Column:
    """Replace emails, SSNs, and phone numbers with bracketed tokens.
    SSN before phone: d{3}-d{2}-d{4} must not be half-eaten by the
    phone pattern. Pure Column expression — JVM regex, no UDF."""
    out = F.regexp_replace(col, PII_EMAIL_RE, "[EMAIL]")
    out = F.regexp_replace(out, PII_SSN_RE, "[SSN]")
    return F.regexp_replace(out, PII_PHONE_RE, "[PHONE]")


def pii_counts(col: Column) -> dict[str, Column]:
    """Per-kind match counts (audit columns for a scrub report)."""
    return {
        "n_emails": F.regexp_count(col, F.lit(PII_EMAIL_RE)),
        "n_ssns": F.regexp_count(col, F.lit(PII_SSN_RE)),
        "n_phones": F.regexp_count(col, F.lit(PII_PHONE_RE)),
    }
