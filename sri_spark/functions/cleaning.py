"""Text standardization, null-filling and error-coercing casts.

Reference behavior (SURVEY §2.3): E4 `upper(strip())` standardization of text
columns (reference `dags/sri_vehiculos_etl_dag.py:164-166`, `:248-250`),
E5 constant null-fill (`:169-170`, `:567-571`), E7/E8 parse-with-coerce
(`pd.to_datetime/to_numeric(errors='coerce')`, `:454`, `:547`).

All native Column expressions — Spark's cast-from-string already has
"coerce to null" semantics (ANSI mode off), so no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def clean_text(col: Column) -> Column:
    """upper + trim (E4)."""
    return F.upper(F.trim(col))


def coerce_double(col: Column, default: float | None = 0.0) -> Column:
    """string -> double with errors coerced to null, then filled (E8).

    Mirrors `pd.to_numeric(errors='coerce').fillna(default)`.
    """
    parsed = col.try_cast("double")
    if default is None:
        return parsed
    return F.coalesce(parsed, F.lit(float(default)))


def coerce_date(col: Column, fmt: str = "M/d/yyyy") -> Column:
    """string -> date with errors coerced to null (E7).

    Mirrors `pd.to_datetime(errors='coerce').dt.date` for the reference's
    M/D/YYYY data (SURVEY §1.3 Q2). `try_to_timestamp` returns null on
    mismatch regardless of ANSI mode — same coerce semantics.
    """
    return F.to_date(F.try_to_timestamp(col, F.lit(fmt)))
