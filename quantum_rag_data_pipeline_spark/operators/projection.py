"""Scalar transforms (SURVEY.md §2.2: P2, P5, P6, P12–P14). The other
P rows live where the pipeline applies them (COVERAGE.md §2.2).

All pure column expressions — they stay inside whole-stage codegen and
cost nothing extra at 100 TB. No Python UDFs here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def permissive_double(col: Column | str) -> Column:
    """P2: permissive numeric cast — unparseable cells become NULL instead
    of raising (reference drops bad cells per ``src/main.py:74-79``).
    ``try_cast`` keeps the expression JVM-side and pushdown-friendly."""
    c = F.col(col) if isinstance(col, str) else col
    return c.try_cast("double")


def celsius_to_fahrenheit(col: Column | str) -> Column:
    """P5: °C→°F (reference ``weather.py:112``)."""
    c = F.col(col) if isinstance(col, str) else col
    return c * 9 / 5 + 32


def round_fixed(col: Column | str, precision: int = 2) -> Column:
    """P6: fixed-point rounding (reference ``meteostat_weather.py:58``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c, precision)


def with_raw_json(df: DataFrame, col_name: str = "raw_json") -> DataFrame:
    """P13: whole-row JSON snapshot (reference ``dynamodb.py:140``)."""
    return df.withColumn(col_name, F.to_json(F.struct(*df.columns)))


def with_last_updated(df: DataFrame, col_name: str = "last_updated") -> DataFrame:
    """P14: timestamp stamping (reference ``dynamodb.py:244-247``)."""
    return df.withColumn(col_name, F.current_timestamp())


def decimal_coerce_with_zero_fallback(col: Column | str, scale: int = 9) -> Column:
    """P12: permissive decimal coercion, invalid → 0
    (reference ``dynamodb.py:79-97``; the reference's falsy-0 skip quirk is
    deliberately FIXED here — 0 is a value, not a missing field)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c.try_cast(f"decimal(38,{scale})"), F.lit(0).cast(f"decimal(38,{scale})"))


def json_field(col: Column | str, path: str) -> Column:
    """Extract a field from a JSON string column (events.props carries
    ``{"k": N}``). ``get_json_object`` is JVM-side; no Python."""
    c = F.col(col) if isinstance(col, str) else col
    return F.get_json_object(c, path)
