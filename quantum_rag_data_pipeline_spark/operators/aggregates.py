"""Aggregations (SURVEY.md §2.3, A1–A6).

Everything here is a plain hash aggregate: Catalyst automatically splits
it into partial (map-side) + final stages, so at 100 TB the shuffle only
carries one row per (group, column) per input partition.

For the correctness corpus, float SUM/AVG are computed over values cast to
DECIMAL first: decimal addition is exact and therefore independent of
partition/accumulation order — the only way a distributed sum can hash-match
a single-threaded DuckDB oracle bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

def _exact(col: str, scale: int = 2) -> Column:
    # money/metric doubles in the testdata carry <=2 decimal digits;
    # DECIMAL(30,scale) holds any sum at TB-scale row counts.
    return F.col(col).cast(f"decimal(30,{scale})")


def exact_sum_double(col: str, scale: int = 2) -> Column:
    """Order-independent SUM with a portable double rendering.

    The decimal sum is exact; the DOUBLE cast is where engines diverge —
    Spark rounds the decimal correctly, DuckDB goes int→double→·10^-s and
    loses precision once the unscaled value passes 2^53. Because the TRUE
    sum has at most ``scale`` decimals, re-rounding the cast back to that
    grid lands both engines on the identical double (the cast error is
    ~1e-6, the grid spacing 10^-scale)."""
    return F.round(F.sum(_exact(col, scale)).cast("double"), scale)


def exact_avg_double(col: str, scale: int = 2, round_to: int = 6) -> Column:
    """AVG derived from the portable sum: identical numerator double ÷
    identical count → identical quotient everywhere; final round is
    cosmetic stability."""
    return F.round(exact_sum_double(col, scale) / F.count(F.col(col)), round_to)


def metric_agg(col: str, method: str, alias: str | None = None) -> Column:
    """A1: one configurable aggregate; empty input → 0.0
    (reference ``src/main.py:90-91``)."""
    alias = alias or f"{method}_{col}"
    if method == "average":
        expr = exact_avg_double(col).alias(alias)
    elif method == "max":
        expr = F.max(F.col(col)).alias(alias)
    else:  # sum, and the reference's default-for-unknown-method behavior
        expr = exact_sum_double(col).alias(alias)
    return expr


def horizontal_skipna_mean(cols: list[str], alias: str = "row_mean") -> Column:
    """A3: pandas-style row-wise mean that skips NULLs — mean over the
    *present* values per row (reference ``weather.py:111``). Pure array
    expression: no UDF, fully codegen'd."""
    arr = F.array(*[F.col(c).cast("double") for c in cols])
    present = F.filter(arr, lambda x: x.isNotNull())
    total = F.aggregate(present, F.lit(0.0), lambda acc, x: acc + x)
    n = F.size(present)
    return F.when(n > 0, total / n).otherwise(F.lit(None)).alias(alias)


def first_per_group(
    df: DataFrame, group_cols: list[str], order_cols: list[Column], keep: int = 1
) -> DataFrame:
    """A5: first-match-per-group (reference takes the first valid reading
    per city, ``meteostat_weather.py:46-50``).

    row_number over a window — at scale this is a single shuffle on the
    group key; skew-safe under AQE. ``keep`` generalizes to per-group top-k.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= keep)
        .drop("_rn")
    )
