"""Temporal windows, sort / limit / top-k (SURVEY.md §2.5).

The reference's outer driver is a sliding 2-day window with 1-day slide
(``src/main.py:288-303,344-369``); Spark's ``window()`` expression is the
exact idiom and — unlike the reference's per-day loop — computes every
window in one distributed pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sliding_window_agg(
    df: DataFrame,
    ts_col: str,
    aggs: list[Column],
    window_duration: str = "2 days",
    slide_duration: str = "1 day",
) -> DataFrame:
    """W1: sliding temporal window aggregate.

    Each input row lands in window/slide buckets (2 here) — the map-side
    expansion is constant-factor, then an ordinary partial+final hash
    aggregate on the window-start key. Scales linearly; no driver loop.
    """
    w = F.window(F.col(ts_col), window_duration, slide_duration)
    return (
        df.groupBy(w.alias("w"))
        .agg(*aggs)
        .withColumn("window_start", F.col("w.start"))
        .withColumn("window_end", F.col("w.end"))
        .drop("w")
    )


def top_k(df: DataFrame, order_cols: list[Column], k: int) -> DataFrame:
    """Global top-k: ``orderBy(...).limit(k)`` compiles to TakeOrderedAndProject —
    each partition keeps a k-row heap, only k rows per partition reach the
    driver-side merge. No full sort, no full shuffle."""
    return df.orderBy(*order_cols).limit(k)


def top_k_per_group(df: DataFrame, group_cols: list[str], order_cols: list[Column], k: int) -> DataFrame:
    """Per-group top-k via rank window; one shuffle on the group key."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return df.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") <= k).drop("_rk")
