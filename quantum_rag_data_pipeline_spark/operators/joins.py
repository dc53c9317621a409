"""Joins (SURVEY.md §2.4, J1–J2).

Scale policy, applied at every call site in this package:
- bounded-cardinality dimensions (region, nation, city lookup) → explicit
  ``broadcast()`` hint, no shuffle of the fact side;
- fact⋈fact equi joins → shuffled hash/sort-merge on the key, skew
  handled by AQE (``spark.sql.adaptive.skewJoin.enabled``);
- the reference's N-way full-outer pandas merge (``weather.py:94-97``) is
  re-expressed as groupBy().pivot() over the LONG format — one shuffle
  total instead of N-1 joins (``sources/weather.py:hourly_wide_table``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload_cols: list[str],
    suffix: str = "_matched",
) -> DataFrame:
    """As-of (backward) join: for each left row, the latest right row with
    ``right.ts <= left.ts`` on the same key.

    Union-and-window formulation — the scale-correct plan: ONE shuffle on
    the key (no per-key range cross product, no point-in-interval
    explosion), then a running ``last(..., ignorenulls=True)`` over the
    merged timeline. Right rows sort before left rows at equal timestamps
    so ties match (<=, like DuckDB/pandas ASOF)."""
    from pyspark.sql.window import Window

    l_tagged = left.select(
        F.col(key), F.col(left_ts).alias("_t"), F.lit(1).alias("_is_left"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_lrow"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}") for c in payload_cols],
    )
    r_tagged = right.select(
        F.col(key), F.col(right_ts).alias("_t"), F.lit(0).alias("_is_left"),
        F.lit(None).cast(
            "struct<" + ",".join(f"{f.name}:{f.dataType.simpleString()}" for f in left.schema.fields) + ">"
        ).alias("_lrow"),
        *[F.col(c).alias(f"_r_{c}") for c in payload_cols],
    )
    merged = l_tagged.unionByName(r_tagged)
    w = (
        Window.partitionBy(key)
        .orderBy(F.col("_t").asc(), F.col("_is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for c in payload_cols:
        merged = merged.withColumn(f"{c}{suffix}", F.last(f"_r_{c}", ignorenulls=True).over(w))
    out_cols = [F.col(f"_lrow.{c}").alias(c) for c in left.columns]
    return merged.filter(F.col("_is_left") == 1).select(
        *out_cols, *[F.col(f"{c}{suffix}") for c in payload_cols]
    )
