"""Watermarked stream-stream joins — the streaming twin of the batch
range join (the ``range_join_clicks_before_purchase`` query).

A click "attributed" to a later purchase within a bounded interval is,
in batch, a range join; in streaming it is Spark's canonical
stream-stream inner join with BOTH sides watermarked and the join
condition carrying the time bound. The watermarks + bound let the
engine expire buffered state: a click older than (watermark + interval)
can never join a future purchase, so per-key state is bounded — the
property that makes the join runnable forever at production rates.

Semantics note (public Spark docs, Structured Streaming guide,
"Stream-stream Joins"): results match the batch join over the same
data modulo rows dropped for arriving later than the watermark; with
availableNow draining of a static directory nothing is late, so
batch == streaming exactly — which is what the test asserts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def clicks_before_purchases_stream(
    clicks: DataFrame,
    purchases: DataFrame,
    interval: str = "30 minutes",
    watermark: str = "1 hour",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Inner stream-stream join: every (click, purchase) pair for the
    same user with click.ts in (purchase.ts - interval, purchase.ts].

    Both inputs must be streaming DataFrames with event-time ``ts_col``.
    Output: user_id, click_ts, purchase_ts, gap_seconds.
    """
    from pyspark.sql.types import TimestampNTZType

    def _event_time(df: DataFrame, src: str) -> "F.Column":
        # withWatermark rejects TIMESTAMP_NTZ at analysis (Spark 4); cast is
        # value-preserving under the engine's pinned-UTC session.
        col = F.col(src)
        if isinstance(df.schema[src].dataType, TimestampNTZType):
            col = col.cast("timestamp")
        return col

    c = (
        clicks.select(
            F.col(user_col).alias("user_id"),
            _event_time(clicks, ts_col).alias("click_ts"),
        ).withWatermark("click_ts", watermark)
    )
    p = (
        purchases.select(
            F.col(user_col).alias("p_user_id"),
            _event_time(purchases, ts_col).alias("purchase_ts"),
        ).withWatermark("purchase_ts", watermark)
    )
    return c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") > F.col("purchase_ts") - F.expr(f"INTERVAL {interval}")),
    ).select(
        "user_id",
        "click_ts",
        "purchase_ts",
        (
            F.unix_micros("purchase_ts") - F.unix_micros("click_ts")
        ).alias("gap_us"),
    )


def clicks_left_outer_purchases_stream(
    clicks: DataFrame,
    purchases: DataFrame,
    interval: str = "30 minutes",
    watermark: str = "1 hour",
    user_col: str = "user_id",
) -> DataFrame:
    """LEFT OUTER stream-stream join — the semantics the inner join
    can't give: a click with NO qualifying purchase still surfaces,
    but only once its state EXPIRES (watermark passes click_ts +
    interval, so no future purchase can ever match it). Matched pairs
    emit immediately; the NULL-padded rows emit on watermark advance —
    including the final no-data micro-batch an availableNow drain runs,
    which is what makes the emitted set deterministic: null rows are
    exactly the unmatched clicks whose expiry precedes
    min(max click_ts, max purchase_ts) - watermark. Clicks whose
    expiry is at-or-after that final watermark are WITHHELD (state
    still open when the stream drains) — same append-mode contract as
    the windowed aggregation. Both inputs must already be watermarked
    streaming frames; per-key state stays bounded by watermark +
    interval, the property that lets this run forever.
    """
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {interval}")),
        "leftOuter",
    ).select("user_id", "click_ts", "purchase_ts")
