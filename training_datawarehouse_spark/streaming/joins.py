"""Stream-stream joins with watermark-bounded state.

Structured Streaming's hardest primitive: joining two unbounded inputs
requires both sides to buffer state; the event-time watermarks plus the
time-range join condition bound it — a click can only ever match
purchases from the last hour, so older purchase state is evicted.

Semantics match the batch interval join ``op_jn_range`` exactly (the
same condition text), which is how the streaming path gets its oracle:
stream/batch parity is asserted in tests over a multi-micro-batch
drain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def clicks_purchases_stream_join(events: DataFrame) -> DataFrame:
    """Inner stream-stream join: purchases within the hour before each
    click by the same user. Both sides derive from the same watermarked
    events stream; state per side is bounded by watermark + range."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.round("value", 6).alias("p_value"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts") - F.expr("interval 1 hour"))
        & (F.col("p_ts") < F.col("c_ts")),
        "inner",
    ).select("click_id", "c_user", "p_ts", "p_value")
