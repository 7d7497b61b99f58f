"""Stream-stream interval join (§2.8 depth): correlate two live event
streams — each purchase attributed to the clicks by the same user in the
preceding attribution window — with watermarks on BOTH sides so the join
state is bounded.

This is the Structured Streaming feature the rest of the streaming package
doesn't exercise: two unbounded inputs, a range condition on event time,
and state retention derived from watermark + interval. Spark keeps each
side's rows in state only until the watermark passes the last instant they
could still match (click state: ATTRIBUTION_WINDOW + watermark delay;
purchase state: watermark delay) — at 100 TB/day the state store holds
hours, not the stream.

Semantics: inner join, ``click_ts <= purchase_ts <= click_ts + window``,
equi-key on user_id. Inner stream-stream joins emit matches as they are
found (watermarks bound STATE, not emission), so on an in-order replay the
streamed result equals the batch interval join exactly — pinned in
tests/test_streaming_joins.py.

The same join, on the batch frame, is the attribution step of the
registered attribution queries (operators/events.py).

Reference parity: the reference has no stream-correlation surface (its
mq_poller is a single at-most-once queue).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ATTRIBUTION_WINDOW = "2 hours"
WATERMARK_DELAY = "1 hour"


def _sides(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split one event frame into the click and purchase sides with
    disjoint column names (stream-stream joins forbid ambiguous refs)."""
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return clicks, purchases


def attribution_join(events: DataFrame, window: str = ATTRIBUTION_WINDOW) -> DataFrame:
    """Purchases joined to same-user clicks within the attribution window.
    Works identically on a streaming frame (watermarked, bounded state) and
    a batch frame (watermark is a no-op in batch) — which is exactly how
    the equivalence test pins the semantics. ``window`` widens the lookback
    for batch callers (the multi-touch credit model uses a day); the
    streaming default stays ATTRIBUTION_WINDOW so join state stays small."""
    clicks, purchases = _sides(events)
    if events.isStreaming:
        clicks = clicks.withWatermark("click_ts", WATERMARK_DELAY)
        purchases = purchases.withWatermark("purchase_ts", WATERMARK_DELAY)
    return clicks.join(
        purchases,
        F.expr(
            f"""
            c_user = p_user
            AND purchase_ts >= click_ts
            AND purchase_ts <= click_ts + INTERVAL {window}
            """
        ),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )
