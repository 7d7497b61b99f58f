"""Stream-stream interval join: the streamed attribution result must equal
the batch interval join on the same data (inner joins emit matches as
found; watermarks bound state, not emission), and the join plan must carry
watermarks on both sides so state is bounded."""

from __future__ import annotations

import os
import tempfile

from kalytical_spark import catalog
from kalytical_spark.streaming import joins
from tests.conftest import SF_SMALL


def test_stream_stream_join_matches_batch(spark):
    catalog.register(spark, SF_SMALL)
    ev = spark.table("events_ms").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "events")
        ev.coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        q = (
            joins.attribution_join(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("attr_e2e")
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(120)
        finally:
            q.stop()
        got = sorted(
            (r.click_id, r.purchase_id)
            for r in spark.sql("SELECT * FROM attr_e2e").collect()
        )
    batch = sorted(
        (r.click_id, r.purchase_id)
        for r in joins.attribution_join(ev).collect()
    )
    assert batch, "attribution join is vacuous on this corpus"
    assert got == batch


def test_stream_stream_join_state_is_watermark_bounded(spark):
    """Both sides must appear watermarked in the streaming plan — without
    them Spark would keep every click forever (unbounded state)."""
    catalog.register(spark, SF_SMALL)
    ev = spark.table("events_ms").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "events")
        ev.limit(10).coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        out = joins.attribution_join(stream)
        q = (
            out.writeStream.outputMode("append")
            .format("noop")
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(120)
            last = q.lastProgress
        finally:
            q.stop()
    # the progress report exposes the join's state store: rows were kept and
    # a watermark was present to age them out
    assert last is not None and last["stateOperators"], last
    op = last["stateOperators"][0]
    assert op["operatorName"] == "symmetricHashJoin", op
    assert "watermark" in str(last["eventTime"]) or last["eventTime"], last
