"""Streaming observability: named ``observe()`` metrics on the ingest
path plus a ``StreamingQueryListener`` that collects them per micro-batch
— the monitoring seam a 1000-executor deployment wires to its metrics
backend (the reference has no metrics surface at all; kalytical jobs are
fire-and-forget K8s pods whose only telemetry is the culler's age check).

``observe`` computes the aggregates INSIDE the running query plan (no
second scan, no extra action): each batch's event count, distinct-ish
volume proxy, null-rate and value sum ride the existing shuffle. The
listener receives them in ``progress.observedMetrics`` alongside the
engine's own state/watermark telemetry — events/sec and state size are
available live, per batch, in production.

Scale: observed aggregates are map-side-combinable and constant-width per
batch; the listener runs driver-side on the already-serialized progress
object. Neither adds a job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

INGEST_METRICS = "ingest_metrics"


def with_ingest_metrics(events_stream: DataFrame) -> DataFrame:
    """Attach the named observation to a lifecycle-event stream: row
    count, sum of a value-bearing column when present, and the
    null-subtype rate (a live data-contract canary)."""
    cols = set(events_stream.columns)
    exprs = [F.count(F.lit(1)).alias("n_rows")]
    if "event_subtype" in cols:
        exprs.append(
            F.sum(F.col("event_subtype").isNull().cast("bigint")).alias(
                "n_null_subtype"
            )
        )
    if "pipeline_uuid" in cols:
        exprs.append(
            F.approx_count_distinct("pipeline_uuid").alias("approx_pipelines")
        )
    return events_stream.observe(INGEST_METRICS, *exprs)


class IngestMetricsListener(StreamingQueryListener):
    """Collects the named observed metrics per batch. ``rows`` holds one
    dict per progress event that carried the observation — the hook a
    deployment replaces with a push to its metrics backend."""

    def __init__(self) -> None:
        self.rows: list[dict] = []
        self.progress_events = 0

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.progress_events += 1
        observed = event.progress.observedMetrics
        row = observed.get(INGEST_METRICS) if observed else None
        if row is not None:
            d = row.asDict()
            d["batch_id"] = event.progress.batchId
            self.rows.append(d)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass
