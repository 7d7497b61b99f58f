"""Structured Streaming control loop (SURVEY.md section 7 phase 4; reference
lifecycle E1/E3): the event stream drives the dependency-trigger state
machine incrementally with one applyInPandasWithState, emitting the same
Fire decisions the batch replay produces.

Keying: only a multi-dependency 'all' pipeline can hold a trigger map, so
only its deliveries are grouped (and hold state) under its own
pipeline_uuid. A delivery that always fires (transitions.is_simple_delivery)
goes to one of a few shared simple buckets, one per state partition; a
bucket group projects each delivery to its fire and never writes state.
The stream is still scanned once, into one Python operator.

Upgrades over the reference, by design (SURVEY.md section 4.3):
* exactly-once via checkpointing + idempotent append sink (the reference
  deletes SQS messages even on failure — at-most-once, mq_poller.py:30);
* the Mongo distributed lock (data_provider.py:157-198) disappears:
  per-key serialized state updates give the same mutual exclusion.

Keyed state holds one row per multi-dependency pipeline with a partial
trigger map, so the DAG bounds it; the query runs with NoTimeout.

The state value holds the accumulated trigger map as parallel arrays
(upstreams, exec_uuids) — GroupState supports struct-of-simple-types best.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..streaming.transitions import (
    OUTPUT_COLUMNS,
    OUTPUT_SCHEMA,
    fold,
    is_simple_delivery,
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("seen_upstreams", T.ArrayType(T.StringType())),
        T.StructField("seen_execs", T.ArrayType(T.StringType())),
    ]
)

# Group-key prefix of the simple buckets. A pipeline uuid is [a-z0-9-]+
# (api._UUID_RE), so no pipeline key can start with it.
SIMPLE_BUCKET_PREFIX = "#simple-"


def _update_group(
    key: tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState update function for one group key.

    A simple bucket (SIMPLE_BUCKET_PREFIX) holds deliveries of many
    pipelines that always fire: each row becomes its own fire, and the
    bucket never reads or writes state. Any other key is a multi-dependency
    pipeline_uuid: fold this micro-batch's deliveries through the shared
    transitions.fold, from the partial trigger map kept as its state."""
    (state_key,) = key
    if state_key.startswith(SIMPLE_BUCKET_PREFIX):
        # one fire per delivery: the row's own pipeline and its single
        # source (sources_repr of ((upstream, exec),))
        for pdf in pdfs:
            if len(pdf):
                yield pdf.assign(
                    fired_at=pdf["event_time"],
                    sources=pdf["upstream_uuid"] + "=" + pdf["exec_uuid"],
                )[OUTPUT_COLUMNS]
        return
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if not chunks:
        return
    seen = dict(zip(*state.get)) if state.exists else {}
    fires, seen = fold(state_key, pd.concat(chunks, ignore_index=True), seen)
    if seen:
        ups = sorted(seen)
        state.update((ups, [seen[u] for u in ups]))
    elif state.exists:
        state.remove()
    if len(fires):
        yield fires


def delivery_stream(
    spark: SparkSession, events_stream: DataFrame, sf_dir: str
) -> DataFrame:
    """Map a streaming lifecycle-event frame to trigger deliveries (the
    streaming twin of operators/replay._deliveries; dims broadcast)."""
    from .. import catalog

    catalog.register(spark, sf_dir)
    edges = spark.table("dag_edges")
    defs = spark.table("pipeline_defs").select("pipeline_uuid", "trigger_operator")
    n_deps = edges.groupBy("pipeline_uuid").agg(F.count("*").cast("int").alias("n_deps"))
    triggers = events_stream.filter(
        (F.col("event_subtype") == "success") & ~F.col("disable_downstream")
    ).select(F.col("pipeline_uuid").alias("upstream_uuid"), "exec_uuid", "event_time")
    return (
        triggers.join(F.broadcast(edges), "upstream_uuid")
        .join(F.broadcast(defs), "pipeline_uuid")
        .join(F.broadcast(n_deps), "pipeline_uuid")
    )


def fires_stream(spark: SparkSession, events_stream: DataFrame, sf_dir: str) -> DataFrame:
    """The control loop's stateful operator, built in one place: lifecycle
    events -> deliveries -> the keyed trigger fold, one output row per fire
    (OUTPUT_SCHEMA). The dispatch ledger query (sinks.start_dispatch_query)
    and its checkpointed resume start from this frame.

    The bucket count is the session's spark.sql.shuffle.partitions at
    construction. A checkpoint keeps its own partition count, and a
    different bucket count on resume is harmless: buckets hold no state."""
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    bucket = F.concat(
        F.lit(SIMPLE_BUCKET_PREFIX),
        F.pmod(F.hash("pipeline_uuid"), F.lit(n_buckets)).cast("string"),
    )
    deliveries = delivery_stream(spark, events_stream, sf_dir).withColumn(
        "state_key", F.when(is_simple_delivery(), bucket).otherwise(F.col("pipeline_uuid"))
    )
    return deliveries.groupBy("state_key").applyInPandasWithState(
        _update_group,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
