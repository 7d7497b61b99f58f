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
  per-key serialized state updates give the same mutual exclusion;
* age-out (job_culler.py:35) maps to a GroupState timeout.

The state value holds the accumulated trigger map as parallel arrays
(upstreams, exec_uuids) — GroupState supports struct-of-simple-types best.
"""

from __future__ import annotations

import functools
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..streaming.transitions import (
    TriggerState,
    apply_delivery,
    is_simple_delivery,
    sources_repr,
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("pipeline_uuid", T.StringType()),
        T.StructField("fired_at", T.TimestampType()),
        T.StructField("trigger_operator", T.StringType()),
        T.StructField("n_deps", T.IntegerType()),
        T.StructField("sources", T.StringType()),
    ]
)

OUTPUT_COLUMNS = [f.name for f in OUTPUT_SCHEMA.fields]

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
    key: tuple[str],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    ttl_ms: int | None = None,
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState update function for one group key.

    A simple bucket (SIMPLE_BUCKET_PREFIX) holds deliveries of many
    pipelines that always fire: each row becomes its own fire, and the
    bucket never reads or writes state. Any other key is a multi-dependency
    pipeline_uuid: fold this micro-batch's deliveries through the shared
    transition, with the partial trigger map as its state.

    ttl_ms is bound by fires_stream ONLY when the query runs with
    ProcessingTimeTimeout (an unbounded query); bounded/NoTimeout runs,
    the dispatch drain among them, leave it None so no timeout is ever
    armed. Config errors surface
    at query construction, never silently here (a swallowed failure would
    disable the ST5 age-out and let keyed state grow unbounded)."""
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
    if state.hasTimedOut:
        # age-out (ST5): drop the partial trigger map
        state.remove()
        return
    if state.exists:
        upstreams, execs = state.get
        seen = dict(zip(upstreams, execs))
    else:
        seen = {}

    rows: list[dict[str, Any]] = []
    operator = None
    n_deps = 0
    # accumulate EVERY Arrow chunk before folding: a group whose micro-batch
    # spans multiple chunks (arrow.maxRecordsPerBatch) arrives as chunks in
    # arbitrary order — sorting each chunk independently would fold the
    # deliveries out of global event-time order and diverge from the batch
    # replay (verified: interleaved chunks shift fired_at/slot winners)
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        merged = pd.concat(chunks, ignore_index=True).sort_values(
            ["event_time", "exec_uuid"], kind="mergesort"
        )
    else:
        merged = None
    if merged is not None:
        for row in merged.itertuples(index=False):
            operator = row.trigger_operator
            n_deps = int(row.n_deps)
            tstate = TriggerState(operator=operator, n_deps=n_deps, seen=seen)
            fire = apply_delivery(tstate, row.upstream_uuid, row.exec_uuid, row.event_time)
            seen = tstate.seen
            if fire is not None:
                rows.append(
                    {
                        "pipeline_uuid": state_key,
                        "fired_at": fire.event_time,
                        "trigger_operator": operator,
                        "n_deps": n_deps,
                        "sources": sources_repr(fire.sources),
                    }
                )
    if seen:
        ups = sorted(seen)
        state.update((ups, [seen[u] for u in ups]))
        if ttl_ms is not None:
            # age-out TTL (ST5) — same knob the batch culler uses
            state.setTimeoutDuration(ttl_ms)
    elif state.exists:
        state.remove()
    if rows:
        yield pd.DataFrame(rows, columns=OUTPUT_COLUMNS)


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


def fires_stream(
    spark: SparkSession,
    events_stream: DataFrame,
    sf_dir: str,
    ttl_ms: int | None = None,
) -> DataFrame:
    """The control loop's stateful operator, built in one place: lifecycle
    events -> deliveries -> the keyed trigger fold, one output row per fire
    (OUTPUT_SCHEMA). The dispatch ledger query (sinks.start_dispatch_query)
    and its checkpointed resume start from this frame.

    ttl_ms=None runs with NoTimeout (bounded availableNow drains: with a
    processing-time timeout armed they keep scheduling state-cleanup
    batches and never finish). A value arms ProcessingTimeTimeout and the
    per-group age-out (ST5) with that duration; only multi-dependency
    pipeline keys ever arm it, since the simple buckets hold no state.

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
    if ttl_ms is None:
        update_fn, timeout = _update_group, GroupStateTimeout.NoTimeout
    else:
        update_fn = functools.partial(_update_group, ttl_ms=ttl_ms)
        timeout = GroupStateTimeout.ProcessingTimeTimeout
    return deliveries.groupBy("state_key").applyInPandasWithState(
        update_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )
