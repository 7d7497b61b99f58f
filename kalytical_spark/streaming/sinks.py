"""Streaming sinks (SURVEY.md UD4/ST2 streaming path): foreachBatch handing
fire decisions to an execution engine with idempotent, batch-id-keyed
appends — the exactly-once submission ledger that replaces the reference's
fire-and-forget pod creation (engine.py:96-150).

foreachBatch contract: a micro-batch can be REPLAYED after a failure with
the same batch_id; the sink must be idempotent. Here each batch writes its
own batch_id=<n> partition directory, and a replay overwrites it (the
standard transactional-append pattern for non-transactional stores). The
batch id lives in the directory name only; read_ledger gets it back as an
int column by partition discovery.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .incubation import fires_stream


def dispatch_ledger_sink(ledger_dir: str):
    """Build a foreachBatch function appending fire decisions to a
    batch-partitioned parquet ledger, idempotent under micro-batch replay."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn(
                "tracking_id",
                F.substring(
                    F.sha2(
                        F.concat_ws(
                            "|", "pipeline_uuid", "sources",
                            # epoch seconds, NOT cast('string'): the string
                            # render depends on spark.sql.session.timeZone,
                            # so a consumer under a different TZ would mint
                            # a different id for the same instant
                            F.unix_timestamp("fired_at").cast("string"),
                        ),
                        256,
                    ),
                    1,
                    10,
                ),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(ledger_dir, f"batch_id={batch_id}"))
        )

    return sink


def start_dispatch_query(
    spark: SparkSession,
    events_stream: DataFrame,
    sf_dir: str,
    ledger_dir: str,
    checkpoint_dir: str,
):
    """The full streaming dispatch pipeline: event stream -> incubation
    state machine -> foreachBatch submission ledger (bounded run)."""
    fires = fires_stream(spark, events_stream, sf_dir)
    return (
        fires.writeStream.foreachBatch(dispatch_ledger_sink(ledger_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_ledger(spark: SparkSession, ledger_dir: str) -> DataFrame:
    # the directory itself, not a batch_id=* glob: partition discovery
    # yields the same batch_id column, and a glob makes the file-stream
    # metadata probe look up a literal ".../batch_id=*" path and log a
    # FileNotFoundException WARN on every read
    return spark.read.option("basePath", ledger_dir).parquet(ledger_dir)
