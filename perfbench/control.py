"""control_loop: the scheduler's event -> dispatch path. The lifecycle event
log is cut into contiguous files in (event_time, exec_uuid) order, and
`streaming.sinks.start_dispatch_query` drains them one file per
micro-batch: delivery join, the incubation state machine
(applyInPandasWithState), then the foreachBatch ledger sink. One operation
is one such round, from a fresh checkpoint. One unmeasured round over the
log's first file comes first.

Each round's ledger must hold exactly the fire set of the batch replay
(`replay.dag_replay_decisions`), and its tracking ids must be unique.
"""

from __future__ import annotations

import os
import statistics
from collections import Counter

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from kalytical_spark.operators import replay
from kalytical_spark.streaming import incubation, sinks

N_FILES = 4
ROUND_TIMEOUT_S = 90


def _ts(x) -> int:
    return pd.Timestamp(x).value


def _write_chunks(spark, src: str, warm: str):
    """Write the ordered event log as N_FILES parquet files whose
    modification times follow their order, so the file source reads them
    in event-time order, and the first of them again into `warm`. Return
    the log's schema."""
    events = spark.table("lifecycle_events")
    table = pa.Table.from_pandas(
        events.orderBy("event_time", "exec_uuid").toPandas(), preserve_index=False
    )
    table = table.cast(pa.schema([
        pa.field(f.name, pa.timestamp("us", tz="UTC")) if pa.types.is_timestamp(f.type) else f
        for f in table.schema
    ]))
    os.makedirs(src)
    per_file = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        path = os.path.join(src, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(i * per_file, per_file), path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    os.makedirs(warm)
    pq.write_table(table.slice(0, per_file), os.path.join(warm, "part-00000.parquet"))
    return events.schema


class ControlLoop:
    name = "control_loop"
    nominal_op_s = 10
    python_workers = True
    views = ("pipeline_defs", "dag_edges", "lifecycle_events")

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        spark, sf = ctx.spark, ctx.sf_dir
        self.src = os.path.join(ctx.work, "events")
        warm = os.path.join(ctx.work, "events-warm")
        self.schema = _write_chunks(spark, self.src, warm)
        decisions = replay.dag_replay_decisions(spark, sf)
        self.want = Counter(
            (r.pipeline_uuid, _ts(r.fired_at), r.sources)
            for r in decisions.select("pipeline_uuid", "fired_at", "sources").collect()
        )
        decisions.unpersist()
        self.rounds = 0
        self.failed = 0
        self.seconds = 0.0
        self.events_done = 0
        self.batch_ms: list[float] = []
        self.traced_batch_ms: list[float] = []
        self.progress: list[dict] = []
        self.fires: list[int] = []
        self.ledger_rows: list[int] = []
        self.mismatches: list[str] = []
        self.warm_up(warm)

    def _drain(self, src: str, base: str):
        """Drain `src` through the dispatch query into a ledger and
        checkpoint under `base`. Return the query, the drain's timing and
        an error or None."""
        spark = self.ctx.spark
        stream = spark.readStream.schema(self.schema).option("maxFilesPerTrigger", 1).parquet(src)
        with self.ctx.tracer.timed("streaming.sinks.start_dispatch_query") as drain:
            q = sinks.start_dispatch_query(
                spark, stream, self.ctx.sf_dir,
                ledger_dir=os.path.join(base, "ledger"),
                checkpoint_dir=os.path.join(base, "ckpt"),
            )
            try:
                error = None if q.awaitTermination(ROUND_TIMEOUT_S) else "timeout"
            except Exception as exc:  # noqa: BLE001 - a failed round is counted, not fatal
                error = repr(exc)
            finally:
                q.stop()
        return q, drain, error

    def warm_up(self, warm: str) -> None:
        """One unmeasured micro-batch, the log's first file into a ledger
        of its own. The first batch of a cold JVM pays the stream's planning
        and code generation (4.2-4.6 s against 2.2-3.0 s warm on a 4-core
        VM), and the batches after it fall as the JIT compiles; a
        long-running scheduler pays that once. A failure here shows again
        in the measured round, which is checked."""
        self._drain(warm, os.path.join(self.ctx.work, "warm"))

    def step(self, traced: bool) -> None:
        """Run one round."""
        counters = self.ctx.counters
        base = os.path.join(self.ctx.work, f"round{self.rounds}")
        self.rounds += 1
        q, drain, error = self._drain(self.src, base)
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        if error is None:
            error = self._check(os.path.join(base, "ledger"), batches)
        if error is not None:
            self.failed += N_FILES
            self.mismatches.append(error)
        ms = [float(p["durationMs"]["triggerExecution"]) for p in batches]
        if traced:
            counters.collect(str(q.runId))
            self.traced_batch_ms.extend(ms)
            self.progress.extend(batches)
        else:
            self.batch_ms.extend(ms)
            self.seconds += drain.seconds
            self.events_done += sum(p["numInputRows"] for p in batches)

    def _check(self, ledger_dir: str, batches: list) -> str | None:
        if len(batches) != N_FILES:
            return f"{len(batches)} data batches, want {N_FILES}"
        rows = sinks.read_ledger(self.ctx.spark, ledger_dir).select(
            "pipeline_uuid", "fired_at", "sources", "tracking_id"
        ).collect()
        got = Counter((r.pipeline_uuid, _ts(r.fired_at), r.sources) for r in rows)
        # ledger rows that are fire decisions of the replay, with multiplicity
        self.fires.append(sum((got & self.want).values()))
        self.ledger_rows.append(len(rows))
        if got != self.want:
            return f"fire set differs: {len(rows)} rows, want {sum(self.want.values())}"
        if len({r.tracking_id for r in rows}) != len(rows):
            return "duplicate tracking ids"
        return None

    def op_latencies(self) -> list[float]:
        return self.batch_ms

    def traced_latencies(self) -> list[float]:
        return self.traced_batch_ms

    def throughput(self) -> float:
        return self.events_done / self.seconds

    def attempted(self) -> int:
        return self.rounds * N_FILES

    def per_layer(self) -> dict:
        if not self.progress:
            return {}

        def med(values):
            return float(statistics.median(values))

        dur = [p["durationMs"] for p in self.progress]
        state = [p["stateOperators"][0] for p in self.progress]
        customs = [s.get("customMetrics") or {} for s in state]
        live = [c.get("rocksdbSstFileSize", c.get("stateOnCurrentVersionSizeBytes", 0)) for c in customs]
        fires = med(self.fires) if self.fires else 0.0
        spark, sf = self.ctx.spark, self.ctx.sf_dir
        deliveries = incubation.delivery_stream(spark, spark.table("lifecycle_events"), sf).count()
        return {
            "incubation.add_batch_ms": med([d.get("addBatch", 0) for d in dur]),
            "incubation.query_planning_ms": med([d.get("queryPlanning", 0) for d in dur]),
            "incubation.wal_commit_ms": med([d.get("walCommit", 0) for d in dur]),
            "incubation.state_update_ms": med([s["allUpdatesTimeMs"] for s in state]),
            "incubation.state_commit_ms": med([s["commitTimeMs"] for s in state]),
            "incubation.state_rows": med([s["numRowsTotal"] for s in state]),
            "incubation.state_live_bytes": med(live),
            "transitions.deliveries": float(deliveries),
            "transitions.fires": fires,
            "transitions.fire_ratio": fires / deliveries if deliveries else 0.0,
            "sinks.ledger_rows": med(self.ledger_rows) if self.ledger_rows else 0.0,
        }
