"""Batch DAG-replay engine (SURVEY.md section 7 phase 3, lifecycle E1/E3 in
batch form): a deterministic fold over the ordered lifecycle event log that
reproduces the reference's dispatch decision sequence — which pipelines
fired, when, and with which upstream sources — plus the retry ledger.

Execution shape: the event->downstream delivery mapping is a broadcast hash
join (parallel over the unbounded event side); the per-pipeline fold runs as
applyInPandas grouped by downstream pipeline. The fold is
streaming/transitions.fold, which sorts each group by (event_time,
exec_uuid) for a total order — the streaming layer runs the same function
incrementally, one micro-batch at a time.

The sequential trigger-map fold (resets included) IS value-oracle-proven:
ORACLE_REPLAY_DECISIONS re-derives it in DuckDB as a recursive CTE that
advances every multi-dep pipeline one delivery per iteration, carrying the
trigger map as a STRUCT(u,e)[] column — cross-engine row-level proof of the
full fire ledger. Golden tests in tests/test_replay.py additionally pin the
semantics in isolation.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..streaming.transitions import OUTPUT_SCHEMA, fold, is_simple_delivery
from .common import app_key, eager_cache, session_memo, t

# the fire columns with the per-pipeline sequence number after the key
_DECISION_SCHEMA = T.StructType(
    OUTPUT_SCHEMA.fields[:1] + [T.StructField("seq", T.IntegerType())] + OUTPUT_SCHEMA.fields[1:]
)


def _deliveries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Success events resolved to (downstream, upstream, exec, time) trigger
    deliveries with the downstream's operator metadata attached — the batch
    instantiation of the ONE delivery-resolution definition shared with the
    streaming layer (streaming/incubation.delivery_stream), so the two
    execution modes cannot drift semantically."""
    from ..streaming.incubation import delivery_stream

    ev = t(spark, sf_dir, "lifecycle_events")
    return delivery_stream(spark, ev, sf_dir)


def _fold_group(pdf: pd.DataFrame) -> pd.DataFrame:
    fires, _ = fold(pdf["pipeline_uuid"].iloc[0], pdf, {})
    fires.insert(1, "seq", range(1, len(fires) + 1))
    return fires


# per-(session, sf) cache: the summary and downstream consumers reuse the
# folded ledger instead of recomputing the whole replay
_DECISIONS_CACHE: dict[tuple[int, str], DataFrame] = session_memo({})


def _fires_simple(deliveries: DataFrame) -> DataFrame:
    """Fire ledger for 'any' and single-dep pipelines: every delivery fires
    (dispatcher.py:41-42), so seq/sources come from a pure-JVM window — no
    Python anywhere in this path."""
    from pyspark.sql import Window as W

    simple = deliveries.filter(is_simple_delivery())
    w = W.partitionBy("pipeline_uuid").orderBy(F.asc("event_time"), F.asc("exec_uuid"))
    return simple.select(
        "pipeline_uuid",
        F.row_number().over(w).alias("seq"),
        F.col("event_time").alias("fired_at"),
        "trigger_operator",
        "n_deps",
        F.concat(F.col("upstream_uuid"), F.lit("="), F.col("exec_uuid")).alias("sources"),
    )


def dag_replay_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full fire-decision ledger: every dispatch the reference control
    loop would have made over this event history, in order per pipeline.

    Hybrid execution: 'any' and single-dep pipelines fire on every delivery
    (dispatcher.py:41-42) — a pure-JVM window computes their seq/sources with
    no Python in the loop. Only multi-dep 'all' pipelines need the sequential
    trigger-map fold, which runs in applyInPandas over that (much smaller)
    subset. Both paths share the transition semantics pinned by tests, and
    the WHOLE ledger (fold included) is value-proven against
    ORACLE_REPLAY_DECISIONS's recursive-CTE twin.
    """
    key = (app_key(spark), sf_dir)
    if key in _DECISIONS_CACHE:
        return _DECISIONS_CACHE[key]
    # eager: the ledger feeds multiple downstream consumers (summary,
    # retry ledger, credit queries) — materialize before any of them
    # plans, so AQE sees final cache statistics (common.eager_cache)
    out = eager_cache(replay_decisions_plan(spark, sf_dir))
    _DECISIONS_CACHE[key] = out
    return out


def replay_decisions_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNCACHED ledger pipeline — the single construction the memoized
    query materializes and the plan-fingerprint gate pins structurally (a
    memo-warm read executes as one cached scan, which would blind the
    gate to this plan; tools/plan_fingerprint.py r8)."""
    deliveries = _deliveries(spark, sf_dir)
    fires_simple = _fires_simple(deliveries)
    multi = deliveries.filter(~is_simple_delivery())
    fires_multi = multi.groupBy("pipeline_uuid").applyInPandas(
        _fold_group, schema=_DECISION_SCHEMA
    )
    return fires_simple.unionByName(fires_multi)


def dag_replay_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregated replay ledger (oracle-checkable for the 'any'/'all'-1dep
    part of the semantics): fire counts per pipeline.

    For 'any' and single-dep 'all' pipelines, fires == deliveries, which SQL
    can count directly; multi-dep 'all' fire counts require the sequential
    fold (min over per-upstream delivery counts is an upper bound, not the
    exact reset semantics) — so the oracle covers the closed-form subset and
    the golden tests pin the rest.

    Since the output keeps ONLY the simple subset, it aggregates the
    pure-JVM simple-fire ledger directly: the applyInPandas fold for
    multi-dep pipelines never runs on this path (it would be computed and
    then filtered away). A warm decisions cache is still preferred — its
    simple rows are identical by construction.
    """
    key = (app_key(spark), sf_dir)
    if key in _DECISIONS_CACHE:
        dec = _DECISIONS_CACHE[key].filter(is_simple_delivery())
    else:
        dec = _fires_simple(_deliveries(spark, sf_dir))
    return dec.groupBy("pipeline_uuid", "trigger_operator", "n_deps").agg(
        F.count("*").alias("n_fires"),
        F.max("seq").alias("max_seq"),
        F.min("fired_at").alias("first_fire"),
        F.max("fired_at").alias("last_fire"),
    )


# ONE SQL spelling of delivery resolution (the twin of delivery_stream),
# shared by both replay oracles — the success filter, the
# disable_downstream gate, and the three joins can never diverge between
# them
_SQL_DELIVERIES_CTES = """n_deps AS (
  SELECT pipeline_uuid, CAST(COUNT(*) AS INT) AS n_deps
  FROM dag_edges GROUP BY 1
), deliveries AS (
  SELECT e.pipeline_uuid, d.trigger_operator, n.n_deps,
         t.upstream_uuid, t.exec_uuid, t.event_time
  FROM (SELECT pipeline_uuid AS upstream_uuid, exec_uuid, event_time
        FROM lifecycle_events
        WHERE event_subtype = 'success' AND NOT disable_downstream) t
  JOIN dag_edges e USING (upstream_uuid)
  JOIN pipeline_defs d ON e.pipeline_uuid = d.pipeline_uuid
  JOIN n_deps n ON e.pipeline_uuid = n.pipeline_uuid
)"""

ORACLE_REPLAY_SUMMARY = f"""
WITH {_SQL_DELIVERIES_CTES}
SELECT pipeline_uuid, trigger_operator, n_deps,
       CAST(COUNT(*) AS BIGINT) AS n_fires,
       CAST(COUNT(*) AS INT) AS max_seq,
       MIN(event_time) AS first_fire,
       MAX(event_time) AS last_fire
FROM deliveries
WHERE trigger_operator = 'any' OR n_deps = 1
GROUP BY 1, 2, 3
"""


def retry_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The failure-handling decision per failure event (dispatcher.py:48-58):
    requeue with retry_count+1 while below the pipeline's retry_max, else
    exhausted (MaxPipelineRetryReachedException path)."""
    ev = t(spark, sf_dir, "lifecycle_events")
    defs = t(spark, sf_dir, "pipeline_defs").select("pipeline_uuid", "retry_max")
    failures = ev.filter(F.col("event_subtype") == "failure")
    return (
        failures.join(F.broadcast(defs), "pipeline_uuid")
        .select(
            "pipeline_uuid",
            "exec_uuid",
            "event_time",
            "retry_count",
            "retry_max",
            F.when(F.col("retry_count") >= F.col("retry_max"), F.lit("exhausted"))
            .otherwise(F.lit("requeue"))
            .alias("decision"),
            F.when(
                F.col("retry_count") < F.col("retry_max"), F.col("retry_count") + 1
            ).alias("next_retry_count"),
        )
    )


ORACLE_RETRY_LEDGER = """
SELECT e.pipeline_uuid, e.exec_uuid, e.event_time, e.retry_count, d.retry_max,
       CASE WHEN e.retry_count >= d.retry_max THEN 'exhausted'
            ELSE 'requeue' END AS decision,
       CASE WHEN e.retry_count < d.retry_max THEN e.retry_count + 1 END
         AS next_retry_count
FROM lifecycle_events e
JOIN pipeline_defs d USING (pipeline_uuid)
WHERE e.event_subtype = 'failure'
"""


# Full-ledger value oracle: the closed-form simple subset (window row_number)
# UNION ALL a recursive-CTE fold of the multi-dep 'all' state machine. The
# recursion advances every pipeline one delivery per iteration (depth = max
# deliveries per pipeline, ~111 at sf0.01); state is a STRUCT(u,e)[] list
# with latest-wins slot replacement, reset on fire — exactly
# transitions.apply_delivery. md is MATERIALIZED (CTE-inlining lesson).
ORACLE_REPLAY_DECISIONS = f"""
WITH RECURSIVE {_SQL_DELIVERIES_CTES}, md AS MATERIALIZED (
  SELECT pipeline_uuid, n_deps, upstream_uuid, exec_uuid, event_time,
         CAST(row_number() OVER (PARTITION BY pipeline_uuid
                                 ORDER BY event_time, exec_uuid) AS INT) AS rn
  FROM deliveries WHERE trigger_operator = 'all' AND n_deps > 1
), fold AS (
  SELECT pipeline_uuid, n_deps, 0 AS rn,
         CAST([] AS STRUCT(u VARCHAR, e VARCHAR)[]) AS seen,
         CAST(NULL AS TIMESTAMP) AS fired_at,
         CAST(NULL AS VARCHAR) AS sources
  FROM (SELECT DISTINCT pipeline_uuid, n_deps FROM md)
  UNION ALL
  SELECT m.pipeline_uuid, m.n_deps, m.rn,
         CASE WHEN len(list_append(list_filter(f.seen, x -> x.u <> m.upstream_uuid),
                                   {{'u': m.upstream_uuid, 'e': m.exec_uuid}})) >= m.n_deps
              THEN CAST([] AS STRUCT(u VARCHAR, e VARCHAR)[])
              ELSE list_append(list_filter(f.seen, x -> x.u <> m.upstream_uuid),
                               {{'u': m.upstream_uuid, 'e': m.exec_uuid}}) END,
         CASE WHEN len(list_append(list_filter(f.seen, x -> x.u <> m.upstream_uuid),
                                   {{'u': m.upstream_uuid, 'e': m.exec_uuid}})) >= m.n_deps
              THEN m.event_time END,
         CASE WHEN len(list_append(list_filter(f.seen, x -> x.u <> m.upstream_uuid),
                                   {{'u': m.upstream_uuid, 'e': m.exec_uuid}})) >= m.n_deps
              THEN array_to_string(
                     list_transform(
                       list_sort(list_append(list_filter(f.seen, x -> x.u <> m.upstream_uuid),
                                             {{'u': m.upstream_uuid, 'e': m.exec_uuid}})),
                       x -> x.u || '=' || x.e), ',') END
  FROM fold f JOIN md m ON m.pipeline_uuid = f.pipeline_uuid AND m.rn = f.rn + 1
)
SELECT pipeline_uuid,
       CAST(row_number() OVER (PARTITION BY pipeline_uuid
                               ORDER BY event_time, exec_uuid) AS INT) AS seq,
       event_time AS fired_at, trigger_operator, n_deps,
       upstream_uuid || '=' || exec_uuid AS sources
FROM deliveries
WHERE trigger_operator = 'any' OR n_deps = 1
UNION ALL
SELECT pipeline_uuid,
       CAST(row_number() OVER (PARTITION BY pipeline_uuid ORDER BY rn) AS INT) AS seq,
       fired_at, 'all' AS trigger_operator, n_deps, sources
FROM fold WHERE fired_at IS NOT NULL
"""


def dag_replay_fires_simple(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW-LEVEL fire ledger for the closed-form subset ('any' operator or
    single-dep 'all'): every delivery fires (dispatcher.py:41-42), so each
    fire's seq, instant, and source attribution are window-expressible and
    the oracle checks them PER FIRE — a strictly stronger proof than the
    aggregate dag_replay_summary, narrowing the unproven surface of the
    full replay to exactly the sequential multi-dep fold (which the golden
    tests pin). Shares _fires_simple with dag_replay_decisions, so the
    driver-gated rows here ARE the rows the full ledger's simple path
    emits."""
    return _fires_simple(_deliveries(spark, sf_dir))


ORACLE_FIRES_SIMPLE = f"""
WITH {_SQL_DELIVERIES_CTES}
SELECT pipeline_uuid,
       CAST(row_number() OVER (PARTITION BY pipeline_uuid
                               ORDER BY event_time, exec_uuid) AS INT) AS seq,
       event_time AS fired_at,
       trigger_operator,
       n_deps,
       upstream_uuid || '=' || exec_uuid AS sources
FROM deliveries
WHERE trigger_operator = 'any' OR n_deps = 1
"""


QUERIES: dict[str, tuple] = {
    "dag_replay_decisions": (dag_replay_decisions, ORACLE_REPLAY_DECISIONS),
    "dag_replay_summary": (dag_replay_summary, ORACLE_REPLAY_SUMMARY),
    "dag_replay_fires_simple": (dag_replay_fires_simple, ORACLE_FIRES_SIMPLE),
    "retry_ledger": (retry_ledger, ORACLE_RETRY_LEDGER),
}
