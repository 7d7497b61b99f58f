"""Pure state-transition logic for the dependency-trigger state machine —
the semantics of the reference dispatcher/incubation path
(dispatcher.py:31-46, data_provider.py:204-230), written once as `fold` and
executed two ways:

* batch replay: operators/replay.py folds a pipeline's whole delivery
  history from an empty trigger map inside applyInPandas;
* streaming: streaming/incubation.py folds each micro-batch's deliveries
  inside applyInPandasWithState, from the trigger map its keyed state
  carried over from the previous batch.

Both modes fold only multi-dependency 'all' pipelines. A delivery that
always fires (`is_simple_delivery`, the column form of apply_delivery's
first branch) becomes its fire by projection: a JVM window in the replay,
a stateless bucket group in the stream.

Semantics reproduced (and their reference citations):
* operator 'any': fires on EVERY satisfied trigger event (the reference
  fires each time a trigger arrives, dispatcher.py:41-42 — deliberate,
  documented duplicate-fire behavior).
* operator 'all' with exactly one dependency: fires immediately
  (dispatcher.py:41).
* operator 'all' with N deps: deliveries accumulate in a trigger map
  (upstream uuid -> satisfying exec uuid); when all N are satisfied the
  pipeline fires with that map as source_uuids and the map resets
  (job_culler.py:28-33 re-queue path).

CAVEAT (checkpointed state vs DAG redefinition): TriggerState counts seen
upstreams without knowing the CURRENT dependency set, so state restored
from a checkpoint after a topology change (deps swapped while n_deps
stayed equal) can fire with stale sources the batch replay would not
produce. Redefining a pipeline's dependencies requires resetting its keyed
state (fresh checkpoint dir or a keyed state purge) — the standard
structured-streaming contract for stateful logic changes. The streaming
operator keys state only for multi-dependency pipelines, so a second case
follows: a pipeline redefined from multi-dependency 'all' to 'any' or
single-dependency moves to a shared simple bucket, and the partial trigger
map left under its own key is never reached again (an orphan until the
same reset removes it).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# One row per fire, the same columns in both execution modes (the batch
# ledger adds its per-pipeline seq).
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


@dataclass
class TriggerState:
    """Keyed state for one downstream pipeline."""

    operator: str  # 'any' | 'all'
    n_deps: int
    seen: dict[str, str] = field(default_factory=dict)  # upstream -> exec_uuid


@dataclass(frozen=True)
class Fire:
    """A dispatch decision: the pipeline fires with these upstream sources."""

    sources: tuple[tuple[str, str], ...]  # sorted (upstream, exec_uuid)
    event_time: object  # timestamp of the delivery that completed the set


def is_simple_delivery() -> Column:
    """Column form of apply_delivery's first branch: True for a delivery
    that always fires ('any', or a single dependency) and never touches the
    trigger map. Null-safe: a null operator or n_deps reads as False, the
    way apply_delivery folds any non-'any' operator with N > 1 deps.

    Spelled with <=> rather than coalesce(... , false): the optimizer then
    splits the negation into one conjunct per join side (De Morgan), so a
    `~is_simple_delivery()` filter is pushed below the delivery joins."""
    return F.col("trigger_operator").eqNullSafe("any") | F.col("n_deps").eqNullSafe(1)


def apply_delivery(
    state: TriggerState, upstream: str, exec_uuid: str, event_time
) -> Fire | None:
    """Apply one trigger delivery; return a Fire decision or None."""
    if state.operator == "any" or state.n_deps == 1:
        return Fire(sources=((upstream, exec_uuid),), event_time=event_time)
    # 'all' with N>1: latest delivery per upstream wins the slot
    state.seen[upstream] = exec_uuid
    if len(state.seen) >= state.n_deps:
        fire = Fire(
            sources=tuple(sorted(state.seen.items())), event_time=event_time
        )
        state.seen.clear()
        return fire
    return None


def sources_repr(sources: tuple[tuple[str, str], ...]) -> str:
    """Canonical string form of a source map (stable for comparisons)."""
    return ",".join(f"{u}={e}" for u, e in sources)


def fold(
    pipeline_uuid: str, deliveries: pd.DataFrame, seen: dict[str, str]
) -> tuple[pd.DataFrame, dict[str, str]]:
    """Fold one pipeline's deliveries (at least one row) through
    apply_delivery in (event_time, exec_uuid) order, starting from the
    trigger map `seen`; return the fires (OUTPUT_COLUMNS) and the trigger
    map left over. trigger_operator and n_deps are the pipeline's own
    (broadcast dimension columns), so the first row seeds the state.

    The whole input is sorted at once: a stream group whose micro-batch
    spans several Arrow chunks arrives in arbitrary chunk order, and
    folding chunk by chunk would diverge from the batch replay."""
    rows = deliveries.sort_values(["event_time", "exec_uuid"], kind="mergesort")
    first = rows.iloc[0]
    state = TriggerState(
        operator=first["trigger_operator"], n_deps=int(first["n_deps"]), seen=dict(seen)
    )
    fires = []
    for row in rows.itertuples(index=False):
        fire = apply_delivery(state, row.upstream_uuid, row.exec_uuid, row.event_time)
        if fire is not None:
            fires.append(
                (
                    pipeline_uuid,
                    fire.event_time,
                    state.operator,
                    state.n_deps,
                    sources_repr(fire.sources),
                )
            )
    return pd.DataFrame(fires, columns=OUTPUT_COLUMNS), state.seen
