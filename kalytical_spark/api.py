"""Query facade (SURVEY.md section 2.10): the reference's ~18 REST endpoints
(facade.py:30-126) as composable Python functions over the catalog — the
"SQL" surface of kalytical. Each returns a DataFrame (lazy; callers choose
the action). Input validation mirrors the reference's regex guards (F3,
data_provider.py:43-47, pipeline_models.py:35-41).

The pipeline-catalog reads (describe, list, downstream, fetch body, delete
guard) all read `pipeline_defs_full`, and incubation_state reads the
`incubation_state` view. catalog.py serves both as driver-resident
LocalRelations, collected once on the first read after each registration and
rebuilt after every re-registration: one row per pipeline (1,000 at sf0.1)
and one row per incubating run (20,000 at sf0.1). Catalyst folds their
filters and projections on the driver, so a warm call launches no Spark job.
run_single_use mints its sequence number from the engine's own submission
count, also without a job. event_history and running_pipelines are lookups
in catalog's pipeline-keyed Arrow indexes of `lifecycle_events` and
`running_jobs` (100,000 and 33,334 rows, 8.1 and 3.0 MB at sf0.1), built
once on the first top-N read after each registration and rebuilt after
every re-registration: a call slices one pipeline's rows, filters them with
pyarrow.compute and returns the head as a LocalRelation frame, so it too
launches no Spark job.

Auth (Okta JWT, auth/auth.py) is deliberately a no-op shim here — outside
the analytics engine's scope (SURVEY.md section 2.10 note).
"""

from __future__ import annotations

import re

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import catalog, dispatch
from .config import KalyticalSparkConfig, load_config

_PREFIX_RE = re.compile(r"^[a-zA-Z0-9-]+$")
# pipeline uuids and engine tracking ids share one shape: lowercase
# alphanumerics and dashes
_UUID_RE = re.compile(r"^[a-z0-9-]+$")
_TRACKING_RE = _UUID_RE


class QueryException(ValueError):
    """Invalid query input (data_provider.py:45-47 analog)."""


def _check(pattern: re.Pattern, value: str, what: str) -> None:
    if not pattern.match(value):
        raise QueryException(f"invalid {what}: {value!r}")


def list_pipeline_configs(
    spark: SparkSession,
    sf_dir: str,
    prefix: str | None = None,
    tags: dict[str, str] | None = None,
) -> DataFrame:
    """POST /pipeline/config/list — prefix + tag filters, body excluded
    (F2+F4 -> S1 -> P1)."""
    defs = catalog.table(spark, sf_dir, "pipeline_defs_full")
    out = defs.drop("pipeline_body", "tag_team", "tag_tier")
    if prefix is not None:
        _check(_PREFIX_RE, prefix, "prefix")
        out = out.filter(F.col("pipeline_uuid").startswith(prefix))
    for k, v in (tags or {}).items():
        out = out.filter(F.col("tags")[k] == v)
    return out


def describe_pipeline(spark: SparkSession, sf_dir: str, pipeline_uuid: str) -> DataFrame:
    """GET /pipeline/config/describe — point lookup (S2), 404 = empty frame."""
    _check(_UUID_RE, pipeline_uuid, "pipeline_uuid")
    defs = catalog.table(spark, sf_dir, "pipeline_defs_full")
    # same projection contract as list_pipeline_configs: the raw tag_*
    # columns are presentation-hidden behind the tags map on BOTH endpoints
    return defs.filter(F.col("pipeline_uuid") == pipeline_uuid).drop(
        "pipeline_body", "tag_team", "tag_tier"
    )


def fetch_pipeline_body(spark: SparkSession, sf_dir: str, pipeline_uuid: str) -> DataFrame:
    """GET /pipeline_config/fetch_pipeline_body — S2+P2."""
    _check(_UUID_RE, pipeline_uuid, "pipeline_uuid")
    defs = catalog.table(spark, sf_dir, "pipeline_defs_full")
    return defs.filter(F.col("pipeline_uuid") == pipeline_uuid).select(
        "pipeline_uuid", "pipeline_body"
    )


def downstream_pipelines(spark: SparkSession, sf_dir: str, pipeline_uuid: str) -> DataFrame:
    """GET /pipeline/config/downstream — F5/J1 reverse-dependency lookup."""
    _check(_UUID_RE, pipeline_uuid, "pipeline_uuid")
    full = catalog.table(spark, sf_dir, "pipeline_defs_full")
    return full.filter(
        F.array_contains(F.col("triggers_on.pipeline_uuids"), pipeline_uuid)
    ).drop("pipeline_body")


def delete_guard(spark: SparkSession, sf_dir: str, pipeline_uuid: str) -> DataFrame:
    """DELETE /pipeline/config/delete precondition — J3 orphan check; a
    non-empty result blocks the delete (data_provider.py:92-97). The
    pipelines whose triggers_on lists this one: a pipeline has dag_edges
    exactly when its trigger_operator is set, and no edge repeats, so this
    is the upstream_uuid filter over dag_edges."""
    _check(_UUID_RE, pipeline_uuid, "pipeline_uuid")
    full = catalog.table(spark, sf_dir, "pipeline_defs_full")
    return full.filter(
        F.array_contains(F.col("triggers_on.pipeline_uuids"), pipeline_uuid)
    ).select("pipeline_uuid")


def event_history(
    spark: SparkSession,
    sf_dir: str,
    pipeline_uuid: str | None = None,
    event_subtype: str | None = None,
    since_seconds: int | None = None,
    max_records: int | None = None,
) -> DataFrame:
    """GET /pipeline/dispatcher/event/history — F6+F7 -> O1 with the
    reference's defaults (facade.py:107): the newest `max_records` events
    received within `since_seconds` of 'now', newest first (ties by
    exec_uuid DESC). 'now' is the deterministic data clock, the newest
    events_ms.ts: lifecycle_events has one row per events_ms row, with
    event_time = ts, so it is the index's newest event_time. The cut-off
    is computed on the index's UTC micros, never through a naive Python
    datetime, whose meaning depends on the process time zone."""
    cfg = load_config()
    since = since_seconds if since_seconds is not None else cfg.history_lookback_s
    limit = max_records if max_records is not None else cfg.history_max_records
    if pipeline_uuid is not None:
        _check(_UUID_RE, pipeline_uuid, "pipeline_uuid")
    ev = catalog.index(spark, sf_dir, "lifecycle_events")
    now = pc.max(ev.rows.column("event_time"))
    cutoff = pc.subtract(now, pa.scalar(int(since) * 1_000_000, pa.duration("us")))

    def where(rows: pa.Table):
        keep = pc.greater_equal(rows.column("received_time"), cutoff)
        if event_subtype is not None:
            keep = pc.and_(keep, pc.equal(rows.column("event_subtype"), event_subtype))
        return keep

    return ev.top(spark, pipeline_uuid, where, limit)


def running_pipelines(
    spark: SparkSession,
    sf_dir: str,
    pipeline_uuid: str | None = None,
    status: tuple[str, ...] = ("running", "waiting", "pending"),
    engine_name: str | None = None,
    limit: int | None = None,
) -> DataFrame:
    """GET /pipeline/dispatcher/running — F9+F10 -> O3: the newest `limit`
    jobs (default the page size) whose engine_status is in `status`,
    newest start_time first (ties by exec_uuid DESC). The filters run over
    one pipeline's rows of the running_jobs index, not the reference's
    list-then-filter-in-Python (engine.py:53 TODO). Defaults mirror the
    reference contract (facade.py:86-88): status ['running', 'waiting',
    'pending'] and an optional engine_name filter."""
    cfg = load_config()
    if pipeline_uuid is not None:
        _check(_UUID_RE, pipeline_uuid, "pipeline_uuid")
    jobs = catalog.index(spark, sf_dir, "running_jobs")
    wanted = pa.array(list(status), pa.string())

    def where(rows: pa.Table):
        keep = pc.is_in(rows.column("engine_status"), value_set=wanted)
        if engine_name is not None:
            keep = pc.and_(keep, pc.equal(rows.column("engine"), engine_name))
        return keep

    # explicit limit=0 means "no rows" (an existence/pagination edge);
    # `limit or page_size` would silently promote it to a full page
    return jobs.top(
        spark, pipeline_uuid, where, limit if limit is not None else cfg.running_jobs_page_size
    )


def abort_pipeline(
    spark: SparkSession, engine: "dispatch.BaseEngine", engine_tracking_id: str
) -> dict:
    """DELETE /pipeline/dispatcher/abort_pipeline (facade.py:95-98):
    delegate to the engine strategy; unknown ids surface as
    JobNotFoundError (the reference's 404)."""
    _check(_TRACKING_RE, engine_tracking_id, "engine_tracking_id")
    return engine.abort(spark, engine_tracking_id)


def run_single_use(
    spark: SparkSession,
    pipeline_model: dict,
    engine: "dispatch.BaseEngine | None" = None,
) -> "dispatch.SubmitResult":
    """POST /pipeline/dispatcher/run_single_use (facade.py:80-83): submit a
    caller-supplied pipeline body straight to its engine, bypassing the defs
    table; source_uuid is 'singleuse'. The reference's gen_uuid() is
    nondeterministic — here exec_uuid is a deterministic digest of the
    submission identity (SURVEY.md C1 convention)."""
    import hashlib

    pipeline_uuid = pipeline_model["pipeline_uuid"]
    _check(_UUID_RE, pipeline_uuid, "pipeline_uuid")
    eng = engine or dispatch.engine_factory(
        pipeline_model.get("engine", "LocalLedgerEngine")
    )
    body = pipeline_model.get("pipeline_body", "")
    # content digest PLUS the submission sequence number: a repeat
    # submission of the same body is a legitimate re-run and must get its
    # own addressable exec/tracking id (the reference mints a fresh uuid;
    # the deterministic analog derives the sequence from the ledger state,
    # so replays of the SAME state still reproduce the same id). The engine
    # counts its submissions as it appends them, so minting reads no
    # ledger frame and launches no Spark job.
    # Only "this engine has no ledger" may default seq to 0; any other
    # failure must propagate — silently minting seq=0 would reuse the
    # first submission's exec_uuid and reintroduce the repeat-submission
    # collision this sequence exists to prevent.
    try:
        seq = eng.submission_count(pipeline_uuid, "singleuse")
    except NotImplementedError:
        seq = 0
    exec_uuid = hashlib.sha256(
        f"singleuse|{pipeline_uuid}|{body}|{seq}".encode()
    ).hexdigest()[:8]
    return eng.submit(
        spark,
        {
            "pipeline_uuid": pipeline_uuid,
            "exec_uuid": exec_uuid,
            "retry_count": 0,
            "source_uuid": "singleuse",
        },
    )


def incubation_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GET /pipeline/incubation (read side): runs with trigger satisfaction
    (F13/A4 aggregate attached; the join is catalog's incubation_state
    view)."""
    return catalog.table(spark, sf_dir, "incubation_state")


def sys_config(cfg: KalyticalSparkConfig | None = None) -> dict:
    """GET sys/config — S11."""
    from dataclasses import asdict

    return asdict(cfg or load_config())
