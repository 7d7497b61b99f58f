"""Facade-layer tests: the section-2.10 endpoint surface, input validation,
engine registry, and the settings report."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kalytical_spark import api, catalog, dispatch
from tests.conftest import SF_ORACLE, SF_SMALL


def test_list_with_prefix_and_tag(spark):
    df = api.list_pipeline_configs(spark, SF_SMALL, prefix="p-", tags={"tier": "tier-1"})
    rows = df.collect()
    assert rows
    assert all(r.pipeline_uuid.startswith("p-") for r in rows)
    assert all(r.tags["tier"] == "tier-1" for r in rows)
    assert "pipeline_body" not in df.columns


def test_describe_and_body_roundtrip(spark):
    assert api.describe_pipeline(spark, SF_SMALL, "p-3").count() == 1
    body = api.fetch_pipeline_body(spark, SF_SMALL, "p-3").collect()[0]
    assert body.pipeline_body.startswith('{"steps":')
    # miss -> empty frame (the facade's 404)
    assert api.describe_pipeline(spark, SF_SMALL, "p-nope").count() == 0


def test_input_validation_rejects_hostile_patterns(spark):
    with pytest.raises(api.QueryException):
        api.list_pipeline_configs(spark, SF_SMALL, prefix="p-.*")
    with pytest.raises(api.QueryException):
        api.describe_pipeline(spark, SF_SMALL, "P-UPPER")


def test_downstream_and_delete_guard_agree(spark):
    """delete_guard and downstream_pipelines both read triggers_on from the
    resident catalog; for every pipeline, and every upstream id an edge
    names, each must return the pipelines whose dag_edges name it upstream.
    That holds because a pipeline has edges exactly when its
    trigger_operator is set, and no edge repeats: both are checked here."""
    for sf in (SF_ORACLE, SF_SMALL):
        catalog.register(spark, sf)
        edges = [(r.pipeline_uuid, r.upstream_uuid) for r in spark.table("dag_edges").collect()]
        triggered = {
            r.pipeline_uuid
            for r in spark.table("pipeline_defs").filter(F.col("trigger_operator").isNotNull()).collect()
        }
        assert {d for d, _ in edges} == triggered
        assert len(set(edges)) == len(edges)
        want: dict[str, list[str]] = {}
        for d, u in edges:
            want.setdefault(u, []).append(d)
        uuids = {r.pipeline_uuid for r in spark.table("pipeline_defs").collect()} | set(want)
        assert len(uuids) > len(triggered)
        for u in sorted(uuids):
            guard = sorted(r.pipeline_uuid for r in api.delete_guard(spark, sf, u).collect())
            down = sorted(r.pipeline_uuid for r in api.downstream_pipelines(spark, sf, u).collect())
            assert guard == down == sorted(want.get(u, [])), (sf, u)


def test_event_history_defaults_and_filters(spark):
    df = api.event_history(spark, SF_SMALL, since_seconds=30 * 86400, max_records=15)
    rows = df.collect()
    assert len(rows) == 15
    times = [r.received_time for r in rows]
    assert times == sorted(times, reverse=True)
    only_fail = api.event_history(
        spark, SF_SMALL, event_subtype="failure", since_seconds=30 * 86400
    ).collect()
    assert only_fail and all(r.event_subtype == "failure" for r in only_fail)


def _spark_event_history(spark, sf, pipeline_uuid, event_subtype, since, limit):
    """event_history as a Spark top-N plan, the formulation the index
    replaced: the reference the index is checked against."""
    from kalytical_spark.operators.common import now_expr

    ev = catalog.table(spark, sf, "lifecycle_events")
    now = now_expr(spark, sf)
    out = ev.filter(F.col("received_time") >= now - F.expr(f"INTERVAL {int(since)} SECONDS"))
    if pipeline_uuid is not None:
        out = out.filter(F.col("pipeline_uuid") == pipeline_uuid)
    if event_subtype is not None:
        out = out.filter(F.col("event_subtype") == event_subtype)
    return out.orderBy(F.desc("received_time"), F.desc("exec_uuid")).limit(limit)


def _spark_running_pipelines(spark, sf, pipeline_uuid, status, engine_name, limit):
    """running_pipelines as a Spark top-N plan: the reference."""
    out = catalog.table(spark, sf, "running_jobs").filter(F.col("engine_status").isin(*status))
    if pipeline_uuid is not None:
        out = out.filter(F.col("pipeline_uuid") == pipeline_uuid)
    if engine_name is not None:
        out = out.filter(F.col("engine") == engine_name)
    return out.orderBy(F.desc("start_time"), F.desc("exec_uuid")).limit(limit)


def _index_cases(spark, n_rows, *axes):
    """Every pipeline crossed with each value of the first axis; the other
    axes and the limit (0, 1, the default, above the row count) rotate
    over those pairs, so each value of each axis meets many pipelines. No
    pipeline (None, the global-order path) meets every combination.
    Yields (pipeline_uuid, first, *others, limit); a limit of None stands
    for the endpoint's default."""
    import itertools

    pipelines = [None] + sorted(r.pipeline_uuid for r in spark.table("pipeline_defs").collect())
    rotating = list(itertools.product(*axes[1:], (0, 1, None, n_rows + 1)))
    for k, (p, first) in enumerate(itertools.product(pipelines, axes[0])):
        for rest in rotating if p is None else [rotating[k % len(rotating)]]:
            yield (p, first, *rest)


@pytest.mark.parametrize("sf", [SF_SMALL, SF_ORACLE])
def test_event_history_index_matches_spark_top_n(spark, sf):
    """For every pipeline (and None), every subtype (and None), several
    lookbacks and limits, event_history's index lookup returns the Spark
    top-N plan's rows, in its order. The expected rows of a case are the
    Spark plan's rows for its lookback, filtered to the case's pipeline and
    subtype and cut at its limit; every 25th case also runs the Spark plan
    with the case's own arguments."""
    catalog.register(spark, sf)
    schema = spark.table("lifecycle_events").schema
    subtypes = (None, "success", "running", "failure", "origination", "submitted")
    lookbacks = (0, 3600, 3 * 86400, 40 * 86400)
    n_rows = spark.table("lifecycle_events").count()
    everything = {
        since: [tuple(r) for r in _spark_event_history(spark, sf, None, None, since, n_rows).collect()]
        for since in lookbacks
    }
    assert everything[0] and len(everything[3 * 86400]) < len(everything[40 * 86400]) == n_rows
    for k, (p, sub, since, limit) in enumerate(_index_cases(spark, n_rows, subtypes, lookbacks)):
        df = api.event_history(spark, sf, p, sub, since, limit)
        assert df.schema == schema
        got = [tuple(r) for r in df.collect()]
        n = 20 if limit is None else limit
        want = [r for r in everything[since] if p in (None, r[2]) and sub in (None, r[1])][:n]
        assert got == want, (p, sub, since, limit)
        if k % 25 == 0:
            ref = _spark_event_history(spark, sf, p, sub, since, n).collect()
            assert want == [tuple(r) for r in ref], (p, sub, since, limit)


@pytest.mark.parametrize("sf", [SF_SMALL, SF_ORACLE])
def test_running_pipelines_index_matches_spark_top_n(spark, sf):
    """For every pipeline (and None), each engine (and None), the default
    and a custom status set and several limits, running_pipelines' index
    lookup returns the Spark top-N plan's rows, in its order (expected
    rows derived as in the event_history test)."""
    catalog.register(spark, sf)
    schema = spark.table("running_jobs").schema
    default = ("running", "waiting", "pending")
    statuses = (default, ("success", "timed_out"))
    n_rows = spark.table("running_jobs").count()
    everything = {
        st: [tuple(r) for r in _spark_running_pipelines(spark, sf, None, st, None, n_rows).collect()]
        for st in statuses
    }
    assert all(everything.values())
    cases = _index_cases(spark, n_rows, (None, "K8sJobEngine", "LocalEngine"), statuses)
    for k, (p, engine, st, limit) in enumerate(cases):
        if st == default:
            df = api.running_pipelines(spark, sf, p, engine_name=engine, limit=limit)
        else:
            df = api.running_pipelines(spark, sf, p, st, engine, limit)
        assert df.schema == schema
        got = [tuple(r) for r in df.collect()]
        n = 10 if limit is None else limit
        want = [r for r in everything[st] if p in (None, r[0]) and engine in (None, r[2])][:n]
        assert got == want, (p, engine, st, limit)
        if k % 25 == 0:
            ref = _spark_running_pipelines(spark, sf, p, st, engine, n).collect()
            assert want == [tuple(r) for r in ref], (p, engine, st, limit)


def test_event_history_cutoff_ignores_process_time_zone(spark, monkeypatch):
    """The since cut-off is taken on the index's UTC micros, so one call
    picks the same events whatever the Python process's time zone (a naive
    datetime 'now' would move the cut-off by the zone's offset)."""
    import time

    picked = []
    try:
        for zone in ("Pacific/Auckland", "America/Los_Angeles"):
            monkeypatch.setenv("TZ", zone)
            time.tzset()
            rows = api.event_history(spark, SF_SMALL, since_seconds=6 * 3600, max_records=1000)
            picked.append([r.exec_uuid for r in rows.collect()])
    finally:
        monkeypatch.undo()
        time.tzset()
    assert picked[0] and picked[0] == picked[1]


def test_running_pipelines_paging(spark):
    rows = api.running_pipelines(spark, SF_SMALL).collect()
    assert 0 < len(rows) <= 10
    assert all(r.engine_status in ("running", "waiting", "pending") for r in rows)


def test_incubation_state_is_the_trigger_join(spark):
    """incubation_state's rows, as a multiset, are each incubating run with
    the bool_and and count of its triggers; a run with no triggers is not
    satisfied and has a null n_triggers."""
    from collections import Counter

    got = api.incubation_state(spark, SF_SMALL)
    assert got.columns == [
        "obj_id", "pipeline_uuid", "create_time", "reason", "retry_count",
        "all_satisfied", "n_triggers",
    ]
    sat: dict[str, list[bool]] = {}
    for r in spark.table("incubating_triggers").collect():
        sat.setdefault(r.obj_id, []).append(r.trigger_value != "waiting")
    want = Counter(
        (*r, all(sat[r.obj_id]) if r.obj_id in sat else False, len(sat.get(r.obj_id, [])) or None)
        for r in spark.table("incubating_runs").collect()
    )
    assert Counter(tuple(r) for r in got.collect()) == want
    assert sum(want.values()) == 200
    assert any(row[-2:] == (False, None) for row in want), "a run without triggers"
    assert any(row[-2:] == (True, 2) for row in want), "a satisfied multi-trigger run"


def test_engine_registry_and_submission():
    with pytest.raises(dispatch.EngineNotImplementedError):
        dispatch.engine_factory("K8sPodEngine")
    eng = dispatch.engine_factory("LocalLedgerEngine")
    assert isinstance(eng, dispatch.LocalLedgerEngine)


def test_sys_config_roundtrip():
    cfg = api.sys_config()
    assert set(cfg) == {
        "running_jobs_page_size",
        "history_lookback_s",
        "history_max_records",
    }
    assert cfg["running_jobs_page_size"] == 10
    assert cfg["history_max_records"] == 20


def test_malformed_config_setting_raises(monkeypatch):
    """A setting that is not an integer is refused by name, never replaced
    by its default (a mistyped page size would silently become 10)."""
    from kalytical_spark.config import load_config

    monkeypatch.setenv("KALYTICAL_RUNNING_PAGE", "25")
    assert load_config().running_jobs_page_size == 25
    monkeypatch.setenv("KALYTICAL_RUNNING_PAGE", "abc")
    with pytest.raises(ValueError, match=r"KALYTICAL_RUNNING_PAGE='abc'"):
        load_config()


def test_running_pipelines_reference_defaults(spark):
    """facade.py:86-88 contract: default status set is
    ['running', 'waiting', 'pending'] and engine_name is a filter."""
    rows = api.running_pipelines(spark, SF_SMALL, limit=1000).collect()
    statuses = {r.engine_status for r in rows}
    assert statuses <= {"running", "waiting", "pending"}
    assert "waiting" in statuses, "waiting jobs must exist (non-vacuous)"
    k8s = api.running_pipelines(spark, SF_SMALL, engine_name="K8sJobEngine", limit=1000).collect()
    assert k8s and all(r.engine == "K8sJobEngine" for r in k8s)


def test_abort_pipeline_lifecycle(spark):
    """abort_pipeline (facade.py:95-98): an aborted submission flips to
    status=aborted in the ledger; unknown tracking ids raise (the 404)."""
    eng = dispatch.engine_factory("LocalLedgerEngine")
    res = api.run_single_use(
        spark,
        {"pipeline_uuid": "p-777", "pipeline_body": '{"steps": 1}'},
        engine=eng,
    )
    assert res.engine == "LocalLedgerEngine"
    out = api.abort_pipeline(spark, eng, res.tracking_id)
    assert out == {"operation_result": True}
    rows = {r.tracking_id: r for r in eng.ledger(spark).collect()}
    assert rows[res.tracking_id].status == "aborted"
    assert rows[res.tracking_id].source_uuid == "singleuse"
    with pytest.raises(dispatch.JobNotFoundError):
        api.abort_pipeline(spark, eng, res.tracking_id)  # already aborted
    with pytest.raises(dispatch.JobNotFoundError):
        api.abort_pipeline(spark, eng, "feedfeed99")
    with pytest.raises(api.QueryException):
        api.abort_pipeline(spark, eng, "DROP TABLE;--")


def test_run_single_use_is_deterministic_and_bypasses_defs(spark):
    """run_single_use (facade.py:80-83): same body -> same exec/tracking id;
    the submitted pipeline_uuid need not exist in pipeline_defs."""
    eng = dispatch.engine_factory("LocalLedgerEngine")
    body = {"pipeline_uuid": "ephemeral-42", "pipeline_body": '{"steps": 9}'}
    r1 = api.run_single_use(spark, body, engine=eng)
    eng2 = dispatch.engine_factory("LocalLedgerEngine")
    r2 = api.run_single_use(spark, body, engine=eng2)
    assert (r1.exec_uuid, r1.tracking_id) == (r2.exec_uuid, r2.tracking_id)
    defs = api.list_pipeline_configs(spark, SF_SMALL, prefix="ephemeral").collect()
    assert defs == []
    with pytest.raises(dispatch.EngineNotImplementedError):
        api.run_single_use(spark, {"pipeline_uuid": "p-1", "engine": "K8sPodEngine"})


def _jobs_in_group(spark, group: str, action) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_catalog_reads_and_single_use_launch_no_spark_job(spark):
    """After one warm read, the pipeline-catalog endpoints, the delete
    guard and incubation_state are answered from the driver-resident views,
    event_history and running_pipelines from the Arrow indexes, and
    run_single_use mints its id from the engine's own count: none of
    them launches a Spark job."""
    api.describe_pipeline(spark, SF_SMALL, "p-3").collect()
    api.incubation_state(spark, SF_SMALL).collect()
    api.event_history(spark, SF_SMALL, "p-3").collect()
    api.running_pipelines(spark, SF_SMALL).collect()
    eng = dispatch.engine_factory("LocalLedgerEngine")
    calls = {
        "describe": lambda: api.describe_pipeline(spark, SF_SMALL, "p-3").collect(),
        "list": lambda: api.list_pipeline_configs(
            spark, SF_SMALL, prefix="p-", tags={"tier": "tier-1"}
        ).collect(),
        "downstream": lambda: api.downstream_pipelines(spark, SF_SMALL, "p-3").collect(),
        "body": lambda: api.fetch_pipeline_body(spark, SF_SMALL, "p-3").collect(),
        "guard": lambda: api.delete_guard(spark, SF_SMALL, "p-4").collect(),
        "incubation": lambda: api.incubation_state(spark, SF_SMALL).collect(),
        "history": lambda: api.event_history(
            spark, SF_SMALL, "p-3", event_subtype="failure", since_seconds=30 * 86400
        ).collect(),
        "running": lambda: api.running_pipelines(spark, SF_SMALL, engine_name="LocalEngine").collect(),
        "single_use": lambda: api.run_single_use(
            spark, {"pipeline_uuid": "p-3", "pipeline_body": "{}"}, engine=eng
        ),
    }
    jobs = {name: _jobs_in_group(spark, f"zero-job-{name}", fn) for name, fn in calls.items()}
    assert jobs == dict.fromkeys(calls, 0)


def test_run_single_use_repeat_submissions_get_sequential_ids(spark):
    """The same body submitted three times on one engine is three runs:
    seq 0, 1, 2, each exec id the digest of its own sequence number."""
    import hashlib

    eng = dispatch.engine_factory("LocalLedgerEngine")
    body = '{"steps": 2}'
    model = {"pipeline_uuid": "p-5", "pipeline_body": body}
    got = [api.run_single_use(spark, model, engine=eng).exec_uuid for _ in range(3)]
    want = [
        hashlib.sha256(f"singleuse|p-5|{body}|{seq}".encode()).hexdigest()[:8]
        for seq in range(3)
    ]
    assert got == want
    assert len(set(got)) == 3
    # a submission from another source does not advance the single-use count
    eng.submit(spark, {"pipeline_uuid": "p-5", "exec_uuid": "replay000000"})
    assert eng.submission_count("p-5", "singleuse") == 3
