"""facade_mix: one closed-loop client calling the query facade
(`kalytical_spark.api`). One operation is a cycle of 19 calls in a seeded
order: 17 reads over eight read endpoints and 2 writes (`run_single_use`,
then `abort_pipeline`) against a `LocalLedgerEngine`. Pipeline keys are
Zipf-skewed over the pipeline catalog. The mix per cycle is fixed, so the
latency percentiles compare like with like across seeds. One unmeasured
cycle, then its catalog-join reads again, come first. The mix is chosen, not
measured: no operator traffic log exists to take it from.

Every call's rows are checked against a reference computed once, at
set-up, in plain Python from the collected domain tables.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from kalytical_spark import api, dispatch

from probe import Tracer, pct

# Calls per cycle, about 90% reads and 10% writes. The read weights are a
# choice: the six cheap reads (fetch, guard, history, running) sort below the
# ten catalog-join reads (describe, list, downstream, about 250-350 ms each)
# and the one incubation_state call (about 900 ms) above them, so the read
# median falls inside the catalog-join band, not on the edge between two
# shapes, where one run's order statistic would jump from shape to shape.
READS = {
    "describe_pipeline": 6,
    "list_pipeline_configs": 2,
    "downstream_pipelines": 2,
    "fetch_pipeline_body": 1,
    "delete_guard": 1,
    "event_history": 2,
    "running_pipelines": 2,
    "incubation_state": 1,
}
WRITES = ("run_single_use", "abort_pipeline")
ENDPOINTS = tuple(READS) + WRITES
VIEWS = (
    "events_ms", "pipeline_defs", "dag_edges", "lifecycle_events",
    "running_jobs", "incubating_runs", "incubating_triggers",
)
ZIPF_S = 1.1
# the reads the read median falls among
JOIN_READS = ("describe_pipeline", "list_pipeline_configs", "downstream_pipelines")
DESCRIBE_COLS = {
    "pipeline_uuid", "description", "retry_max", "concurrency", "engine",
    "schedule", "trigger_operator", "triggers_on", "tags",
}
STATUSES = ("running", "waiting", "pending")
TAG_FILTERS = ({}, {"team": "team-a"}, {"tier": "tier-1"}, {"team": "team-b", "tier": "tier-0"})
SUBTYPES = (None, "success", "failure", "running")
LOOKBACKS_S = (3 * 86400, 10 * 86400, 30 * 86400)
ENGINES = (None, "K8sJobEngine", "LocalEngine")


def _ts(x) -> int:
    return pd.Timestamp(x).value


class TracedEngine(dispatch.LocalLedgerEngine):
    """The ledger engine with spans around its submit and ledger calls, so
    the dispatch layer's share of a write is measured."""

    def __init__(self, tracer: Tracer) -> None:
        super().__init__()
        self.tracer = tracer
        self.ledger_rows: list[int] = []

    def submit(self, spark, row):
        with self.tracer.timed("dispatch.submit"):
            return super().submit(spark, row)

    def ledger(self, spark):
        if self.tracer.enabled:
            self.ledger_rows.append(len(self._rows))
        with self.tracer.timed("dispatch.ledger"):
            return super().ledger(spark)


class Reference:
    """Expected endpoint results, from the domain tables collected once."""

    def __init__(self, spark) -> None:
        def pdf(name):
            return spark.table(name).toPandas()

        self.defs = pdf("pipeline_defs").set_index("pipeline_uuid", drop=False)
        edges = pdf("dag_edges")
        self.deps = edges.groupby("pipeline_uuid")["upstream_uuid"].apply(sorted).to_dict()
        self.guard = edges.groupby("upstream_uuid")["pipeline_uuid"].apply(sorted).to_dict()
        self.events = pdf("lifecycle_events")
        self.events["rt"] = self.events["received_time"].map(_ts)
        self.now = _ts(spark.table("events_ms").agg({"ts": "max"}).collect()[0][0])
        self.jobs = pdf("running_jobs")
        self.jobs["st"] = self.jobs["start_time"].map(_ts)
        runs = pdf("incubating_runs")
        trig = pdf("incubating_triggers")
        sat = trig.assign(ok=trig["trigger_value"] != "waiting").groupby("obj_id")["ok"].agg(["all", "size"])
        self.incubation = {
            (r.obj_id, r.pipeline_uuid, bool(sat["all"].get(r.obj_id, False)),
             int(sat["size"][r.obj_id]) if r.obj_id in sat.index else None)
            for r in runs.itertuples()
        }
        self.uuids = list(self.defs.index)

    def _triggers(self, u: str):
        row = self.defs.loc[u]
        if row.trigger_operator is None:
            return None
        deps = self.deps.get(u)
        return (row.trigger_operator, tuple(deps) if deps is not None else None)

    def describe(self, u: str) -> list:
        if u not in self.defs.index:
            return []
        r = self.defs.loc[u]
        tags = {k: v for k, v in (("team", r.tag_team), ("tier", r.tag_tier)) if v is not None}
        return [(u, r.description, int(r.retry_max), bool(r.concurrency), r.engine,
                 r.schedule, r.trigger_operator, self._triggers(u), tuple(sorted(tags.items())))]

    def listing(self, prefix: str, tags: dict) -> list:
        d = self.defs
        keep = d.pipeline_uuid.str.startswith(prefix)
        for k, v in tags.items():
            keep &= d[f"tag_{k}"] == v
        return sorted(d.pipeline_uuid[keep])

    def downstream(self, u: str) -> list:
        return sorted(d for d, ups in self.deps.items()
                      if u in ups and self.defs.loc[d].trigger_operator is not None)

    def body(self, u: str) -> list:
        return [(u, self.defs.loc[u].pipeline_body)] if u in self.defs.index else []

    def history(self, u: str, subtype, since: int, limit: int) -> list:
        ev = self.events
        sel = ev[(ev.rt >= self.now - since * 1_000_000_000) & (ev.pipeline_uuid == u)]
        if subtype is not None:
            sel = sel[sel.event_subtype == subtype]
        sel = sel.sort_values(["rt", "exec_uuid"], ascending=False).head(limit)
        return list(zip(sel.rt, sel.exec_uuid))

    def running(self, u, engine, limit: int) -> list:
        jobs = self.jobs[self.jobs.engine_status.isin(STATUSES)]
        if u is not None:
            jobs = jobs[jobs.pipeline_uuid == u]
        if engine is not None:
            jobs = jobs[jobs.engine == engine]
        jobs = jobs.sort_values(["st", "exec_uuid"], ascending=False).head(limit)
        return list(zip(jobs.st, jobs.exec_uuid))


def _describe_rows(rows) -> list:
    out = []
    for r in rows:
        if set(r.asDict()) != DESCRIBE_COLS:
            return [("columns", tuple(sorted(r.asDict())))]
        trig = r.triggers_on
        trig = None if trig is None else (
            trig.operator, tuple(trig.pipeline_uuids) if trig.pipeline_uuids is not None else None)
        out.append((r.pipeline_uuid, r.description, r.retry_max, r.concurrency, r.engine,
                    r.schedule, r.trigger_operator, trig, tuple(sorted(r.tags.items()))))
    return out


class FacadeMix:
    name = "facade_mix"
    # a warm cycle takes about 5 s on a 4-core VM; three measured cycles
    # (51 read calls) at --seconds 10
    nominal_op_s = 10 / 3
    python_workers = False
    views = VIEWS

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.rng = np.random.default_rng([ctx.seed, 1])
        self.ref = Reference(ctx.spark)
        ranks = np.arange(1, len(self.ref.uuids) + 1, dtype=float)
        self.zipf_p = ranks ** -ZIPF_S / np.sum(ranks ** -ZIPF_S)
        self.keys = list(self.rng.permutation(self.ref.uuids))
        self.engine = TracedEngine(ctx.tracer)
        self.submitted: list[str] = []
        self.seq: dict[str, int] = {}
        self.lat: dict[str, list[float]] = {e: [] for e in ENDPOINTS}
        self.jobs: dict[str, list[int]] = {e: [] for e in ENDPOINTS}
        self.tasks: dict[str, list[int]] = {e: [] for e in ENDPOINTS}
        self.rows: dict[str, list[int]] = {e: [] for e in ENDPOINTS}
        self.calls = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.warm_up()

    def _key(self) -> str:
        return self.keys[self.rng.choice(len(self.keys), p=self.zipf_p)]

    def _cycle(self) -> list[str]:
        order = [e for e, n in READS.items() for _ in range(n)] + list(WRITES)
        order = list(self.rng.permutation(order))
        i, j = order.index("run_single_use"), order.index("abort_pipeline")
        if j < i:
            order[i], order[j] = order[j], order[i]
        return order

    def _call(self, endpoint: str):
        """Make one call. Return the rows it produced and a function giving
        the expected rows, so the reference is not timed."""
        spark, sf, ref, rng = self.ctx.spark, self.ctx.sf_dir, self.ref, self.rng
        if endpoint == "describe_pipeline":
            u = self._key()
            rows = api.describe_pipeline(spark, sf, u).collect()
            return _describe_rows(rows), lambda: ref.describe(u)
        if endpoint == "list_pipeline_configs":
            prefix = f"p-{rng.integers(1, 10)}"
            tags = TAG_FILTERS[rng.integers(len(TAG_FILTERS))]
            rows = api.list_pipeline_configs(spark, sf, prefix=prefix, tags=tags or None).collect()
            return sorted(r.pipeline_uuid for r in rows), lambda: ref.listing(prefix, tags)
        if endpoint == "downstream_pipelines":
            u = self._key()
            rows = api.downstream_pipelines(spark, sf, u).collect()
            return sorted(r.pipeline_uuid for r in rows), lambda: ref.downstream(u)
        if endpoint == "fetch_pipeline_body":
            u = self._key()
            rows = api.fetch_pipeline_body(spark, sf, u).collect()
            return [(r.pipeline_uuid, r.pipeline_body) for r in rows], lambda: ref.body(u)
        if endpoint == "delete_guard":
            u = self._key()
            rows = api.delete_guard(spark, sf, u).collect()
            return sorted(r.pipeline_uuid for r in rows), lambda: ref.guard.get(u, [])
        if endpoint == "event_history":
            u = self._key()
            subtype = SUBTYPES[rng.integers(len(SUBTYPES))]
            since = LOOKBACKS_S[rng.integers(len(LOOKBACKS_S))]
            rows = api.event_history(
                spark, sf, u, event_subtype=subtype, since_seconds=since, max_records=20
            ).collect()
            got = [(_ts(r.received_time), r.exec_uuid) for r in rows]
            return got, lambda: ref.history(u, subtype, since, 20)
        if endpoint == "running_pipelines":
            u = self._key() if rng.random() < 0.5 else None
            engine = ENGINES[rng.integers(len(ENGINES))]
            rows = api.running_pipelines(spark, sf, u, engine_name=engine).collect()
            got = [(_ts(r.start_time), r.exec_uuid) for r in rows]
            return got, lambda: ref.running(u, engine, 10)
        if endpoint == "incubation_state":
            rows = api.incubation_state(spark, sf).collect()
            got = [(r.obj_id, r.pipeline_uuid, r.all_satisfied, r.n_triggers) for r in rows]
            return (len(got), set(got)), lambda: (len(ref.incubation), ref.incubation)
        if endpoint == "run_single_use":
            u = self._key()
            body = f'{{"steps": {rng.integers(1, 6)}}}'
            seq = self.seq.get(u, 0)
            self.seq[u] = seq + 1
            res = api.run_single_use(spark, {"pipeline_uuid": u, "pipeline_body": body}, self.engine)
            self.submitted.append(res.tracking_id)

            def want():
                exec_uuid = hashlib.sha256(f"singleuse|{u}|{body}|{seq}".encode()).hexdigest()[:8]
                tracking = hashlib.sha256(f"{u}|{exec_uuid}|0".encode()).hexdigest()[:10]
                return [(u, exec_uuid, tracking)]

            return [(res.pipeline_uuid, res.exec_uuid, res.tracking_id)], want
        if endpoint == "abort_pipeline":
            tracking = self.submitted.pop(int(rng.integers(len(self.submitted))))
            return [api.abort_pipeline(spark, self.engine, tracking)], lambda: [{"operation_result": True}]
        raise ValueError(endpoint)

    def _checked_call(self, endpoint: str):
        """Make one call and check it; return (rows or None, milliseconds)."""
        try:
            with self.ctx.tracer.timed(f"api.{endpoint}") as call:
                got, want = self._call(endpoint)
        except Exception as exc:  # noqa: BLE001 - a failed call is counted, not fatal
            got, want = None, lambda exc=exc: repr(exc)
        ms = call.seconds * 1000
        self.calls += 1
        if got is None or got != want():
            self.failed += 1
            self.mismatches.append(endpoint)
        return got, ms

    def warm_up(self) -> None:
        """Unmeasured calls, checked like the measured ones: one cycle, then
        the cycle's catalog-join reads once more. Inside one JVM the read
        median falls over the first cycles as each query shape is compiled
        and the JIT compiles the query path (about 360 and 310 ms, then
        250-290 ms a cycle on a 4-core VM); a long-running service pays that
        once, and measuring on the slope would make a run's figure depend on
        how far its JIT had got."""
        second = [e for e in JOIN_READS for _ in range(READS[e])]
        for endpoint in self._cycle() + second:
            self._checked_call(endpoint)

    def step(self, traced: bool) -> None:
        """Run one cycle."""
        counters = self.ctx.counters
        for endpoint in self._cycle():
            group = f"facade-{self.calls}"
            if traced:
                counters.set_group(group)
            got, ms = self._checked_call(endpoint)
            if traced:
                counters.set_group(None)
                jobs, tasks = counters.collect(group)
                self.jobs[endpoint].append(jobs)
                self.tasks[endpoint].append(tasks)
                if got is None:
                    n_rows = 0
                elif endpoint == "incubation_state":  # answers (row count, row set)
                    n_rows = got[0]
                else:
                    n_rows = len(got)
                self.rows[endpoint].append(n_rows)
            else:
                self.lat[endpoint].append(ms)

    def op_latencies(self) -> list[float]:
        return [ms for e in READS for ms in self.lat[e]]

    def traced_latencies(self) -> list[float]:
        return [s * 1000 for e in READS for s in self.ctx.tracer.seconds(f"api.{e}")]

    def throughput(self) -> float:
        """Calls per second of the time spent inside calls: the client's
        own checking between calls is not counted."""
        return sum(map(len, self.lat.values())) / (sum(map(sum, self.lat.values())) / 1000)

    def attempted(self) -> int:
        return self.calls

    def per_layer(self) -> dict:
        tracer = self.ctx.tracer

        def p50_ms(name):
            return pct([s * 1000 for s in tracer.seconds(name)], 50)

        out = {}
        for e in ENDPOINTS:
            if self.jobs[e]:
                out[f"api.{e}.p50_ms"] = p50_ms(f"api.{e}")
                out[f"api.{e}.spark_jobs"] = float(np.mean(self.jobs[e]))
                out[f"api.{e}.tasks"] = float(np.mean(self.tasks[e]))
                out[f"api.{e}.rows"] = float(np.mean(self.rows[e]))
        if tracer.seconds("dispatch.submit"):
            out["dispatch.submit_ms"] = p50_ms("dispatch.submit")
        if self.engine.ledger_rows:
            out["dispatch.ledger_ms"] = p50_ms("dispatch.ledger")
            out["dispatch.ledger_rows"] = float(np.mean(self.engine.ledger_rows))
        return out
