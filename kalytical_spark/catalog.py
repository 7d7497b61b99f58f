"""Catalog: loads the driver testdata parquet tables and registers the
derived kalytical-domain views (see domain.py) as temp views on the session.

At cluster scale the base tables would be external catalog tables (partitioned
by date for `events`, bucketed by key for the big joins); here they are plain
parquet reads — Catalyst still gets pushdown + pruning. Derived domain tables
are small (O(suppliers) and O(events)) and are cached after first use.

Two facade views are served driver-resident (`RESIDENT_VIEWS`):
`pipeline_defs_full`, the pipeline catalog (one row per pipeline), and
`incubation_state`, the incubating runs with their trigger satisfaction (one
row per incubating run, events/5). At sf0.1 they hold 1,000 and 20,000 rows;
the `LocalRelation` plan statistics put them at 253,000 and 1,780,000 bytes
(estimated from the column types). The first `table(..., name)` of either
after a registration collects it once into a JVM `LocalRelation` and
re-registers the view over that copy. Catalyst's `ConvertToLocalRelation`
then folds the facade's filters and projections on the driver, so warm reads
of these views launch no Spark job. The views they are built from
(`pipeline_defs`, `dag_edges`, `incubating_runs`, `incubating_triggers`)
stay cached domain views for every other reader.

The facade's two top-N reads are served from a pipeline-keyed Arrow index
(`INDEXED_VIEWS`, `index()`) of `lifecycle_events` (one row per event) and
of `running_jobs` (one row per third event). Each is the view's rows sorted
by (pipeline_uuid, time DESC, exec_uuid DESC), with each pipeline's row
span and one 8-byte-per-row permutation into the global (time DESC,
exec_uuid DESC) order. At sf0.1 they hold 100,000 rows in 7.3 MB plus a
0.8 MB permutation, and 33,334 rows in 2.75 MB plus 0.27 MB: about 110
bytes per event in all, built in 0.2-0.8 s and 0.1-0.2 s once the domain
cache is warm. A lookup slices one pipeline's span (or walks the
permutation), filters it with `pyarrow.compute` and hands the head to
`createDataFrame` as a `LocalRelation`, so it launches no Spark job.

Every driver-side copy and index is built lazily, on the first read that
needs it after a registration, once per session even when several threads
read first together, and rebuilt after every re-registration (sf_dir switch,
`operators.common.reset_session_state`). A workload that never reads a view
never pays for it.

Reference parity: this module replaces kalytical's MongoDbDataProvider
collection handles (reference data_provider.py:16-27) with DataFrames.
"""

from __future__ import annotations

import os
import threading
from typing import Callable

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from . import domain

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Temp views are session-global, so only ONE sf_dir can be registered per
# session at a time. Track the current one and re-register (unpersisting the
# previous domain caches) whenever a query targets a different sf_dir — the
# driver mixes sf0.001 (entry smoke) and sf0.01 (oracle gate) on one session.
# Registered as session memos FROM operators.common (which imports this
# module, so the registration lives there to avoid the import cycle):
# after common.reset_session_state (the plan-fingerprint gate) the guard
# must NOT short-circuit, or the domain views stay registered-but-uncached
# — a shape neither a fresh nor a warm session ever has.
_CURRENT_SF: dict[tuple[str, int], str] = {}
_CACHED_DFS: dict[tuple[str, int], list[DataFrame]] = {}
# views that table() serves from a driver-resident LocalRelation copy
RESIDENT_VIEWS = ("pipeline_defs_full", "incubation_state")
# views that index() serves as a PipelineIndex, each with its time column
INDEXED_VIEWS = {"lifecycle_events": "received_time", "running_jobs": "start_time"}
# per session, what was built for the current registration: each copied
# RESIDENT_VIEWS name and each INDEXED_VIEWS index; register() forgets the
# entry whenever it re-registers, so the next read rebuilds each one from
# the new sf_dir
_RESIDENT: dict[tuple[str, int], dict[str, object]] = {}
# per session, the lock that makes each of those builds run once when
# several threads make their first reads together. Not a session memo:
# a reset must not hand a second thread a fresh lock mid-build.
_BUILD_LOCKS: dict[tuple[str, int], threading.Lock] = {}


def _session_id(spark: SparkSession) -> tuple[str, int]:
    # (app id, JVM session identity hash): temp views are SESSION-scoped,
    # so the key must distinguish sibling sessions, but must not alias a
    # stopped session whose py4j wrapper address got reused (id() would)
    return (spark.sparkContext.applicationId, spark._jsparkSession.hashCode())


def register(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register base parquet tables and derived domain views as temp views."""
    sid = _session_id(spark)
    if _CURRENT_SF.get(sid) == sf_dir:
        return
    _RESIDENT.pop(sid, None)
    # forget the old registration first: if an unpersist raises, the next
    # call registers afresh instead of finding a half-torn-down sf_dir
    previous = _CURRENT_SF.pop(sid, None)
    for df in _CACHED_DFS.pop(sid, []):
        df.unpersist()
    if previous is not None:
        # sf_dir SWITCH: the operator memos keyed on the old sf_dir can
        # never be read again (temp views are single-sf_dir per session) —
        # unpersist their cached blocks too, not just the domain views
        # (ADVICE r11; late import: operators.common imports this module)
        from .operators.common import evict_other_sf_memos

        evict_other_sf_memos(spark, sf_dir)
    from .session import tune_session

    tune_session(spark)
    # The driver testdata stores events.ts as parquet TIMESTAMP(NANOS), which
    # Spark cannot read natively (micros max). Read nanos as long and convert
    # with exact integer division; oracle SQL works on a millisecond-truncated
    # view (events_ms) so Spark and DuckDB compare identical values.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for name in domain.BASE_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        df = spark.read.parquet(path)
        for field in df.schema.fields:
            if field.name == "ts" and field.dataType.simpleString() == "bigint":
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        df.createOrReplaceTempView(name)
    cached: list[DataFrame] = []
    for name in domain.DOMAIN_TABLES:
        df = spark.sql(domain.domain_select(name))
        if name != "sup_n":
            df = df.cache()
            cached.append(df)
        df.createOrReplaceTempView(name)
    _register_defs_full(spark)
    _register_incubation_state(spark)
    _CURRENT_SF[sid] = sf_dir
    _CACHED_DFS[sid] = cached


def _register_defs_full(spark: SparkSession) -> None:
    """Spark-native struct/map form of the pipeline catalog, mirroring the
    reference PipelineHeaderModel shape (pipeline_models.py:22-43):
    triggers_on STRUCT<operator, pipeline_uuids ARRAY<STRING>> and
    tags MAP<STRING,STRING>. The oracle side keeps the flat/edge form, so
    queries over this view must project flat output columns."""
    defs = spark.table("pipeline_defs")
    edges = spark.table("dag_edges")
    deps = edges.groupBy("pipeline_uuid").agg(
        F.sort_array(F.collect_list("upstream_uuid")).alias("dep_uuids")
    )
    full = (
        defs.join(deps, "pipeline_uuid", "left")
        .withColumn(
            "triggers_on",
            F.when(
                F.col("trigger_operator").isNotNull(),
                F.struct(
                    F.col("trigger_operator").alias("operator"),
                    F.col("dep_uuids").alias("pipeline_uuids"),
                ),
            ),
        )
        .withColumn(
            "tags",
            F.map_filter(
                F.map_from_arrays(
                    F.array(F.lit("team"), F.lit("tier")),
                    F.array("tag_team", "tag_tier"),
                ),
                lambda k, v: v.isNotNull(),
            ),
        )
        .drop("dep_uuids")
    )
    full.createOrReplaceTempView("pipeline_defs_full")


def _register_incubation_state(spark: SparkSession) -> None:
    """Incubating runs with their trigger satisfaction (F13/A4): each run
    left-joined to the bool_and/count of its triggers; a run with no
    triggers is not satisfied and has a null n_triggers."""
    sat = spark.table("incubating_triggers").groupBy("obj_id").agg(
        F.bool_and(F.col("trigger_value") != "waiting").alias("all_satisfied"),
        F.count("*").alias("n_triggers"),
    )
    state = (
        spark.table("incubating_runs")
        .join(sat, "obj_id", "left")
        .withColumn("all_satisfied", F.coalesce("all_satisfied", F.lit(False)))
    )
    state.createOrReplaceTempView("incubation_state")


def _built(spark: SparkSession, name: str, build: Callable[[SparkSession, str], object]):
    """What `build(spark, name)` returned for this session's current
    registration, building it on the first call. The per-session lock makes
    threads that ask together wait for one build instead of each running
    their own."""
    sid = _session_id(spark)
    done = _RESIDENT.setdefault(sid, {})
    if name not in done:
        with _BUILD_LOCKS.setdefault(sid, threading.Lock()):
            if name not in done:
                done[name] = build(spark, name)
    return done[name]


def _make_resident(spark: SparkSession, name: str) -> None:
    """Replace the view `name` by a LocalRelation holding its rows. The
    copy is built JVM-side: a Python-side createDataFrame from Rows would
    give a LogicalRDD, which still launches a job per read."""
    jss = spark._jsparkSession
    jdf = jss.table(name)
    local = jss.createDataFrame(jdf.collectAsList(), jdf.schema())
    local.createOrReplaceTempView(name)


class PipelineIndex:
    """One of INDEXED_VIEWS on the driver, for top-N reads by pipeline.

    `rows` holds the view's rows sorted by (pipeline_uuid, time DESC,
    exec_uuid DESC), `spans` maps each pipeline_uuid to its [start, stop)
    row range, and `order` lists the rows in (time DESC, exec_uuid DESC)
    order. Nulls sort last, as in Spark's DESC."""

    def __init__(self, rows: pa.Table, schema: StructType, time_col: str):
        keys = [(time_col, "descending"), ("exec_uuid", "descending")]
        self.schema = schema
        self.rows = rows.sort_by([("pipeline_uuid", "ascending")] + keys).combine_chunks()
        runs = pc.run_end_encode(self.rows.column("pipeline_uuid").combine_chunks())
        ends = runs.run_ends.to_pylist()
        self.spans = dict(zip(runs.values.to_pylist(), zip([0] + ends[:-1], ends)))
        self.order = pc.sort_indices(self.rows, sort_keys=keys)

    def top(
        self,
        spark: SparkSession,
        pipeline_uuid: str | None,
        where: Callable[[pa.Table], pa.ChunkedArray],
        limit: int,
    ) -> DataFrame:
        """The first `limit` rows in (time DESC, exec_uuid DESC) order of
        `pipeline_uuid`'s rows (every row when None) that `where` keeps, as
        a LocalRelation frame with the view's schema."""
        if limit < 0:
            raise ValueError(f"limit must be >= 0, got {limit}")
        if pipeline_uuid is None:
            hits = pc.indices_nonzero(where(self.rows).take(self.order))
            out = self.rows.take(self.order.take(hits[:limit]))
        else:
            start, stop = self.spans.get(pipeline_uuid, (0, 0))
            part = self.rows.slice(start, stop - start)
            out = part.filter(where(part)).slice(0, limit)
        return spark.createDataFrame(out, self.schema)


def _build_index(spark: SparkSession, name: str) -> PipelineIndex:
    df = spark.table(name)
    return PipelineIndex(df.toArrow(), df.schema, INDEXED_VIEWS[name])


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    register(spark, sf_dir)
    if name in RESIDENT_VIEWS:
        _built(spark, name, _make_resident)
    return spark.table(name)


def index(spark: SparkSession, sf_dir: str, name: str) -> PipelineIndex:
    """The PipelineIndex of `name`, one of INDEXED_VIEWS."""
    register(spark, sf_dir)
    return _built(spark, name, _build_index)
