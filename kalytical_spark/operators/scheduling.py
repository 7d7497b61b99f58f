"""Scheduling operators: cron origination (ST12), with the vixie 5-field
grammar compiled to SQL for both Spark and the DuckDB oracle.

Reference citations (paths relative to /root/reference):
  ST12 cron origination  src/kalytical/core/ext_sched.py:21-54,
                         src/kalytical/core/data_provider.py:69-88
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import SQL_NOW, now_expr, t


# --- general 5-field cron evaluation (ST12) -------------------------------
#
# The reference hands ANY K8s cron `schedule` string to a CronJob
# (ext_sched.py:21-54 create_cronjob(schedule=...), wired from the pipeline
# header by data_provider.py:69-88), so the engine must evaluate the
# standard 5-field grammar, not just the hourly shape. Supported subset
# (the K8s/vixie core): `*`, `*/step`, `a`, `a-b`, `a-b/step`, and
# comma-lists of those, per field (minute hour dom month dow; dow 0=Sunday);
# the vixie day quirk applies (dom and dow both restricted => OR).
#
# Evaluation strategy — declarative, identical in both engines: the next
# due time of a schedule is MIN(candidate minute matching all five fields)
# over the minutes in (now, now + horizon]. Distinct schedules are a tiny
# dimension (bounded by the catalog, not the data), so the candidate space
# is |schedules| x horizon regardless of pipeline count; the result
# broadcast-joins back onto the catalog. No UDF, no driver loop.

CRON_HORIZON_MINUTES = 35 * 24 * 60  # covers any dom<=28 / weekly / daily gap


def _cron_field_match_sql(
    tok: str, val: str, duck: bool, first: int = 0, dow: bool = False
) -> str:
    """SQL text (Spark or DuckDB dialect) testing whether cron field token
    ``tok`` (a SQL string expression) admits integer value ``val``. The two
    dialects differ only in split/size/lambda spellings; the arithmetic is
    shared, so parity is by construction. ``first`` is the field's lowest
    legal value (0 for minute/hour/dow, 1 for dom/month): vixie/K8s
    ``*/step`` counts FROM the field's first value, so '*/2' in dom fires
    on days 1,3,5,... — a plain ``val % step`` would shift the phase on
    the 1-based fields.

    ``dow`` enables the vixie 7==Sunday alias: computed dow is always 0-6,
    but schedule tokens may spell Sunday as 7 ('0 0 * * 7', '5-7'). Vixie
    expands the field over a 0-7 bitmask and then folds bit 7 into bit 0,
    which is exactly: value 0 additionally matches whenever 7 would. The
    probe is safe to apply to EVERY element form: a '*'-flagged element
    matches 7 only when 7 % step == 0 (step 1 or 7), and both of those
    admit dow 0 directly, so the alias can never widen a star element
    beyond vixie's own 0-7-then-fold expansion."""
    if dow:
        return (
            f"({_cron_field_match_sql(tok, val, duck, first)} OR "
            f"((({val}) = 0) AND {_cron_field_match_sql(tok, '7', duck, first)}))"
        )
    sp = "string_split" if duck else "split"
    size = "len" if duck else "size"
    one, two = ("[1]", "[2]") if duck else ("[0]", "[1]")
    base = f"{sp}(e, '/'){one}"
    step = (
        f"(CASE WHEN {size}({sp}(e, '/')) > 1"
        f" THEN CAST({sp}(e, '/'){two} AS INT) ELSE 1 END)"
    )
    lo = f"CAST({sp}({base}, '-'){one} AS INT)"
    hi = f"CAST({sp}({base}, '-'){two} AS INT)"
    elem = (
        f"CASE WHEN {base} = '*' THEN (({val}) - {first}) % {step} = 0 "
        f"WHEN {base} LIKE '%-%' THEN ({val}) BETWEEN {lo} AND {hi}"
        f" AND (({val}) - {lo}) % {step} = 0 "
        f"ELSE ({val}) = CAST({base} AS INT) END"
    )
    if duck:
        return f"({tok} = '*' OR len(list_filter({sp}({tok}, ','), e -> {elem})) > 0)"
    return f"({tok} = '*' OR exists({sp}({tok}, ','), e -> {elem}))"


_FIELD_FIRST = {"minute": 0, "hour": 0, "dom": 1, "month": 1, "dow": 0}


def _cron_due_sql(tok, fields: dict[str, str], duck: bool) -> str:
    """The all-fields predicate, including the vixie dom/dow OR quirk:
    when BOTH day fields are RESTRICTED, a minute matching either fires.
    'Restricted' is vixie's star FLAG semantics — a field beginning with
    '*' (plain or '*/n') is star-flagged and therefore unrestricted for
    the quirk, even though '*/n' still constrains which days match."""
    m = {
        f: _cron_field_match_sql(
            tok(i), v, duck, first=_FIELD_FIRST[f], dow=(f == "dow")
        )
        for i, (f, v) in enumerate(fields.items())
    }
    dom_tok, dow_tok = tok(2), tok(4)
    day_ok = (
        f"(CASE WHEN {dom_tok} NOT LIKE '*%' AND {dow_tok} NOT LIKE '*%' "
        f"THEN ({m['dom']} OR {m['dow']}) ELSE ({m['dom']} AND {m['dow']}) END)"
    )
    return f"{m['minute']} AND {m['hour']} AND {m['month']} AND {day_ok}"


def cron_matched_minutes(
    spark: SparkSession,
    schedules: DataFrame,
    base,
    start_min: int,
    end_min: int,
    sign: int = 1,
) -> DataFrame:
    """(schedule, cand_ts) — the candidate minutes ``base + sign * m`` for
    m in [start_min, end_min) that each DISTINCT 5-field schedule admits.
    The ONE place the Spark-side grid and field semantics live (the
    origination tick and the adherence audit both consume it, so the
    vixie dow offset can never diverge between them). The 5 fields are
    split ONCE into a column: the match predicate references tks[i]
    instead of re-splitting per element test, which shrinks the generated
    code severalfold (whole-stage compile of the full cron predicate is
    the dominant cold cost of this family)."""
    op = "+" if sign > 0 else "-"
    cand = (
        schedules.distinct()
        .withColumn("tks", F.split("schedule", " "))
        .crossJoin(spark.range(start_min, end_min))
        .withColumn("base_ts", F.date_trunc("minute", base))
        .withColumn(
            "cand_ts",
            F.expr(f"base_ts {op} make_dt_interval(0, 0, CAST(id AS INT), 0)"),
        )
    )
    fields = {
        "minute": "minute(cand_ts)",
        "hour": "hour(cand_ts)",
        "dom": "day(cand_ts)",
        "month": "month(cand_ts)",
        "dow": "dayofweek(cand_ts) - 1",  # Spark: 1=Sunday; cron: 0=Sunday
    }
    match = _cron_due_sql(lambda i: f"tks[{i}]", fields, duck=False)
    return cand.filter(F.expr(match)).select("schedule", "cand_ts")


def cron_next_due(spark: SparkSession, schedules: DataFrame, now) -> DataFrame:
    """(schedule) -> (schedule, due_time): the first minute strictly after
    ``now`` (a timestamp literal/Column) matching each distinct 5-field
    cron schedule, evaluated wholly JVM-side over the candidate-minute
    grid. Input is the DISTINCT schedule dimension — candidate volume is
    |schedules| x horizon, independent of catalog size."""
    return (
        cron_matched_minutes(spark, schedules, now, 1, CRON_HORIZON_MINUTES + 1)
        .groupBy("schedule")
        .agg(F.min("cand_ts").alias("due_time"))
    )


def cron_due_originations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST12: the scheduled-origination tick. The reference runs a K8s
    CronJob per scheduled pipeline that curls run_by_pipeline_uuid
    (ext_sched.py:21-54); here one batch tick evaluates every 5-field cron
    schedule against the deterministic clock and emits each pipeline's next
    origination. due_time = first minute strictly after `now` matching the
    schedule; exec ids are content-addressed from (pipeline, due_time) so
    a replayed tick cannot double-originate. LEFT join on purpose: a
    schedule with no match inside the horizon (a rare-but-valid shape like
    '0 0 29 2 *' evaluated in March) must surface as a NULL-due_time
    sentinel row the operator can alert on — an inner join would silently
    never originate that pipeline."""
    defs = t(spark, sf_dir, "pipeline_defs").filter(F.col("schedule").isNotNull())
    now = now_expr(spark, sf_dir)
    due = cron_next_due(spark, defs.select("schedule"), now)
    return defs.join(F.broadcast(due), "schedule", "left").select(
        "pipeline_uuid",
        "schedule",
        F.lit("origination").alias("event_subtype"),
        F.col("due_time"),
        F.when(
            F.col("due_time").isNotNull(),
            F.substring(
                F.md5(
                    F.concat(
                        F.col("pipeline_uuid"),
                        F.lit("@"),
                        F.col("due_time").cast("string"),
                    )
                ),
                1,
                8,
            ),
        ).alias("exec_uuid"),
    )


_DUCK_FIELDS = {
    "minute": "minute(cand_ts)",
    "hour": "hour(cand_ts)",
    "dom": "day(cand_ts)",
    "month": "month(cand_ts)",
    "dow": "dayofweek(cand_ts)",  # DuckDB: 0=Sunday, already cron-aligned
}
_DUCK_MATCH = _cron_due_sql(
    lambda i: f"string_split(schedule, ' ')[{i + 1}]", _DUCK_FIELDS, duck=True
)

ORACLE_CRON_DUE = f"""
SELECT d.pipeline_uuid, d.schedule,
       'origination' AS event_subtype,
       due.due_time,
       CASE WHEN due.due_time IS NOT NULL THEN
         substr(md5(d.pipeline_uuid || '@' || CAST(due.due_time AS STRING)), 1, 8)
       END AS exec_uuid
FROM pipeline_defs d
LEFT JOIN (
  SELECT schedule, MIN(cand_ts) AS due_time
  FROM (
    SELECT s.schedule,
           date_trunc('minute', {SQL_NOW}) + INTERVAL 1 MINUTE * (g.m + 1) AS cand_ts
    FROM (SELECT DISTINCT schedule FROM pipeline_defs WHERE schedule IS NOT NULL) s
    CROSS JOIN (SELECT unnest(generate_series(0, {CRON_HORIZON_MINUTES - 1})) AS m) g
  )
  WHERE {_DUCK_MATCH}
  GROUP BY 1
) due ON d.schedule = due.schedule
WHERE d.schedule IS NOT NULL
"""


QUERIES: dict[str, tuple] = {
    "cron_due_originations": (cron_due_originations, ORACLE_CRON_DUE),
}
