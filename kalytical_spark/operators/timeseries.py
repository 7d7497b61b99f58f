"""Time-series operators over the event log: regular-grid resampling with
gap fill, cohort retention, exact-integer rate anomaly detection, and
equi-depth histograms.

The reference's event surface stops at raw history fetches
(src/kalytical/core/data_provider.py:133-147); these are the time-series
analytics a warehouse engine layers on the same log. All four are
oracle-backed (DuckDB) and scale-clean:

* Resample/gap-fill: the dense grid is O(keys x hours) — independent of
  event count — generated distributed via ``sequence`` + ``explode``; the
  hourly rollup is one hash-aggregate with map-side combine. No collect.
* Cohort retention: two hash-aggregates plus a join keyed on user_id; the
  per-user first-seen frame is tiny relative to the log and shuffles once.
* Rate anomaly: windowed sums over the hourly rollup (already reduced by
  ~4 orders of magnitude), and the z-test is exact integer arithmetic —
  ``(x*n - s)^2`` vs ``z^2 * (n*ss - s^2)`` — so the oracle comparison is
  bit-exact with no float variance formula in either engine.
* Equi-depth histogram: ntile over a totally-ordered (value, event_id)
  sort per type. A per-key sort is the unavoidable cost of exact
  equi-depth; the approx twin (events_approx_stats) is the sketch path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .common import dsum, sql_dsum, t


def events_gap_fill_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample of a sparse event slice onto a dense per-type grid,
    forward-filling the last observed hourly sum across gap hours.

    The slice (user_id % 10 = 3) keeps the series sparse at every scale
    factor so gap hours genuinely occur (non-vacuous fill). Grid bounds are
    per-type min/max hours; ``sequence`` builds each key's grid on the
    executor that owns the key — the dense frame never exists on the
    driver."""
    ev = (
        t(spark, sf_dir, "events_ms")
        .filter(F.col("user_id") % 10 == 3)
        .withColumn("hour", F.date_trunc("hour", F.col("ts")))
    )
    hourly = ev.groupBy("event_type", "hour").agg(
        F.count("*").alias("n"), dsum("value").alias("sum_value")
    )
    spans = ev.groupBy("event_type").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = spans.select(
        "event_type",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("hour"),
    )
    w = W.partitionBy("event_type").orderBy("hour").rowsBetween(
        W.unboundedPreceding, 0
    )
    return (
        grid.join(hourly, ["event_type", "hour"], "left")
        .select(
            "event_type",
            "hour",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
            F.col("n").isNull().alias("is_gap"),
            F.last("sum_value", ignorenulls=True).over(w).alias("ffill_sum_value"),
        )
    )


ORACLE_GAP_FILL = f"""
WITH sliced AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, ts, value
  FROM events_ms WHERE user_id % 10 = 3
), hourly AS (
  SELECT event_type, hour,
         CAST(COUNT(*) AS BIGINT) AS n,
         {sql_dsum('value')} AS sum_value
  FROM sliced GROUP BY 1, 2
), spans AS (
  SELECT event_type,
         date_trunc('hour', MIN(ts)) AS h0,
         date_trunc('hour', MAX(ts)) AS h1
  FROM sliced GROUP BY 1
), grid AS (
  SELECT event_type,
         unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
  FROM spans
)
SELECT g.event_type, g.hour,
       COALESCE(h.n, 0) AS n,
       (h.n IS NULL) AS is_gap,
       last_value(h.sum_value IGNORE NULLS)
         OVER (PARTITION BY g.event_type ORDER BY g.hour
               ROWS UNBOUNDED PRECEDING) AS ffill_sum_value
FROM grid g
LEFT JOIN hourly h ON g.event_type = h.event_type AND g.hour = h.hour
"""


def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users bucketed by first-seen week,
    counted distinct per (cohort_week, week_offset) of later activity, with
    retention in integer basis points. Week offsets are day-diffs of
    week-truncated stamps divided by 7 — exact integers in both engines."""
    ev = t(spark, sf_dir, "events_ms").select("user_id", "ts")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("act_week")
    ).distinct()
    ret = (
        activity.join(first, "user_id")
        .withColumn(
            "week_offset",
            (F.datediff("act_week", "cohort_week") / F.lit(7)).cast("bigint"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    sizes = first.groupBy("cohort_week").agg(
        F.count("*").cast("bigint").alias("cohort_size")
    )
    return ret.join(sizes, "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "cohort_size",
        F.floor(F.col("n_active") * 10000 / F.col("cohort_size"))
        .cast("bigint")
        .alias("retention_bps"),
    )


ORACLE_COHORT = """
WITH first_seen AS (
  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
  FROM events_ms GROUP BY 1
), activity AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS act_week
  FROM events_ms
), ret AS (
  SELECT f.cohort_week,
         CAST(date_diff('day', f.cohort_week, a.act_week) / 7 AS BIGINT)
           AS week_offset,
         CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
  FROM activity a JOIN first_seen f USING (user_id)
  GROUP BY 1, 2
), sizes AS (
  SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size
  FROM first_seen GROUP BY 1
)
SELECT r.cohort_week, r.week_offset, r.n_active, s.cohort_size,
       CAST(FLOOR(r.n_active * 10000.0 / s.cohort_size) AS BIGINT)
         AS retention_bps
FROM ret r JOIN sizes s USING (cohort_week)
"""

# z-threshold for the anomaly test, squared and scaled by 4 so the whole
# inequality stays in integers: |x - mean| > 2.5 sd  <=>
# 4*(x*n - s)^2 > 25*(n*ss - s^2). Keep Spark and oracle in sync via these
# two constants.
_Z4_LHS = 4
_Z25_RHS = 25
_BASELINE_HOURS = 24


def score_rate_anomalies(hourly: DataFrame) -> DataFrame:
    """Anomaly scorer over an (event_type, hour, c) hourly rollup
    (``hourly_type_counts``), split from the rollup so any source of
    closed hours can be scored with the batch query's exact arithmetic."""
    w = (
        W.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-_BASELINE_HOURS, -1)
    )
    stats = hourly.select(
        "event_type",
        "hour",
        "c",
        F.count("*").over(w).cast("bigint").alias("n"),
        F.sum("c").over(w).cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).over(w).cast("bigint").alias("ss"),
    ).filter(F.col("n") == _BASELINE_HOURS)
    # integer self-multiplication, NOT ** 2: Column ** 2 is float pow()
    # (DOUBLE), which rounds beyond 2^53 and would diverge from the
    # oracle's exact bigint (c*n-s)*(c*n-s).
    # Domain bound: the bigint z-test is exact while 4*d^2 and the
    # variance term fit int64 — |c*n - s| up to ~1.5e9 (hourly-count
    # deviations of ~6e7 events against a 24h baseline). Beyond that BOTH
    # engines fail loudly — Spark 4 runs ANSI mode (session default
    # verified true) and DuckDB raises on overflow — never silently wrap
    # or round; at that volume re-bucket to shorter windows or pre-scale
    # the counts.
    d = F.col("c") * F.col("n") - F.col("s")
    lhs = _Z4_LHS * d * d
    rhs = _Z25_RHS * (F.col("n") * F.col("ss") - F.col("s") * F.col("s"))
    return stats.filter(lhs.cast("bigint") > rhs.cast("bigint")).select(
        "event_type",
        "hour",
        "c",
        "s",
        "ss",
        lhs.cast("bigint").alias("lhs"),
        rhs.cast("bigint").alias("rhs"),
    )


def hourly_type_counts(ev: DataFrame) -> DataFrame:
    """(event_type, hour, c) rollup of any (ts, event_type) frame — the
    input ``score_rate_anomalies`` scores."""
    return (
        ev.withColumn("hour", F.date_trunc("hour", F.col("ts")))
        .groupBy("event_type", "hour")
        .agg(F.count("*").cast("bigint").alias("c"))
    )


def events_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event-rate anomalies per type: an hour is anomalous when its
    count deviates from the trailing-24h baseline by more than 2.5 sample
    standard deviations. The test is the cross-multiplied integer form
    ``4*(x*n - s)^2 > 25*(n*ss - s^2)`` over window sums (n, s, ss), so
    no float mean/variance exists in either engine — exact parity. Runs on
    the hourly rollup (4 orders smaller than the log), one window pass."""
    return score_rate_anomalies(hourly_type_counts(t(spark, sf_dir, "events_ms")))


ORACLE_RATE_ANOMALY = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events_ms GROUP BY 1, 2
), stats AS (
  SELECT event_type, hour, c,
         CAST(COUNT(*) OVER w AS BIGINT) AS n,
         CAST(SUM(c) OVER w AS BIGINT) AS s,
         CAST(SUM(c * c) OVER w AS BIGINT) AS ss
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN {_BASELINE_HOURS} PRECEDING AND 1 PRECEDING)
)
SELECT event_type, hour, c, s, ss,
       CAST({_Z4_LHS} * (c * n - s) * (c * n - s) AS BIGINT) AS lhs,
       CAST({_Z25_RHS} * (n * ss - s * s) AS BIGINT) AS rhs
FROM stats
WHERE n = {_BASELINE_HOURS}
  AND {_Z4_LHS} * (c * n - s) * (c * n - s) > {_Z25_RHS} * (n * ss - s * s)
"""


def events_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth (10-bucket) histogram of ``value`` per event type:
    ntile over the total order (value, event_id), then per-bucket count and
    bounds. ntile's floor-with-remainder bucket assignment is identical in
    Spark and DuckDB given the same total order; the per-key sort is the
    honest cost of exactness (the sketch path is events_approx_stats)."""
    ev = t(spark, sf_dir, "events_ms")
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.withColumn("bucket", F.ntile(10).over(w))
        .groupBy("event_type", "bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
    )


ORACLE_EQUIDEPTH = """
SELECT event_type, bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(value) AS lo,
       MAX(value) AS hi
FROM (
  SELECT event_type, value,
         ntile(10) OVER (PARTITION BY event_type ORDER BY value, event_id)
           AS bucket
  FROM events_ms
)
GROUP BY 1, 2
"""


_WAU_DAYS = 7


def events_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day, EXACT — the sliding-window
    distinct that window functions cannot express (COUNT(DISTINCT) OVER
    RANGE is unsupported) and a self-join would make quadratic. Shape:
    dedup to (user, day), explode each into the _WAU_DAYS window days it
    covers (a bounded 7x row multiply on the already-deduped frame), one
    countDistinct per window day. At 100 TB the explode is partition-local
    and the only shuffle is the final day-keyed aggregate."""
    ev = t(spark, sf_dir, "events_ms")
    user_days = ev.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    span = F.sequence(
        F.col("day"), F.date_add("day", _WAU_DAYS - 1), F.expr("INTERVAL 1 DAY")
    )
    user_days = user_days.cache()  # scanned by the explode AND the max-day scalar
    covered = user_days.select(
        "user_id", F.explode(span).alias("window_day")
    ).withColumn("window_day", F.col("window_day").cast("date"))
    # broadcast-scalar crossJoin (the q11/q15/q22 pattern): keeps the
    # max-day bound LAZY — a .first() here would run a full distinct scan
    # merely to CONSTRUCT the frame (plan printing, registry enumeration)
    # and then re-scan at execution
    max_day = user_days.agg(F.max("day").alias("max_day"))
    return (
        covered.crossJoin(F.broadcast(max_day))
        .filter(F.col("window_day") <= F.col("max_day"))
        .groupBy("window_day")
        .agg(F.countDistinct("user_id").cast("bigint").alias("wau"))
    )


ORACLE_ROLLING_WAU = f"""
WITH user_days AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events_ms
), covered AS (
  SELECT user_id,
         CAST(unnest(generate_series(day, day + INTERVAL {_WAU_DAYS - 1} DAY,
                                     INTERVAL 1 DAY)) AS DATE) AS window_day
  FROM user_days
)
SELECT window_day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
FROM covered
WHERE window_day <= (SELECT MAX(day) FROM user_days)
GROUP BY 1
"""


_MAD_K = 5  # outlier threshold in MADs


def events_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier summary per event type: values more than
    ``_MAD_K`` median-absolute-deviations from the median. Median and MAD
    come from exact continuous quantiles (Spark ``percentile`` and DuckDB
    ``quantile_cont`` share the interpolation formula — verified
    bit-exact); deviations are single IEEE subtractions. Two aggregate
    passes plus broadcast joins of the per-type stats — the robust-stats
    shape that survives heavy-tailed 100 TB telemetry where mean/stddev
    thresholds drown in the outliers they're hunting."""
    ev = t(spark, sf_dir, "events_ms").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type", "med").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    flagged = (
        dev.join(F.broadcast(mad.select("event_type", "mad")), "event_type")
        .filter(F.col("adev") > _MAD_K * F.col("mad"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_outliers"),
            F.max("adev").alias("max_adev"),
        )
    )
    return mad.join(flagged, "event_type", "left").select(
        "event_type",
        "med",
        "mad",
        F.coalesce("n_outliers", F.lit(0)).cast("bigint").alias("n_outliers"),
        "max_adev",
    )


ORACLE_ROBUST_OUTLIERS = f"""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events_ms GROUP BY 1
), dev AS (
  SELECT e.event_type, m.med, abs(e.value - m.med) AS adev
  FROM events_ms e JOIN med m ON e.event_type = m.event_type
), mad AS (
  SELECT event_type, med, quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY 1, 2
), flagged AS (
  SELECT d.event_type,
         CAST(COUNT(*) AS BIGINT) AS n_outliers,
         MAX(d.adev) AS max_adev
  FROM dev d JOIN mad m ON d.event_type = m.event_type
  WHERE d.adev > {_MAD_K} * m.mad
  GROUP BY 1
)
SELECT m.event_type, m.med, m.mad,
       CAST(COALESCE(f.n_outliers, 0) AS BIGINT) AS n_outliers,
       f.max_adev
FROM mad m LEFT JOIN flagged f ON m.event_type = f.event_type
"""


def events_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per active day — the expanding-window
    COUNT(DISTINCT) that window frames cannot express. Rewrite: distinct
    counting collapses to each user's FIRST day (one hash aggregate), new
    users per day is a count, and the cumulative total is a running sum
    over the tiny per-day frame. The log is touched once; the window runs
    over |days| rows."""
    ev = t(spark, sf_dir, "events_ms")
    first_day = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).cast("date").alias("first_day")
    )
    new_per_day = first_day.groupBy("first_day").agg(
        F.count("*").cast("bigint").alias("new_users")
    )
    active_days = (
        ev.select(F.date_trunc("day", "ts").cast("date").alias("day")).distinct()
    )
    days = active_days.join(
        new_per_day, active_days.day == new_per_day.first_day, "left"
    ).select(
        "day",
        F.date_trunc("month", "day").cast("date").alias("mon"),
        F.coalesce("new_users", F.lit(0)).cast("bigint").alias("new_users"),
    )
    # two-level prefix sum, so NO unpartitioned window ever plans (an
    # unbounded-history log would otherwise funnel every day through one
    # WindowExec partition): running sum within each month partition, plus
    # each month's offset from a triangular join over the |months|-row
    # month-total frame (O(months^2) on a frame of dozens).
    w_m = W.partitionBy("mon").orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    within = days.withColumn("cum_in_mon", F.sum("new_users").over(w_m))
    mon_tot = days.groupBy("mon").agg(F.sum("new_users").alias("mtot"))
    a, b = mon_tot.alias("a"), mon_tot.alias("b")
    offsets = (
        a.join(b, F.col("b.mon") < F.col("a.mon"), "left")
        .groupBy(F.col("a.mon").alias("mon"))
        .agg(F.coalesce(F.sum("b.mtot"), F.lit(0)).alias("offset"))
    )
    return (
        within.join(F.broadcast(offsets), "mon")
        .select(
            "day",
            "new_users",
            (F.col("cum_in_mon") + F.col("offset")).cast("bigint").alias("cumulative_users"),
        )
    )


ORACLE_CUMULATIVE_USERS = """
WITH first_day AS (
  SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS DATE) AS first_day
  FROM events_ms GROUP BY 1
), new_per_day AS (
  SELECT first_day, CAST(COUNT(*) AS BIGINT) AS new_users
  FROM first_day GROUP BY 1
), active_days AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day FROM events_ms
)
SELECT a.day,
       CAST(COALESCE(n.new_users, 0) AS BIGINT) AS new_users,
       CAST(SUM(COALESCE(n.new_users, 0))
              OVER (ORDER BY a.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cumulative_users
FROM active_days a LEFT JOIN new_per_day n ON a.day = n.first_day
"""


def events_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full analytic window-function surface in one query — lag, lead,
    rank, percent_rank, cume_dist, ntile — over a deterministic slice with
    a total order (value, event_id). percent_rank and cume_dist are single
    divisions of exact rank/count integers, so they are bit-identical
    across engines; the slice keeps the result driver-sized at any sf."""
    ev = t(spark, sf_dir, "events_ms").filter(F.col("event_id") % 199 == 0)
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_type",
        "event_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.rank().over(w).cast("bigint").alias("rk"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


ORACLE_WINDOW_SUITE = """
SELECT event_type, event_id, value,
       lag(value) OVER w AS prev_value,
       lead(value) OVER w AS next_value,
       CAST(rank() OVER w AS BIGINT) AS rk,
       percent_rank() OVER w AS pr,
       cume_dist() OVER w AS cd,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile
FROM events_ms
WHERE event_id % 199 = 0
WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
"""


CUSUM_H_MILLI = 100  # flag when 1000*|S_t| exceeds this x total count


def events_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM changepoint scan per event-type daily series: the
    cumulative deviation of daily counts from the series' own mean, kept
    EXACT by working in n_days-scaled integer units — S_t = n_days *
    cumsum_t - t * total is the cumulative excess times n_days, so no
    rational mean ever materializes. A day flags when the scaled |S_t|
    exceeds CUSUM_H_MILLI/1000 of the series total (drift alarm).

    Scale: the log reduces to one daily rollup (map-side combinable);
    every window runs per event_type over |days| rows — series length,
    not event count. The exact-integer statistic is the reason the twin
    matches bit-for-bit (the float CUSUM of textbooks would drift in the
    last ulp)."""
    ev = t(spark, sf_dir, "events_ms")
    daily = (
        ev.select(
            "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .groupBy("event_type", "day")
        .agg(F.count("*").cast("bigint").alias("daily_n"))
    )
    wt = W.partitionBy("event_type")
    wcum = wt.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    scan = daily.select(
        "event_type",
        "day",
        "daily_n",
        F.sum("daily_n").over(wcum).alias("cum_n"),
        F.row_number().over(wt.orderBy("day")).alias("t_idx"),
        F.sum("daily_n").over(wt).alias("total"),
        F.count("*").over(wt).alias("n_days"),
    )
    s = (F.col("n_days") * F.col("cum_n") - F.col("t_idx") * F.col("total")).cast(
        "bigint"
    )
    return scan.select(
        "event_type",
        "day",
        "daily_n",
        F.col("cum_n").cast("bigint").alias("cum_n"),
        s.alias("s_scaled"),
        (F.abs(s) * 1000 > F.lit(CUSUM_H_MILLI) * F.col("total")).alias(
            "is_changepoint"
        ),
    )


ORACLE_CUSUM = f"""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS daily_n
  FROM events_ms GROUP BY 1, 2
), scan AS (
  SELECT event_type, day, daily_n,
         SUM(daily_n) OVER (PARTITION BY event_type ORDER BY day
                            ROWS UNBOUNDED PRECEDING) AS cum_n,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS t_idx,
         SUM(daily_n) OVER (PARTITION BY event_type) AS total,
         COUNT(*) OVER (PARTITION BY event_type) AS n_days
  FROM daily
)
SELECT event_type, day, daily_n,
       CAST(cum_n AS BIGINT) AS cum_n,
       CAST(n_days * cum_n - t_idx * total AS BIGINT) AS s_scaled,
       abs(n_days * cum_n - t_idx * total) * 1000 > {CUSUM_H_MILLI} * total
         AS is_changepoint
FROM scan
"""


def events_range_frame_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time RANGE-frame rolling sum: per user, the exact cents spent
    in the trailing hour of each event — a RANGE BETWEEN frame over epoch
    seconds, which plans as a genuinely different WindowExec than the ROWS
    frames used elsewhere (the frame bound is a VALUE offset, so ties and
    gaps are handled by time, not row position). Deterministic slice
    (user_id % 37 = 0) keeps the report bounded; sums are exact integer
    cents.

    Scale: partitioned by user — per-key series windows, no global sort;
    the slice predicate pushes to the scan."""
    ev = t(spark, sf_dir, "events_ms").filter(F.col("user_id") % 37 == 0)
    cents = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.col("ts").cast("long").alias("epoch_s"),
        (F.col("value").cast("decimal(12,4)") * 100).cast("bigint").alias("v"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("epoch_s")
        .rangeBetween(-3600, W.currentRow)
    )
    return cents.select(
        "user_id",
        "event_id",
        "ts",
        F.sum("v").over(w).cast("bigint").alias("trailing_hour_cents"),
        F.count("*").over(w).cast("bigint").alias("trailing_hour_events"),
    )


ORACLE_RANGE_FRAME = """
SELECT user_id, event_id, ts,
       CAST(SUM(v) OVER w AS BIGINT) AS trailing_hour_cents,
       CAST(COUNT(*) OVER w AS BIGINT) AS trailing_hour_events
FROM (
  SELECT user_id, event_id, ts,
         CAST(epoch(ts) AS BIGINT) AS epoch_s,
         CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT) AS v
  FROM events_ms WHERE user_id % 37 = 0
)
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_s
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""


def events_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per event-type daily series: the (lower)
    median of all pairwise slopes — the estimator that shrugs off the
    outlier days that wreck least squares. Slopes are integer milli
    (1000 * delta_count div delta_days, day distance from exact date
    arithmetic), the median is the explicit-rank lower median, so the twin
    matches value-exactly.

    Scale: the pair fan-out is |days|^2 per series (~450 rows here) — the
    series-length square, NOT corpus-sized; the daily rollup before it is
    the only corpus-touching aggregate (map-side combinable)."""
    ev = t(spark, sf_dir, "events_ms")
    daily = (
        ev.select(
            "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .groupBy("event_type", "day")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    a = daily.select(
        "event_type", F.col("day").alias("day_i"), F.col("n").alias("n_i")
    )
    b = daily.select(
        F.col("event_type").alias("et"),
        F.col("day").alias("day_j"),
        F.col("n").alias("n_j"),
    )
    slopes = (
        a.join(b, (a.event_type == b.et) & (F.col("day_i") < F.col("day_j")))
        .select(
            "event_type",
            F.expr(
                "CAST(1000 * (n_j - n_i) div datediff(day_j, day_i) AS BIGINT)"
            ).alias("slope_milli"),
        )
    )
    w = W.partitionBy("event_type").orderBy("slope_milli")
    ranked = slopes.select(
        "event_type",
        "slope_milli",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(W.partitionBy("event_type")).alias("n_pairs"),
    )
    return (
        ranked.filter(F.col("rn") == F.expr("(n_pairs + 1) div 2"))
        .groupBy("event_type")
        .agg(
            F.min("slope_milli").cast("bigint").alias("trend_milli_per_day"),
            F.min("n_pairs").cast("bigint").alias("n_pairs"),
        )
    )


ORACLE_THEIL_SEN = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events_ms GROUP BY 1, 2
), slopes AS (
  SELECT a.event_type,
         CAST(1000 * (b.n - a.n) // date_diff('day', a.day, b.day) AS BIGINT)
           AS slope_milli
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day < b.day
), ranked AS (
  SELECT event_type, slope_milli,
         row_number() OVER (PARTITION BY event_type ORDER BY slope_milli) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n_pairs
  FROM slopes
)
SELECT event_type,
       CAST(MIN(slope_milli) AS BIGINT) AS trend_milli_per_day,
       CAST(MIN(n_pairs) AS BIGINT) AS n_pairs
FROM ranked WHERE rn = (n_pairs + 1) // 2
GROUP BY 1
"""


def events_chisq_type_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence screen for event_type x day-of-week: per
    contingency cell, the observed count and the milli-scaled chi-square
    contribution (1000*o - e_milli)^2 div e_milli with e_milli =
    1000*r*c div T — expectation-first integer form whose magnitudes stay
    under 2^63 through sf10 (1000*o squared; the naive cross-multiplied
    (o*T - r*c)^2 form overflowed bigint already at sf0.1). Identical
    floor spelling in both engines, so the twin matches value-exactly.
    The per-cell detail is what an analyst actually reads (which cells
    drive the dependence); the total is one more aggregate away.

    Scale: the contingency table is |types| x 7 cells from one map-side-
    combinable groupBy; everything after is arithmetic on that tiny
    frame."""
    ev = t(spark, sf_dir, "events_ms")
    cells = (
        ev.select(
            "event_type", F.dayofweek("ts").cast("int").alias("dow")
        )
        .groupBy("event_type", "dow")
        .agg(F.count("*").cast("bigint").alias("o"))
    )
    r = cells.groupBy("event_type").agg(F.sum("o").alias("r_tot"))
    c = cells.groupBy("dow").agg(F.sum("o").alias("c_tot"))
    tot = cells.agg(F.sum("o").alias("t_tot"))
    return (
        cells.join(F.broadcast(r), "event_type")
        .join(F.broadcast(c), "dow")
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "dow",
            "o",
            F.expr(
                "CAST((1000 * o - 1000 * r_tot * c_tot div t_tot) "
                "* (1000 * o - 1000 * r_tot * c_tot div t_tot) "
                "div (1000 * r_tot * c_tot div t_tot) AS BIGINT)"
            ).alias("chisq_contrib_milli"),
        )
    )


ORACLE_CHISQ = """
WITH cells AS (
  -- DuckDB dayofweek is 0(Sun)-6; Spark is 1(Sun)-7 — shift to match
  SELECT event_type, CAST(1 + dayofweek(ts) AS INT) AS dow,
         CAST(COUNT(*) AS BIGINT) AS o
  FROM events_ms GROUP BY 1, 2
), r AS (SELECT event_type, SUM(o) AS r_tot FROM cells GROUP BY 1),
c AS (SELECT dow, SUM(o) AS c_tot FROM cells GROUP BY 1),
tot AS (SELECT SUM(o) AS t_tot FROM cells)
SELECT x.event_type, x.dow, x.o,
       CAST((1000 * x.o - 1000 * r.r_tot * c.c_tot // t.t_tot)
            * (1000 * x.o - 1000 * r.r_tot * c.c_tot // t.t_tot)
            // (1000 * r.r_tot * c.c_tot // t.t_tot) AS BIGINT)
         AS chisq_contrib_milli
FROM cells x
JOIN r ON x.event_type = r.event_type
JOIN c ON x.dow = c.dow
CROSS JOIN tot t
"""


def events_mannwhitney_weekend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney rank-sum screen: do weekend purchases differ from
    weekday purchases in value? Nonparametric (rank-based — the Theil-Sen
    of location tests), computed EXACTLY: values rank over the pooled
    integer cents with ties carrying DOUBLED average ranks (2*avg-rank =
    rank_min + rank_max is always an integer), so U2 = 2*U =
    sum(2*ranks_weekend) - n_w*(n_w+1) is exact in both engines. The row
    reports both cohort sizes, U2, and its midpoint 2*E[U] = n_w*n_d for
    direction reading.

    Scale: one pooled rank over the purchase slice — per-value tie groups
    come from a groupBy, cumulative ranks from the digit-count two-level
    prefix sum (no unpartitioned window, same decomposition as the
    quantile anchor)."""
    ev = t(spark, sf_dir, "events_ms").filter(F.col("event_type") == "purchase")
    vals = ev.select(
        (F.col("value").cast("decimal(12,4)") * 100).cast("bigint").alias("v"),
        F.dayofweek("ts").isin(1, 7).cast("int").alias("is_weekend"),
    )
    # per distinct value: total count, weekend count, digit-count partition
    byval = (
        vals.groupBy("v")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("is_weekend").alias("cnt_w"),
        )
        .withColumn("k", F.length(F.col("v").cast("string")))
    )
    wk = W.partitionBy("k").orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    within = byval.withColumn("cum_in_k", F.sum("cnt").over(wk))
    k_tot = byval.groupBy("k").agg(F.sum("cnt").alias("ktot"))
    ka, kb = k_tot.alias("ka"), k_tot.alias("kb")
    offsets = (
        ka.join(kb, F.col("kb.k") < F.col("ka.k"), "left")
        .groupBy(F.col("ka.k").alias("k"))
        .agg(F.coalesce(F.sum("kb.ktot"), F.lit(0)).alias("offset"))
    )
    ranked = within.join(F.broadcast(offsets), "k").select(
        "v",
        "cnt",
        "cnt_w",
        (F.col("cum_in_k") + F.col("offset")).alias("cum"),  # rank_max
    )
    # doubled average rank of a tie group = rank_min + rank_max
    #   = (cum - cnt + 1) + cum
    stats = ranked.agg(
        F.sum("cnt").cast("bigint").alias("n_total"),
        F.sum("cnt_w").cast("bigint").alias("n_w"),
        F.sum(F.col("cnt_w") * (2 * F.col("cum") - F.col("cnt") + 1))
        .cast("bigint")
        .alias("rank2_sum_w"),
    )
    return stats.select(
        "n_w",
        (F.col("n_total") - F.col("n_w")).cast("bigint").alias("n_d"),
        F.expr("CAST(rank2_sum_w - n_w * (n_w + 1) AS BIGINT)").alias("u2_weekend"),
        F.expr("CAST(n_w * (n_total - n_w) AS BIGINT)").alias("u2_midpoint"),
    )


ORACLE_MANNWHITNEY = """
WITH vals AS (
  SELECT CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT) AS v,
         CASE WHEN (1 + dayofweek(ts)) IN (1, 7) THEN 1 ELSE 0 END AS is_weekend
  FROM events_ms WHERE event_type = 'purchase'
), byval AS (
  SELECT v, COUNT(*) AS cnt, SUM(is_weekend) AS cnt_w FROM vals GROUP BY 1
), ranked AS (
  SELECT v, cnt, cnt_w,
         SUM(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
  FROM byval
), stats AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n_total,
         CAST(SUM(cnt_w) AS BIGINT) AS n_w,
         CAST(SUM(cnt_w * (2 * cum - cnt + 1)) AS BIGINT) AS rank2_sum_w
  FROM ranked
)
SELECT n_w,
       CAST(n_total - n_w AS BIGINT) AS n_d,
       CAST(rank2_sum_w - n_w * (n_w + 1) AS BIGINT) AS u2_weekend,
       CAST(n_w * (n_total - n_w) AS BIGINT) AS u2_midpoint
FROM stats
"""


EWMA_W = 7  # smoothing window (days); dyadic weights 2^6 .. 2^0, sum 127


def events_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily event volume per
    type, with exact dyadic weights: day d is smoothed over the trailing
    EWMA_W days with weight 2^(EWMA_W-1-j) on the count j days back
    (halving per day — the alpha=0.5 EWM truncated to a hard window), so
    ewma_milli = 1000 * sum(w*c) div (2^W - 1) is exact integer arithmetic
    in both engines. Only full-window days are emitted (no warm-up ramp
    ambiguity); gap days on the per-type spine count as zero.

    Scale: the daily rollup is one map-side-combinable hash aggregate that
    reduces the log by ~5 orders of magnitude; the window is then a
    BOUNDED x W map-side explode of the per-(type, day) frame (each day
    contributes to its next W days) and one more hash aggregate — never a
    self-join on the raw log, never an unpartitioned window. O(types x
    days x W) work regardless of event count."""
    ev = t(spark, sf_dir, "events_ms").withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    daily = ev.groupBy("event_type", "day").agg(F.count("*").alias("c"))
    spans = ev.groupBy("event_type").agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    )
    grid = spans.select(
        "event_type",
        "d0",
        "d1",
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day"),
    )
    dense = grid.join(daily, ["event_type", "day"], "left").select(
        "event_type",
        "d0",
        "d1",
        "day",
        F.coalesce("c", F.lit(0)).cast("bigint").alias("c"),
    )
    contrib = dense.select(
        "event_type",
        "d0",
        "d1",
        "c",
        F.explode(F.sequence(F.lit(0), F.lit(EWMA_W - 1))).alias("j"),
        F.col("day"),
    ).select(
        "event_type",
        "c",
        "j",
        F.expr("day + make_interval(0, 0, 0, j)").alias("tday"),
        "d0",
        "d1",
    )
    denom = (1 << EWMA_W) - 1
    return (
        contrib.filter(
            (F.col("tday") <= F.col("d1"))
            & (F.col("tday") >= F.expr(f"d0 + INTERVAL {EWMA_W - 1} DAY"))
        )
        .groupBy("event_type", F.col("tday").alias("day"))
        .agg(
            F.expr(f"CAST(1000 * sum(shiftleft(1, {EWMA_W} - 1 - j) * c) div {denom} AS BIGINT)").alias(
                "ewma_milli"
            ),
            F.sum(F.when(F.col("j") == 0, F.col("c"))).cast("bigint").alias("day_count"),
        )
    )


def events_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend) of daily volume
    per type, as an EXACT integer recurrence: on the zero-filled daily
    grid, with milli-scaled level l and trend b,

        l_1 = 1000 * c_1,                    b_1 = 0
        l_t = (1000*c_t + l_{t-1} + b_{t-1}) div 2        (alpha = 1/2)
        b_t = (l_t - l_{t-1} + 3*b_{t-1})    div 4        (beta  = 1/4)

    — truncated integer division, which Spark `div`, Python trunc-div and
    DuckDB `//` all agree on including negatives (b goes negative on
    down-trends), so the whole trajectory value-hashes cross-engine. The
    one-step-ahead forecast is l + b. This is the trend-aware complement
    of events_ewma_daily: EWMA is level-only and windowed-closed-form;
    Holt's recurrence is genuinely sequential, so it runs as the
    replay.py fold shape — applyInPandas per event_type (state machines
    parallelize ACROSS keys; each key's fold is inherently ordered), with
    a recursive-CTE DuckDB twin advancing every type one day per
    iteration. Scale: the daily rollup reduces the log by ~5 orders of
    magnitude first; the fold is O(types x days)."""
    import pandas as pd

    ev = t(spark, sf_dir, "events_ms").withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    daily = ev.groupBy("event_type", "day").agg(F.count("*").alias("c"))
    spans = ev.groupBy("event_type").agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    )
    grid = spans.select(
        "event_type",
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day"),
    )
    dense = grid.join(daily, ["event_type", "day"], "left").select(
        "event_type", "day", F.coalesce("c", F.lit(0)).cast("bigint").alias("c")
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)

        def tdiv(a: int, d: int) -> int:
            q = abs(a) // d
            return q if a >= 0 else -q

        l = b = None
        levels, trends = [], []
        for c in pdf["c"]:
            y = 1000 * int(c)
            if l is None:
                l, b = y, 0
            else:
                l_new = tdiv(y + l + b, 2)
                b = tdiv(l_new - l + 3 * b, 4)
                l = l_new
            levels.append(l)
            trends.append(b)
        pdf["level_milli"] = levels
        pdf["trend_milli"] = trends
        pdf["fc_next_milli"] = [lv + tr for lv, tr in zip(levels, trends)]
        return pdf.rename(columns={"c": "day_count"})[
            ["event_type", "day", "day_count", "level_milli", "trend_milli", "fc_next_milli"]
        ]

    return dense.groupBy("event_type").applyInPandas(
        fold,
        schema=(
            "event_type string, day timestamp, day_count long, "
            "level_milli long, trend_milli long, fc_next_milli long"
        ),
    )


def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of daily volume per type
    (the moving-average method, public literature: the classical
    decomposition every forecasting text opens with): trend = centered
    7-day moving average, seasonal = day-of-week mean of the detrended
    series, residual = the rest — all in exact milli integers
    (trend_milli = 1000*sum7 div 7; seasonal is an integer-div mean of
    integer detrended values; truncated division agrees across Spark /
    DuckDB including negatives). Only full-MA-window days are emitted.

    Scale: the daily rollup collapses the log first; every window
    partitions by event_type over series-length rows (ROWS BETWEEN -3
    AND 3), and the seasonal means are a 7-row-per-type aggregate joined
    back — never an unpartitioned window."""
    ev = t(spark, sf_dir, "events_ms").withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    daily = ev.groupBy("event_type", "day").agg(F.count("*").alias("c"))
    spans = ev.groupBy("event_type").agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    )
    grid = spans.select(
        "event_type",
        "d0",
        "d1",
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day"),
    )
    dense = grid.join(daily, ["event_type", "day"], "left").select(
        "event_type",
        "d0",
        "d1",
        "day",
        F.coalesce("c", F.lit(0)).cast("bigint").alias("c"),
    )
    w_ma = W.partitionBy("event_type").orderBy(F.asc("day")).rowsBetween(-3, 3)
    trended = (
        dense.withColumn("sum7", F.sum("c").over(w_ma))
        .filter(
            (F.col("day") >= F.expr("d0 + INTERVAL 3 DAY"))
            & (F.col("day") <= F.expr("d1 - INTERVAL 3 DAY"))
        )
        .select(
            "event_type",
            "day",
            "c",
            F.expr("CAST(1000 * sum7 div 7 AS BIGINT)").alias("trend_milli"),
        )
        .withColumn(
            "det_milli", (F.lit(1000) * F.col("c") - F.col("trend_milli")).cast("bigint")
        )
        .withColumn("dow", F.dayofweek("day").cast("int"))
    )
    seasonal = trended.groupBy("event_type", "dow").agg(
        F.expr("CAST(sum(det_milli) div count(*) AS BIGINT)").alias("seasonal_milli")
    )
    return trended.join(F.broadcast(seasonal), ["event_type", "dow"]).select(
        "event_type",
        "day",
        F.col("c").alias("day_count"),
        "trend_milli",
        "seasonal_milli",
        (F.col("det_milli") - F.col("seasonal_milli")).cast("bigint").alias("resid_milli"),
    )


QTREND_TAU_MILLI = 900  # fit the 90th-percentile trend line
QTREND_SLOPES = [100 * s for s in range(-20, 21)]  # milli-count/day grid


def events_quantile_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile regression of the daily-volume trend per type (public
    literature: Koenker & Bassett 1978), fit by EXACT INTEGER grid
    search: for each candidate slope on a fixed milli grid, the optimal
    intercept for quantile tau is the lower tau-quantile of the
    residuals (by explicit rank — the classic QR fact that the check
    loss is minimized at a residual quantile), and the pinball loss is
    pure bigint arithmetic (tau and 1-tau in milli). The argmin row per
    type is the fitted 90th-percentile trend — the robust "how fast is
    the CEILING of daily traffic growing" number OLS can't give.

    Scale: the corpus collapses to the daily rollup first; the grid
    cross is |types| x |grid| x |days| (~6k rows here), windows
    partition by (type, slope) — series-sized frames only."""
    ev = t(spark, sf_dir, "events_ms")
    daily = (
        ev.select("event_type", F.date_trunc("day", "ts").cast("date").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    base = daily.join(
        daily.groupBy(F.col("event_type").alias("et")).agg(F.min("day").alias("day0")),
        F.col("event_type") == F.col("et"),
    ).select(
        "event_type",
        F.datediff("day", "day0").cast("bigint").alias("x"),
        (F.lit(1000) * F.col("n")).cast("bigint").alias("y_milli"),
    )
    grid = spark.createDataFrame(
        [(s,) for s in QTREND_SLOPES], "slope_milli long"
    )
    resid = base.crossJoin(F.broadcast(grid)).select(
        "event_type",
        "slope_milli",
        "x",
        (F.col("y_milli") - F.col("slope_milli") * F.col("x")).alias("r_milli"),
    )
    w_rank = W.partitionBy("event_type", "slope_milli").orderBy(
        F.asc("r_milli"), F.asc("x")
    )
    counted = resid.withColumn("rn", F.row_number().over(w_rank)).withColumn(
        "n_days", F.count("*").over(W.partitionBy("event_type", "slope_milli"))
    )
    q = counted.filter(
        F.col("rn") == F.expr(f"(({QTREND_TAU_MILLI} * n_days + 999) div 1000)")
    ).select("event_type", "slope_milli", F.col("r_milli").alias("icept_milli"))
    tau, omt = QTREND_TAU_MILLI, 1000 - QTREND_TAU_MILLI
    loss = (
        resid.join(q, ["event_type", "slope_milli"])
        .groupBy("event_type", "slope_milli", "icept_milli")
        .agg(
            F.sum(
                F.expr(
                    f"CASE WHEN r_milli >= icept_milli THEN {tau} * (r_milli - icept_milli) "
                    f"ELSE {omt} * (icept_milli - r_milli) END"
                )
            )
            .cast("bigint")
            .alias("pinball_loss")
        )
    )
    w_best = W.partitionBy("event_type").orderBy(
        F.asc("pinball_loss"), F.asc("slope_milli")
    )
    return (
        loss.withColumn("brk", F.row_number().over(w_best))
        .filter(F.col("brk") == 1)
        .select(
            "event_type",
            F.lit(QTREND_TAU_MILLI).cast("int").alias("tau_milli"),
            "slope_milli",
            "icept_milli",
            "pinball_loss",
        )
    )


ORACLE_QTREND = f"""
WITH qdaily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events_ms GROUP BY 1, 2
),
qbase AS (
  SELECT d.event_type,
         CAST(date_diff('day', m.day0, d.day) AS BIGINT) AS x,
         CAST(1000 * d.n AS BIGINT) AS y_milli
  FROM qdaily d JOIN (SELECT event_type, MIN(day) AS day0 FROM qdaily GROUP BY 1) m
    ON d.event_type = m.event_type
),
qgrid AS (SELECT CAST(100 * s.i AS BIGINT) AS slope_milli
          FROM unnest(range(-20, 21)) AS s(i)),
qresid AS (
  SELECT event_type, slope_milli, x, y_milli - slope_milli * x AS r_milli
  FROM qbase CROSS JOIN qgrid
),
qq AS (
  SELECT event_type, slope_milli, r_milli AS icept_milli FROM (
    SELECT *, row_number() OVER (PARTITION BY event_type, slope_milli
                                 ORDER BY r_milli, x) AS rn,
           COUNT(*) OVER (PARTITION BY event_type, slope_milli) AS n_days
    FROM qresid
  ) WHERE rn = ({QTREND_TAU_MILLI} * n_days + 999) // 1000
),
qloss AS (
  SELECT r.event_type, r.slope_milli, q.icept_milli,
         CAST(SUM(CASE WHEN r.r_milli >= q.icept_milli
                       THEN {QTREND_TAU_MILLI} * (r.r_milli - q.icept_milli)
                       ELSE {1000 - QTREND_TAU_MILLI} * (q.icept_milli - r.r_milli) END)
              AS BIGINT) AS pinball_loss
  FROM qresid r JOIN qq q USING (event_type, slope_milli)
  GROUP BY 1, 2, 3
)
SELECT event_type, CAST({QTREND_TAU_MILLI} AS INTEGER) AS tau_milli,
       slope_milli, icept_milli, pinball_loss
FROM (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY pinball_loss, slope_milli) AS brk
  FROM qloss
) WHERE brk = 1
"""


LATE_WATERMARK_S = 10


def events_late_arrival_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark planning audit: replay the log in ARRIVAL order (the
    domain's deterministic ingest-lag model, received = ts + event_id%30
    seconds — domain.py's lifecycle formula applied to the raw log) and
    count, per type, the events a LATE_WATERMARK_S-second watermark would
    drop — event time below the high-watermark (max event time seen
    strictly before this arrival) minus the delay. This is the batch
    oracle for sizing the streaming layer's withWatermark horizon: the
    late rate and max lateness tell you what delay bound loses what data.

    The running high-watermark is a TOTAL-ORDER prefix max; here it is
    decomposed so no unpartitioned window plans: prefix max within each
    arrival-hour bucket plus a triangular join over the |hours|-row
    hour-max frame (the events_cumulative_users two-level shape). The
    oracle computes the SAME quantity with a plain global window, so the
    green hash proves the decomposition. Null-ordering pitfalls are
    avoided with an integer sentinel instead of engine greatest()-null
    semantics."""
    ev = t(spark, sf_dir, "events_ms").select(
        "event_type",
        "event_id",
        F.unix_millis("ts").alias("ts_ms"),
        (F.unix_millis("ts") + (F.col("event_id") % 30) * 1000).alias("arr_ms"),
    )
    base = ev.withColumn("hr", F.expr("arr_ms div 3600000"))
    w_in = (
        W.partitionBy("hr")
        .orderBy("arr_ms", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    sent = -(2**62)
    within = base.withColumn(
        "pmax", F.coalesce(F.max("ts_ms").over(w_in), F.lit(sent))
    )
    hr_max = base.groupBy("hr").agg(F.max("ts_ms").alias("hmax"))
    a, b = hr_max.alias("a"), hr_max.alias("b")
    offsets = (
        a.join(b, F.col("b.hr") < F.col("a.hr"), "left")
        .groupBy(F.col("a.hr").alias("hr"))
        .agg(F.coalesce(F.max("b.hmax"), F.lit(sent)).alias("off"))
    )
    flagged = (
        within.join(F.broadcast(offsets), "hr")
        .withColumn("hwm", F.greatest("pmax", "off"))
        .withColumn(
            "late",
            (F.col("ts_ms") < F.col("hwm") - F.lit(LATE_WATERMARK_S * 1000)).cast("int"),
        )
    )
    return flagged.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum("late").cast("bigint").alias("n_late"),
        F.coalesce(
            F.max(
                F.when(
                    F.col("late") == 1,
                    F.expr("(hwm - ts_ms) div 1000"),
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("max_lateness_s"),
        F.expr("CAST(1000 * sum(late) div count(*) AS INT)").alias("late_rate_milli"),
    )


ORACLE_LATE = f"""
WITH lbase AS (
  SELECT event_type, event_id,
         CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
         CAST(epoch_ms(ts) + (event_id % 30) * 1000 AS BIGINT) AS arr_ms
  FROM events_ms
),
lflag AS (
  SELECT event_type, ts_ms,
         COALESCE(MAX(ts_ms) OVER (ORDER BY arr_ms, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  {-(2**62)}) AS hwm
  FROM lbase
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN ts_ms < hwm - {LATE_WATERMARK_S * 1000} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_late,
       CAST(COALESCE(MAX(CASE WHEN ts_ms < hwm - {LATE_WATERMARK_S * 1000}
                              THEN (hwm - ts_ms) // 1000 END), 0) AS BIGINT)
         AS max_lateness_s,
       CAST(1000 * SUM(CASE WHEN ts_ms < hwm - {LATE_WATERMARK_S * 1000} THEN 1 ELSE 0 END)
            // COUNT(*) AS INTEGER) AS late_rate_milli
FROM lflag
GROUP BY 1
"""


ORACLE_SEASONAL = """
WITH sdaily AS (
  SELECT event_type, date_trunc('day', ts) AS day, CAST(COUNT(*) AS BIGINT) AS c
  FROM events_ms GROUP BY 1, 2
), sspans AS (
  SELECT event_type, date_trunc('day', MIN(ts)) AS d0, date_trunc('day', MAX(ts)) AS d1
  FROM events_ms GROUP BY 1
), sgrid AS (
  SELECT event_type, d0, d1,
         unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
  FROM sspans
), sdense AS (
  SELECT g.event_type, g.d0, g.d1, g.day, COALESCE(dl.c, 0) AS c
  FROM sgrid g LEFT JOIN sdaily dl ON g.event_type = dl.event_type AND g.day = dl.day
), strended AS (
  SELECT event_type, day, c,
         CAST(1000 * sum7 // 7 AS BIGINT) AS trend_milli,
         CAST(1000 * c - 1000 * sum7 // 7 AS BIGINT) AS det_milli,
         CAST(1 + dayofweek(day) AS INTEGER) AS dow
  FROM (
    SELECT *, SUM(c) OVER (PARTITION BY event_type ORDER BY day
                           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS sum7
    FROM sdense
  )
  WHERE day >= d0 + INTERVAL 3 DAY AND day <= d1 - INTERVAL 3 DAY
), sseasonal AS (
  SELECT event_type, dow, CAST(SUM(det_milli) // COUNT(*) AS BIGINT) AS seasonal_milli
  FROM strended GROUP BY 1, 2
)
SELECT t.event_type, t.day, t.c AS day_count, t.trend_milli, s.seasonal_milli,
       CAST(t.det_milli - s.seasonal_milli AS BIGINT) AS resid_milli
FROM strended t JOIN sseasonal s ON t.event_type = s.event_type AND t.dow = s.dow
"""


ORACLE_HOLT = """
WITH RECURSIVE hdense AS MATERIALIZED (
  SELECT event_type, day, c,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS INT) AS rn
  FROM (
    SELECT g.event_type, g.day, COALESCE(dl.c, 0) AS c
    FROM (
      SELECT event_type,
             unnest(generate_series(date_trunc('day', mn), date_trunc('day', mx),
                                    INTERVAL 1 DAY)) AS day
      FROM (SELECT event_type, MIN(ts) AS mn, MAX(ts) AS mx
            FROM events_ms GROUP BY 1)
    ) g
    LEFT JOIN (
      SELECT event_type, date_trunc('day', ts) AS day, CAST(COUNT(*) AS BIGINT) AS c
      FROM events_ms GROUP BY 1, 2
    ) dl ON g.event_type = dl.event_type AND g.day = dl.day
  )
), hfold AS (
  SELECT event_type, rn, day, c,
         CAST(1000 * c AS BIGINT) AS l,
         CAST(0 AS BIGINT) AS b
  FROM hdense WHERE rn = 1
  UNION ALL
  SELECT d.event_type, d.rn, d.day, d.c,
         (1000 * d.c + f.l + f.b) // 2 AS l,
         (((1000 * d.c + f.l + f.b) // 2) - f.l + 3 * f.b) // 4 AS b
  FROM hfold f JOIN hdense d ON d.event_type = f.event_type AND d.rn = f.rn + 1
)
SELECT event_type, day, CAST(c AS BIGINT) AS day_count,
       CAST(l AS BIGINT) AS level_milli, CAST(b AS BIGINT) AS trend_milli,
       CAST(l + b AS BIGINT) AS fc_next_milli
FROM hfold
"""


ORACLE_EWMA = f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, CAST(COUNT(*) AS BIGINT) AS c
  FROM events_ms GROUP BY 1, 2
), spans AS (
  SELECT event_type, date_trunc('day', MIN(ts)) AS d0, date_trunc('day', MAX(ts)) AS d1
  FROM events_ms GROUP BY 1
), grid AS (
  SELECT event_type, d0, d1,
         unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
  FROM spans
), dense AS (
  SELECT g.event_type, g.d0, g.d1, g.day, COALESCE(dl.c, 0) AS c
  FROM grid g LEFT JOIN daily dl ON g.event_type = dl.event_type AND g.day = dl.day
), contrib AS (
  SELECT event_type, c, u.j AS j, day + to_days(CAST(u.j AS INTEGER)) AS tday, d0, d1
  FROM dense, unnest(range(0, {EWMA_W})) AS u(j)
)
SELECT event_type, tday AS day,
       CAST(1000 * SUM((1 << ({EWMA_W} - 1 - j)) * c) // {(1 << EWMA_W) - 1} AS BIGINT) AS ewma_milli,
       CAST(SUM(CASE WHEN j = 0 THEN c END) AS BIGINT) AS day_count
FROM contrib
WHERE tday <= d1 AND tday >= d0 + INTERVAL {EWMA_W - 1} DAY
GROUP BY 1, 2
"""


QUERIES: dict[str, tuple] = {
    "events_ewma_daily": (events_ewma_daily, ORACLE_EWMA),
    "events_holt_trend": (events_holt_trend, ORACLE_HOLT),
    "events_seasonal_decompose": (events_seasonal_decompose, ORACLE_SEASONAL),
    "events_late_arrival_audit": (events_late_arrival_audit, ORACLE_LATE),
    "events_quantile_trend": (events_quantile_trend, ORACLE_QTREND),
    "events_gap_fill_resample": (events_gap_fill_resample, ORACLE_GAP_FILL),
    "events_cusum_changepoints": (events_cusum_changepoints, ORACLE_CUSUM),
    "events_theil_sen_trend": (events_theil_sen_trend, ORACLE_THEIL_SEN),
    "events_chisq_type_dow": (events_chisq_type_dow, ORACLE_CHISQ),
    "events_mannwhitney_weekend": (events_mannwhitney_weekend, ORACLE_MANNWHITNEY),
    "events_range_frame_rolling": (events_range_frame_rolling, ORACLE_RANGE_FRAME),
    "events_cohort_retention": (events_cohort_retention, ORACLE_COHORT),
    "events_rate_anomaly": (events_rate_anomaly, ORACLE_RATE_ANOMALY),
    "events_equidepth_histogram": (events_equidepth_histogram, ORACLE_EQUIDEPTH),
    "events_rolling_wau": (events_rolling_wau, ORACLE_ROLLING_WAU),
    "events_robust_outliers": (events_robust_outliers, ORACLE_ROBUST_OUTLIERS),
    "events_cumulative_users": (events_cumulative_users, ORACLE_CUMULATIVE_USERS),
    "events_window_suite": (events_window_suite, ORACLE_WINDOW_SUITE),
}


# ---------------------------------------------------------------------------
# Online CUSUM monitor against a FROZEN reference (Page 1954): the
# deployment shape of CUSUM — events_cusum_changepoints above is the
# retrospective scan (statistic uses the whole series), which cannot
# stream; the monitor form fixes the reference from the series' first
# week and folds each new day through S+ = max(0, S+ + dev - slack) /
# S- = max(0, S- - dev - slack), which IS streamable: the state per event
# type is the reference plus the two running sums.

CUSUM_REF_DAYS = 7  # reference window: the series' first week
CUSUM_SLACK_MILLI = 50  # k (allowance) = 5% of the reference mean
CUSUM_MON_H_MILLI = 500  # alarm when S exceeds 0.5 x ref_total (scaled)


def events_cusum_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided online CUSUM per event type: reference (total, n_days)
    is the first CUSUM_REF_DAYS calendar days; monitored days (strictly
    after the window) fold dev_t = ref_days*x_t - ref_total through the
    clamped recurrences. Exactness: dev is integer (ref_days-scaled, so
    the rational reference mean never materializes), slack is one
    truncating div of ref_total, and the max(0, .) folds are computed by
    the classic identities

        S+_t = D_t - least(0, min_{j<=t} D_j),   D_t = cumsum(dev - slack)
        S-_t = greatest(0, max_{j<=t} E_j) - E_t, E_t = cumsum(dev + slack)

    so the whole scan is two exact-integer running windows — no UDF, and
    bit-equal to the sequential fold the streaming twin runs.

    Scale: one map-side-combinable daily rollup; windows run per type
    over |days| rows. The reference is a per-type broadcast-sized dim."""
    ev = t(spark, sf_dir, "events_ms")
    daily = (
        ev.select(
            "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .groupBy("event_type", "day")
        .agg(F.count("*").cast("bigint").alias("daily_n"))
    )
    ref = (
        daily.withColumn(
            "min_day", F.min("day").over(W.partitionBy("event_type"))
        )
        .filter(F.col("day") < F.date_add(F.col("min_day"), CUSUM_REF_DAYS))
        .groupBy("event_type")
        .agg(
            F.sum("daily_n").cast("bigint").alias("ref_total"),
            F.count("*").cast("bigint").alias("ref_days"),
            F.date_add(F.min("day"), CUSUM_REF_DAYS).alias("mon_start"),
        )
    )
    mon = daily.join(F.broadcast(ref), "event_type").filter(
        F.col("day") >= F.col("mon_start")
    )
    dev = (F.col("ref_days") * F.col("daily_n") - F.col("ref_total")).cast("bigint")
    slack = F.expr(f"CAST(({CUSUM_SLACK_MILLI} * ref_total) div 1000 AS BIGINT)")
    wcum = (
        W.partitionBy("event_type").orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    )
    scan = mon.select(
        "event_type",
        "day",
        "daily_n",
        "ref_total",
        "ref_days",
        F.sum(dev - slack).over(wcum).alias("d_cum"),
        F.sum(dev + slack).over(wcum).alias("e_cum"),
    ).select(
        "event_type",
        "day",
        "daily_n",
        "ref_total",
        "ref_days",
        (
            F.col("d_cum")
            - F.least(F.lit(0).cast("bigint"), F.min("d_cum").over(wcum))
        )
        .cast("bigint")
        .alias("s_plus"),
        (
            F.greatest(F.lit(0).cast("bigint"), F.max("e_cum").over(wcum))
            - F.col("e_cum")
        )
        .cast("bigint")
        .alias("s_minus"),
    )
    h = F.expr(f"CAST(({CUSUM_MON_H_MILLI} * ref_total) div 1000 AS BIGINT)")
    return scan.select(
        "event_type",
        "day",
        "daily_n",
        "s_plus",
        "s_minus",
        (F.greatest("s_plus", "s_minus") > h).alias("alarm"),
    )


ORACLE_CUSUM_MONITOR = f"""
WITH cm_daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS daily_n
  FROM events_ms GROUP BY 1, 2
), cm_ref AS (
  SELECT event_type,
         CAST(SUM(daily_n) AS BIGINT) AS ref_total,
         CAST(COUNT(*) AS BIGINT) AS ref_days,
         MIN(min_day) + INTERVAL {CUSUM_REF_DAYS} DAY AS mon_start
  FROM (SELECT *, MIN(day) OVER (PARTITION BY event_type) AS min_day
        FROM cm_daily)
  WHERE day < min_day + INTERVAL {CUSUM_REF_DAYS} DAY
  GROUP BY 1
), cm_scan AS (
  SELECT d.event_type, d.day, d.daily_n, r.ref_total, r.ref_days,
         SUM(r.ref_days * d.daily_n - r.ref_total
             - ({CUSUM_SLACK_MILLI} * r.ref_total) // 1000)
           OVER (PARTITION BY d.event_type ORDER BY d.day
                 ROWS UNBOUNDED PRECEDING) AS d_cum,
         SUM(r.ref_days * d.daily_n - r.ref_total
             + ({CUSUM_SLACK_MILLI} * r.ref_total) // 1000)
           OVER (PARTITION BY d.event_type ORDER BY d.day
                 ROWS UNBOUNDED PRECEDING) AS e_cum
  FROM cm_daily d JOIN cm_ref r USING (event_type)
  WHERE d.day >= r.mon_start
), cm_s AS (
  SELECT event_type, day, daily_n, ref_total,
         CAST(d_cum - LEAST(0, MIN(d_cum) OVER (PARTITION BY event_type
              ORDER BY day ROWS UNBOUNDED PRECEDING)) AS BIGINT) AS s_plus,
         CAST(GREATEST(0, MAX(e_cum) OVER (PARTITION BY event_type
              ORDER BY day ROWS UNBOUNDED PRECEDING)) - e_cum AS BIGINT) AS s_minus
  FROM cm_scan
)
SELECT event_type, day, daily_n, s_plus, s_minus,
       GREATEST(s_plus, s_minus) > ({CUSUM_MON_H_MILLI} * ref_total) // 1000
         AS alarm
FROM cm_s
"""

QUERIES["events_cusum_monitor"] = (events_cusum_monitor, ORACLE_CUSUM_MONITOR)
