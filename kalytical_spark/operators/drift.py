"""Distribution-drift and distribution-free-uncertainty screens over the
event log — the monitoring tier a production training-data pipeline runs
before trusting a new day of ingest:

* ``events_psi_drift`` — Population Stability Index of each day's
  event-type mix against the corpus-wide mix (the standard model-risk /
  feature-drift metric; PSI > 0.2 is the conventional "investigate" bar).
* ``events_conformal_interval`` — split-conformal prediction interval
  around a per-type daily-volume OLS trend (Vovk et al.'s distribution-
  free calibration): the interval half-width is the ceil(0.9·(n+1))-th
  order statistic of calibration residuals, and the empirical coverage on
  the held-out days validates the guarantee with exact integer
  comparisons.

Exactness: both queries follow the stats.py family convention — counts
stay BIGINT; each transcendental is evaluated ONCE per grid cell on an
exact-integer rational and quantized to micro units; residual ranking
uses the integer-scaled residual R = k·den·y - k·a_num·x - Sy·den +
a_num·Sx (the OLS residual times the positive constant k·den), so order
statistics and coverage comparisons never touch a float.

Scale: the daily rollup collapses the log ~5 orders of magnitude before
anything else runs; everything after is O(days × types) on a dimension-
sized frame (windows partition by event_type). Magnitude bound for the
conformal residual: |R| <= k·den·y_max ≈ 1e8·y_max — bigint-safe through
~1e10 events per (type, day).

The reference has no monitoring surface (closest analog: the run-count
poll in ``data_provider.py:189-199``); this family exists for the
warehouse/DQ mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .common import t

# PSI's conventional drift threshold, in micro-nats
PSI_FLAG_MICRO = 200_000
# split-conformal miscoverage level alpha = 1/10 (90% intervals)
CONF_ALPHA_DEN = 10


def _daily_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-filled (event_type × day) counts on the GLOBAL day span — the
    ewma/holt grid shape, but with one shared spine so day totals and the
    type dimension line up across types."""
    ev = t(spark, sf_dir, "events_ms").withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    daily = ev.groupBy("event_type", "day").agg(F.count("*").alias("c"))
    span = ev.groupBy().agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    )
    days = span.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day"),
        "d0",
    )
    types = ev.select("event_type").distinct()
    # both dims are tiny (days × types); the counts join keys the same pair
    grid = days.crossJoin(F.broadcast(types))
    return grid.join(daily, ["event_type", "day"], "left").select(
        "event_type",
        "day",
        "d0",
        F.coalesce("c", F.lit(0)).cast("bigint").alias("c"),
    )


def events_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day Population Stability Index of the event-type mix vs the
    corpus-wide mix: PSI_d = Σ_t (p_t|d - q_t)·ln(p_t|d / q_t), with
    Laplace +1 smoothing on the full day×type grid so absent types stay
    finite (the standard add-one PSI variant). Emits the exact integer
    micro-nat PSI and the conventional >0.2 drift flag per day.

    Determinism: the log-ratio is one ln per grid cell on the exact
    rational ((c_dt+1)(N+T)) / ((c_t+1)(n_d+T)), quantized to micro-nats;
    the (p-q) factor is applied as ONE double multiply-divide of exact
    integer products and rounded back to BIGINT before the sum — nothing
    float is ever summed. (The integer products pass through doubles, so
    beyond 2^53 ≈ 9e15 the last bits round — deterministically and
    identically in both engines, which evaluate the same IEEE tree.)

    Scale: one map-side-combinable daily rollup, then O(days × types)
    arithmetic with the global totals riding 1-row broadcasts."""
    dense = _daily_grid(spark, sf_dir).drop("d0")
    day_tot = dense.groupBy("day").agg(F.sum("c").alias("n_d"))
    type_tot = dense.groupBy("event_type").agg(F.sum("c").alias("c_t"))
    totals = dense.groupBy().agg(
        F.sum("c").alias("n_all"),
        F.countDistinct("event_type").alias("t_types"),
    )
    cells = (
        dense.join(day_tot, "day")
        .join(F.broadcast(type_tot), "event_type")
        .crossJoin(F.broadcast(totals))
        .select(
            "day",
            "n_d",
            "t_types",
            F.expr(
                "CAST(ROUND(ln(CAST((c + 1) * (n_all + t_types) AS DOUBLE)"
                " / CAST((c_t + 1) * (n_d + t_types) AS DOUBLE)) * 1e6) AS BIGINT)"
            ).alias("lr_micro"),
            F.expr(
                "(c + 1) * (n_all + t_types) - (c_t + 1) * (n_d + t_types)"
            ).alias("pq_num"),
            F.expr("(n_d + t_types) * (n_all + t_types)").alias("pq_den"),
        )
        .select(
            "day",
            "n_d",
            "t_types",
            F.expr(
                "CAST(ROUND(CAST(lr_micro AS DOUBLE)"
                " * (CAST(pq_num AS DOUBLE) / CAST(pq_den AS DOUBLE))) AS BIGINT)"
            ).alias("term_micro"),
        )
    )
    return cells.groupBy("day").agg(
        F.first("n_d").alias("n_day"),
        F.first("t_types").alias("t_types"),
        F.sum("term_micro").alias("psi_micro"),
        (F.sum("term_micro") > PSI_FLAG_MICRO).alias("drift_flag"),
    )


ORACLE_PSI = f"""
WITH psi_daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, CAST(COUNT(*) AS BIGINT) AS c
  FROM events_ms GROUP BY 1, 2
), psi_span AS (
  SELECT date_trunc('day', MIN(ts)) AS d0, date_trunc('day', MAX(ts)) AS d1
  FROM events_ms
), psi_days AS (
  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM psi_span
), psi_types AS (
  SELECT DISTINCT event_type FROM events_ms
), psi_dense AS (
  SELECT ty.event_type, dy.day, COALESCE(dl.c, 0) AS c
  FROM psi_days dy CROSS JOIN psi_types ty
  LEFT JOIN psi_daily dl ON dl.event_type = ty.event_type AND dl.day = dy.day
), psi_day_tot AS (
  SELECT day, CAST(SUM(c) AS BIGINT) AS n_d FROM psi_dense GROUP BY 1
), psi_type_tot AS (
  SELECT event_type, CAST(SUM(c) AS BIGINT) AS c_t FROM psi_dense GROUP BY 1
), psi_totals AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_all,
         CAST(COUNT(DISTINCT event_type) AS BIGINT) AS t_types
  FROM psi_dense
), psi_cells AS (
  SELECT d.day, dt.n_d, tt.t_types,
         CAST(ROUND(
           CAST(ROUND(ln(CAST((d.c + 1) * (tt.n_all + tt.t_types) AS DOUBLE)
                / CAST((y.c_t + 1) * (dt.n_d + tt.t_types) AS DOUBLE)) * 1e6)
                AS BIGINT)
           * (CAST((d.c + 1) * (tt.n_all + tt.t_types)
                   - (y.c_t + 1) * (dt.n_d + tt.t_types) AS DOUBLE)
              / CAST((dt.n_d + tt.t_types) * (tt.n_all + tt.t_types) AS DOUBLE))
         ) AS BIGINT) AS term_micro
  FROM psi_dense d
  JOIN psi_day_tot dt ON dt.day = d.day
  JOIN psi_type_tot y ON y.event_type = d.event_type
  CROSS JOIN psi_totals tt
)
SELECT day,
       MIN(n_d) AS n_day,
       MIN(t_types) AS t_types,
       CAST(SUM(term_micro) AS BIGINT) AS psi_micro,
       SUM(term_micro) > {PSI_FLAG_MICRO} AS drift_flag
FROM psi_cells
GROUP BY day
"""


def events_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal 90% prediction interval for daily event volume per
    type: fit an OLS trend on the even-index (calibration) days of the
    zero-filled grid, take the half-width as the ceil(0.9·(n_cal+1))-th
    smallest absolute calibration residual — the finite-sample coverage
    guarantee needs no distributional assumption — then measure the
    empirical coverage of that interval on the held-out odd-index days.
    A healthy pipeline shows coverage_milli near 900; a collapse below it
    flags trend breaks the OLS can't follow.

    Determinism: the OLS fit stays a pair of exact integer (numerator,
    denominator) forms; residuals rank via the integer-scaled
    R = k·den·y - k·a_num·x - Sy·den + a_num·Sx (positive multiple k·den
    of the true residual), so the order statistic and every coverage
    comparison are exact BIGINT; tie-break on x. Only the reported
    half-width divides, once, into a double.

    Scale: after the daily rollup everything is O(days) per type; the
    rank window partitions by event_type (never unpartitioned), and the
    day-parity split is deterministic with no RNG."""
    dense = _daily_grid(spark, sf_dir).withColumn(
        "x", F.datediff(F.col("day"), F.col("d0")).cast("bigint")
    )
    calib = dense.filter(F.col("x") % 2 == 0)
    test = dense.filter(F.col("x") % 2 == 1)
    fit = calib.groupBy("event_type").agg(
        F.count("*").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("c").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("c")).alias("sxy"),
    ).select(
        "event_type",
        "k",
        "sx",
        "sy",
        F.expr("k * sxy - sx * sy").alias("a_num"),
        F.expr("k * sxx - sx * sx").alias("den"),
    )

    def resid(df: DataFrame) -> DataFrame:
        return df.join(F.broadcast(fit), "event_type").select(
            "event_type",
            "x",
            "k",
            "den",
            F.expr(
                "abs(k * den * c - k * a_num * x - sy * den + a_num * sx)"
            ).alias("abs_r"),
        )

    cal_r = resid(calib)
    rank_w = W.partitionBy("event_type").orderBy("abs_r", "x")
    q = (
        cal_r.withColumn("rn", F.row_number().over(rank_w))
        .withColumn("n_cal", F.count("*").over(W.partitionBy("event_type")))
        .withColumn(
            "k_conf",
            F.expr(
                f"least((9 * (n_cal + 1) + {CONF_ALPHA_DEN - 1}) div {CONF_ALPHA_DEN},"
                " n_cal)"
            ),
        )
        .filter(F.col("rn") == F.col("k_conf"))
        .select(
            "event_type",
            "n_cal",
            "k_conf",
            F.col("abs_r").alias("q_r"),
            F.round(
                F.col("abs_r").cast("double")
                / (F.col("k") * F.col("den")).cast("double"),
                4,
            ).alias("halfwidth"),
        )
    )
    cov = (
        resid(test)
        .join(F.broadcast(q.select("event_type", "q_r")), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_test"),
            F.sum((F.col("abs_r") <= F.col("q_r")).cast("bigint")).alias("n_covered"),
        )
    )
    return q.drop("q_r").join(cov, "event_type").select(
        "event_type",
        "n_cal",
        "n_test",
        "k_conf",
        "halfwidth",
        "n_covered",
        F.expr("CAST((1000 * n_covered) div n_test AS BIGINT)").alias(
            "coverage_milli"
        ),
    )


ORACLE_CONFORMAL = f"""
WITH cf_daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, CAST(COUNT(*) AS BIGINT) AS c
  FROM events_ms GROUP BY 1, 2
), cf_span AS (
  SELECT date_trunc('day', MIN(ts)) AS d0, date_trunc('day', MAX(ts)) AS d1
  FROM events_ms
), cf_days AS (
  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day, d0 FROM cf_span
), cf_types AS (
  SELECT DISTINCT event_type FROM events_ms
), cf_dense AS (
  SELECT ty.event_type, CAST(date_diff('day', dy.d0, dy.day) AS BIGINT) AS x,
         COALESCE(dl.c, 0) AS c
  FROM cf_days dy CROSS JOIN cf_types ty
  LEFT JOIN cf_daily dl ON dl.event_type = ty.event_type AND dl.day = dy.day
), cf_fit AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(c) AS BIGINT) AS sy,
         CAST(COUNT(*) AS BIGINT) * CAST(SUM(x * c) AS BIGINT)
           - CAST(SUM(x) AS BIGINT) * CAST(SUM(c) AS BIGINT) AS a_num,
         CAST(COUNT(*) AS BIGINT) * CAST(SUM(x * x) AS BIGINT)
           - CAST(SUM(x) AS BIGINT) * CAST(SUM(x) AS BIGINT) AS den
  FROM cf_dense WHERE x % 2 = 0 GROUP BY 1
), cf_cal_r AS (
  SELECT d.event_type, d.x, f.k, f.den,
         abs(f.k * f.den * d.c - f.k * f.a_num * d.x - f.sy * f.den
             + f.a_num * f.sx) AS abs_r
  FROM cf_dense d JOIN cf_fit f USING (event_type)
  WHERE d.x % 2 = 0
), cf_q AS (
  SELECT event_type, n_cal, k_conf, abs_r AS q_r,
         ROUND(CAST(abs_r AS DOUBLE) / CAST(k * den AS DOUBLE), 4) AS halfwidth
  FROM (
    SELECT event_type, x, k, den, abs_r,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY abs_r, x) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n_cal,
           LEAST((9 * (COUNT(*) OVER (PARTITION BY event_type) + 1)
                  + {CONF_ALPHA_DEN - 1}) // {CONF_ALPHA_DEN},
                 COUNT(*) OVER (PARTITION BY event_type)) AS k_conf
    FROM cf_cal_r
  )
  WHERE rn = k_conf
), cf_test_r AS (
  SELECT d.event_type,
         abs(f.k * f.den * d.c - f.k * f.a_num * d.x - f.sy * f.den
             + f.a_num * f.sx) AS abs_r
  FROM cf_dense d JOIN cf_fit f USING (event_type)
  WHERE d.x % 2 = 1
), cf_cov AS (
  SELECT r.event_type, CAST(COUNT(*) AS BIGINT) AS n_test,
         CAST(SUM(CASE WHEN r.abs_r <= q.q_r THEN 1 ELSE 0 END) AS BIGINT)
           AS n_covered
  FROM cf_test_r r JOIN cf_q q USING (event_type)
  GROUP BY 1
)
SELECT q.event_type, CAST(q.n_cal AS BIGINT) AS n_cal, c.n_test,
       CAST(q.k_conf AS BIGINT) AS k_conf, q.halfwidth, c.n_covered,
       CAST((1000 * c.n_covered) // c.n_test AS BIGINT) AS coverage_milli
FROM cf_q q JOIN cf_cov c USING (event_type)
"""


QUERIES: dict[str, tuple] = {
    "events_psi_drift": (events_psi_drift, ORACLE_PSI),
    "events_conformal_interval": (events_conformal_interval, ORACLE_CONFORMAL),
}
