"""Incremental aggregate maintenance from snapshot diffs (CDC algebra).

Classic incremental-view-maintenance: given an aggregate over an old
snapshot and the row-level changes to a new snapshot, produce the new
aggregate WITHOUT re-aggregating the unchanged bulk — signed delta
contributions (+1 for added/new-side-of-changed, -1 for
removed/old-side-of-changed) are aggregated over the touched keys only and
merged into the old aggregate with one outer join.

The reference mutates Mongo documents in place with no derived-state
maintenance (src/kalytical/core/data_provider.py:34-58); this is the
table-format-era generalization of that mutation family over two
snapshot DataFrames.

Scale notes:
* The diff is a keyed full-outer join of two snapshot scans — no collect,
  and the value columns ride the same shuffle as the fingerprint.
* The delta aggregate touches only changed rows; the merge join is
  |groups| x |touched groups| — at 100 TB the unchanged bulk is never
  re-shuffled, which is the entire point of maintenance vs recompute.
* Sums stay in exact DECIMAL until the final double cast, so the
  incrementally-maintained sum is bit-identical to a from-scratch decimal
  sum (decimal addition is associative/exact; see common.py conventions).

The oracle for ``orders_incremental_agg`` is the FULL RECOMPUTE over the
new snapshot — the driver gate therefore proves the maintenance algebra
exactly reproduces recomputation, including added / removed / changed rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import DEC, t

# Deterministic synthetic-snapshot knobs: the "old" snapshot is derived
# from orders by (a) dropping keys % 17 == 0  -> those rows are ADDED in
# the new snapshot, (b) bumping o_totalprice by +100 on keys % 13 == 0
# -> CHANGED rows, and (c) injecting phantom rows (negated keys, % 19 == 0)
# -> REMOVED rows. All three CDC change types are exercised non-vacuously
# at every scale factor.
_ADD_MOD = 17
_CHG_MOD = 13
_RM_MOD = 19
_CHG_BUMP = 100


def _snapshots(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    new = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice"
    )
    key = F.col("o_orderkey")
    old = (
        new.filter(key % _ADD_MOD != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                key % _CHG_MOD == 0, F.col("o_totalprice") + _CHG_BUMP
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            new.filter(key % _RM_MOD == 0).withColumn("o_orderkey", -key)
        )
    )
    return old, new


def diff_snapshots(old: DataFrame, new: DataFrame, key: str) -> DataFrame:
    """Row-level CDC between two snapshot DataFrames: one row per changed
    key carrying both sides' payloads and change_type in ('added',
    'removed', 'changed'). Unchanged keys are dropped by a whole-row
    fingerprint comparison."""
    cols = sorted(c for c in old.columns if c != key)
    fp = F.md5(F.to_json(F.struct(*[F.col(c) for c in cols])))
    o = old.select(
        F.col(key).alias("k"),
        fp.alias("old_fp"),
        F.struct(*cols).alias("old_row"),
    )
    n = new.select(
        F.col(key).alias("k"),
        fp.alias("new_fp"),
        F.struct(*cols).alias("new_row"),
    )
    joined = o.join(n, "k", "full_outer")
    change = (
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("new_fp").isNull(), F.lit("removed"))
        .when(F.col("old_fp") != F.col("new_fp"), F.lit("changed"))
    )
    return joined.select(
        F.col("k").alias(key), change.alias("change_type"), "old_row", "new_row"
    ).filter(F.col("change_type").isNotNull())


def maintain_sum_count(
    old_agg: DataFrame, changes: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """Merge signed delta contributions from ``changes`` (diff_snapshots
    output) into ``old_agg`` (columns: group_cols + n + sum_dec). Returns
    the maintained aggregate with the same schema. Exact: counts are
    integer, sums are DECIMAL end-to-end."""
    neg = changes.filter(
        F.col("change_type").isin("removed", "changed")
    ).select(
        *[F.col(f"old_row.{g}").alias(g) for g in group_cols],
        F.lit(-1).alias("sign"),
        F.col(f"old_row.{value_col}").alias("v"),
    )
    pos = changes.filter(
        F.col("change_type").isin("added", "changed")
    ).select(
        *[F.col(f"new_row.{g}").alias(g) for g in group_cols],
        F.lit(1).alias("sign"),
        F.col(f"new_row.{value_col}").alias("v"),
    )
    delta = (
        neg.unionByName(pos)
        .groupBy(*group_cols)
        .agg(
            F.sum("sign").cast("bigint").alias("d_n"),
            F.sum(F.col("sign") * F.col("v").cast(DEC)).alias("d_sum"),
        )
    )
    merged = old_agg.join(delta, group_cols, "full_outer").select(
        *group_cols,
        (
            F.coalesce(F.col("n"), F.lit(0))
            + F.coalesce(F.col("d_n"), F.lit(0))
        )
        .cast("bigint")
        .alias("n"),
        (
            F.coalesce(F.col("sum_dec"), F.lit(0).cast(DEC))
            + F.coalesce(F.col("d_sum"), F.lit(0).cast(DEC))
        ).alias("sum_dec"),
    )
    return merged.filter(F.col("n") > 0)


def orders_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain a per-(status, month) count/sum aggregate of orders across
    a synthetic snapshot transition (added + removed + changed rows),
    incrementally — old aggregate plus signed deltas over ONLY the touched
    keys. The oracle is the full recompute on the new snapshot, so the
    driver gate proves maintenance == recomputation bit-exactly."""
    old, new = _snapshots(spark, sf_dir)
    grp = lambda df: df.withColumn(  # noqa: E731
        "order_month", F.date_trunc("month", "o_orderdate").cast("date")
    )
    old_agg = (
        grp(old)
        .groupBy("o_orderstatus", "order_month")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col("o_totalprice").cast(DEC)).alias("sum_dec"),
        )
    )
    changes = diff_snapshots(grp(old), grp(new), "o_orderkey")
    maintained = maintain_sum_count(
        old_agg, changes, ["o_orderstatus", "order_month"], "o_totalprice"
    )
    return maintained.select(
        "o_orderstatus",
        "order_month",
        "n",
        F.col("sum_dec").cast("double").alias("sum_totalprice"),
    )


ORACLE_INCREMENTAL_AGG = """
SELECT o_orderstatus,
       CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE)
         AS sum_totalprice
FROM orders
GROUP BY 1, 2
"""


def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC summary between the synthetic snapshots: per change_type row
    count and decimal-exact absolute price churn. The oracle rebuilds the
    same old snapshot in SQL and full-outer-joins — verifying the engine's
    fingerprint diff against a literal relational diff."""
    old, new = _snapshots(spark, sf_dir)
    changes = diff_snapshots(old, new, "o_orderkey")
    churn = F.abs(
        F.coalesce(F.col("new_row.o_totalprice").cast(DEC), F.lit(0).cast(DEC))
        - F.coalesce(F.col("old_row.o_totalprice").cast(DEC), F.lit(0).cast(DEC))
    )
    return (
        changes.groupBy("change_type")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(churn).cast("double").alias("price_churn"),
        )
    )


ORACLE_SNAPSHOT_DIFF = f"""
WITH new_snap AS (
  SELECT o_orderkey, o_orderstatus, o_orderdate, o_totalprice FROM orders
), old_snap AS (
  SELECT o_orderkey, o_orderstatus, o_orderdate,
         CASE WHEN o_orderkey % {_CHG_MOD} = 0
              THEN o_totalprice + {_CHG_BUMP} ELSE o_totalprice END
           AS o_totalprice
  FROM new_snap WHERE o_orderkey % {_ADD_MOD} != 0
  UNION ALL
  SELECT -o_orderkey, o_orderstatus, o_orderdate, o_totalprice
  FROM new_snap WHERE o_orderkey % {_RM_MOD} = 0
), diffed AS (
  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k,
         CASE WHEN o.o_orderkey IS NULL THEN 'added'
              WHEN n.o_orderkey IS NULL THEN 'removed'
              WHEN o.o_orderstatus != n.o_orderstatus
                OR o.o_orderdate != n.o_orderdate
                OR o.o_totalprice != n.o_totalprice THEN 'changed'
         END AS change_type,
         o.o_totalprice AS old_price, n.o_totalprice AS new_price
  FROM old_snap o FULL OUTER JOIN new_snap n ON o.o_orderkey = n.o_orderkey
)
SELECT change_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(ABS(COALESCE(CAST(new_price AS DECIMAL(12,4)),
                             CAST(0 AS DECIMAL(12,4)))
                  - COALESCE(CAST(old_price AS DECIMAL(12,4)),
                             CAST(0 AS DECIMAL(12,4))))) AS DOUBLE)
         AS price_churn
FROM diffed
WHERE change_type IS NOT NULL
GROUP BY 1
"""


QUERIES: dict[str, tuple] = {
    "orders_incremental_agg": (orders_incremental_agg, ORACLE_INCREMENTAL_AGG),
    "orders_snapshot_diff": (orders_snapshot_diff, ORACLE_SNAPSHOT_DIFF),
}
