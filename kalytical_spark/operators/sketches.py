"""Mergeable cardinality sketches and graph-pattern mining in exact integer
arithmetic: HyperLogLog register tables, an integer-scaled raw-HLL
estimator, a KMV (k-minimum-values) distinct sketch, and degree-bounded
triangle counting on the part co-purchase graph.

Approximate-distinct sketches are the workhorse of 100 TB analytics — a
``COUNT(DISTINCT ...)`` over a petabyte shuffles every key, while an HLL is
a 64-register mergeable state per group that composes with partial
aggregation (map-side combine) and never shuffles raw keys. Spark ships
``approx_count_distinct`` (a JVM HLL++), but its sketch internals are
opaque and engine-specific; these operators instead build the sketch from
``md5`` bit-arithmetic so the register table itself is a first-class,
cross-engine-reproducible dataset: the same rows on Spark, on DuckDB, and
on any re-run — the property every other operator in this engine holds.

The reference has no sketch surface (its data plane is Mongo lookups,
src/kalytical/core/data_provider.py); this family is part of the
LLM-pipeline extension mandated by the build brief (corpus-scale distinct
counting: unique users, unique documents, unique n-grams).

Exactness conventions:
* Hash bit extraction is hex-nibble arithmetic on ``md5`` output:
  nibble value = ``position(c IN '0123456789abcdef') - 1`` — ANSI,
  identical in Spark SQL and DuckDB (simhash.py uses the strpos spelling,
  which is DuckDB-only; position(IN) parses in both).
* Leading-zero runs use ANSI ``trim(LEADING '0' FROM s)`` — both engines.
* No ``pow``/``**`` anywhere: DuckDB's ``**`` returns DOUBLE and silently
  rounds products beyond 2^53 (the events_rate_anomaly advice trap).
  Powers of two are Python-precomputed literals or bigint shifts
  (``shiftleft`` in Spark, ``<<`` in the DuckDB oracle), and division is
  ``div`` (Spark) / ``//`` (DuckDB) — bigint end-to-end:
  est_milli = 709 * 64^2 * 2^40 // S  with  S = sum over all 64 registers
  of 2^(40 - min(r, 40))  stays under 2^63 (3.2e18).

Scale notes:
* Register construction is one groupBy over (group, bucket) — map-side
  combinable MAX, no raw-key shuffle beyond the 64-row-per-group state.
* KMV is a per-group top-k window (rank cutoff bounds the partition sort).
* Triangle counting uses the Suri-Vassilvitskii orientation: every edge
  points low-(degree, id) -> high-(degree, id), so each wedge pivot fans
  out at most O(sqrt(m)) and the join never explodes on hub nodes. The
  co-purchase edge list itself is support-thresholded (pairs sharing >= 2
  orders), the classic market-basket prune, and per-order fan-out is
  bounded by the order's line count (<= 7 in TPC-H shape data). The
  DuckDB twin counts the same triangles from the *lexicographic*
  orientation — the census is orientation-invariant, so the match also
  proves the degree-ordered rewrite changes the plan, not the answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .common import app_key, session_memo, t

# --- HyperLogLog: p = 6 bits -> m = 64 registers --------------------------

_HLL_M = 64
_ALPHA_MILLI = 709  # alpha_64 = 0.709 (Flajolet et al. 2007), milli-scaled
_RHO_CAP = 40  # 2^(40 - rho) stays a positive bigint; P(rho > 40) ~ 2^-40
_POW2_CAP = 1 << _RHO_CAP  # 1099511627776
# full numerator of the raw estimator, one precomputed bigint literal
_EST_NUM = _ALPHA_MILLI * _HLL_M * _HLL_M * _POW2_CAP  # ~3.19e18 < 2^63


def _nib(s: str, i: int) -> str:
    """Value of the i-th (1-indexed) hex char of expression ``s`` — ANSI
    position(IN), parses identically in Spark SQL and DuckDB."""
    return f"(position(substring({s}, {i}, 1) IN '0123456789abcdef') - 1)"


def _hll_bucket_sql(h: str) -> str:
    """First 6 bits of md5 hex ``h``: nibble1 * 4 + top-2-bits(nibble2).
    The top-2-bits step is a CASE ladder — no integer-division operator is
    dialect-shared (Spark ``div`` vs DuckDB ``//``)."""
    n2 = _nib(h, 2)
    return (
        f"CAST({_nib(h, 1)} * 4 + CASE WHEN {n2} >= 12 THEN 3 "
        f"WHEN {n2} >= 8 THEN 2 WHEN {n2} >= 4 THEN 1 ELSE 0 END AS INT)"
    )


def _hll_rho_sql(h: str) -> str:
    """1-indexed position of the first set bit of the 120 bits after the
    bucket nibbles: strip leading zero nibbles with ANSI trim, then a CASE
    ladder on the first surviving nibble. All-zero tail (P ~ 2^-120) maps
    to 121, the position past the last bit."""
    tail = f"substring({h}, 3, 30)"
    stripped = f"trim(LEADING '0' FROM {tail})"
    v = _nib(f"{stripped}", 1)
    return (
        f"CAST(CASE WHEN {stripped} = '' THEN 121 "
        f"ELSE 4 * (30 - length({stripped})) + "
        f"CASE WHEN {v} >= 8 THEN 1 WHEN {v} >= 4 THEN 2 "
        f"WHEN {v} >= 2 THEN 3 ELSE 4 END END AS INT)"
    )


_H_USER = "md5('u:' || CAST(user_id AS STRING))"


def hll_registers_for(events: DataFrame) -> DataFrame:
    """(event_type, bucket, r) registers of any (event_type, user_id)
    frame — the ONE definition of the register aggregation, shared by the
    register-table queries below."""
    return (
        events.selectExpr(
            "event_type",
            f"{_hll_bucket_sql(_H_USER)} AS bucket",
            f"{_hll_rho_sql(_H_USER)} AS rho",
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").cast("int").alias("r"))
    )


def _hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hll_registers_for(
        t(spark, sf_dir, "events_ms").select("event_type", "user_id")
    )


def sketch_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL register table for distinct-user counting per event_type:
    (event_type, bucket, r) with r = max rho over the bucket's keys. This
    IS the sketch — 64 small ints per group, mergeable with MAX — and it
    is byte-identical across engines because every bit comes from md5
    nibble arithmetic, not an engine-private hash."""
    return _hll_registers(spark, sf_dir)


_H_USER_DUCK = "md5('u:' || CAST(user_id AS VARCHAR))"

ORACLE_HLL_REGISTERS = f"""
SELECT event_type, bucket, CAST(MAX(rho) AS INTEGER) AS r
FROM (
  SELECT event_type,
         {_hll_bucket_sql(_H_USER_DUCK)} AS bucket,
         {_hll_rho_sql(_H_USER_DUCK)} AS rho
  FROM events_ms
)
GROUP BY 1, 2
"""


def sketch_hll_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw HLL estimate vs exact distinct per event_type, all bigint:
    est_milli = 709 * m^2 * 2^40 // S where S sums 2^(40 - min(r, 40))
    over all m registers (absent buckets contribute r = 0, i.e. 2^40
    each). Exact distinct is computed alongside so the row carries its
    own ground truth — the audit a pipeline stage needs before trusting
    the sketch on unsampled data."""
    regs = _hll_registers(spark, sf_dir)
    sketch = regs.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_buckets_hit"),
        F.sum(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), {_RHO_CAP} - LEAST(r, {_RHO_CAP}))"
            )
        )
        .cast("bigint")
        .alias("s_present"),
    )
    exact = (
        t(spark, sf_dir, "events_ms")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_exact"))
    )
    return (
        sketch.withColumn(
            "s_total",
            F.expr(
                f"s_present + ({_HLL_M} - n_buckets_hit) * CAST({_POW2_CAP} AS BIGINT)"
            ),
        )
        .join(exact, "event_type")
        .select(
            "event_type",
            "n_buckets_hit",
            F.expr(f"CAST({_EST_NUM} AS BIGINT) div s_total").alias("est_milli"),
            "n_exact",
        )
    )


ORACLE_HLL_ESTIMATE = f"""
WITH regs AS (
  SELECT event_type,
         {_hll_bucket_sql(_H_USER_DUCK)} AS bucket,
         MAX({_hll_rho_sql(_H_USER_DUCK)}) AS r
  FROM events_ms
  GROUP BY 1, 2
), sk AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_buckets_hit,
         CAST(SUM(CAST(1 AS BIGINT) << ({_RHO_CAP} - LEAST(r, {_RHO_CAP})))
              AS BIGINT) AS s_present
  FROM regs GROUP BY 1
), ex AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events_ms GROUP BY 1
)
SELECT sk.event_type, sk.n_buckets_hit,
       CAST(CAST({_EST_NUM} AS BIGINT)
            // (sk.s_present + ({_HLL_M} - sk.n_buckets_hit)
                * CAST({_POW2_CAP} AS BIGINT)) AS BIGINT) AS est_milli,
       ex.n_exact
FROM sk JOIN ex ON sk.event_type = ex.event_type
"""


# --- KMV: k-minimum-values distinct sketch --------------------------------

_KMV_K = 64
_KMV_HEX = 12  # first 48 md5 bits as the hash value (fits bigint)
_KMV_SPACE = 1 << (_KMV_HEX * 4)  # 2^48


def _kv_int_sql(h: str) -> str:
    """48-bit bigint value of the 12-hex-char expression ``h`` as a nibble
    polynomial — no hex-parse builtin is dialect-shared."""
    return " + ".join(
        f"{_nib(h, i + 1)} * CAST({16 ** (_KMV_HEX - 1 - i)} AS BIGINT)"
        for i in range(_KMV_HEX)
    )


def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct sketch over event_ids per event_type: keep the k
    smallest md5 values; est = (k-1) * 2^48 // kth_min. The k-sample
    doubles as a deterministic mergeable theta-style sketch (union = min-k
    of the union of samples). Groups with fewer than k keys report the
    exact count (the sketch IS the key set there). Keys are DISTINCTed
    first — a KMV sketches a SET, and an at-least-once ingest could carry
    duplicate event_ids that would otherwise inflate n_exact and stack
    identical hashes under the kth-min."""
    ev = (
        t(spark, sf_dir, "events_ms").select("event_type", "event_id").distinct()
    )
    h = F.substring(
        F.md5(F.concat(F.lit("e:"), F.col("event_id").cast("string"))),
        1,
        _KMV_HEX,
    )
    w = W.partitionBy("event_type").orderBy(F.col("h").asc(), F.col("event_id").asc())
    kth = (
        ev.withColumn("h", h)
        .withColumn("rk", F.row_number().over(w))
        .withColumn("n_keys", F.count("*").over(W.partitionBy("event_type")))
        .filter(
            (F.col("rk") == _KMV_K)
            | ((F.col("n_keys") < _KMV_K) & (F.col("rk") == F.col("n_keys")))
        )
    )
    return kth.select(
        "event_type",
        F.col("h").alias("kth_hex"),
        F.col("n_keys").cast("bigint").alias("n_exact"),
        F.expr(
            f"CAST(CASE WHEN n_keys < {_KMV_K} THEN n_keys "
            f"ELSE CAST({(_KMV_K - 1) * _KMV_SPACE} AS BIGINT) div ({_kv_int_sql('h')}) "
            f"END AS BIGINT)"
        ).alias("est"),
    )


ORACLE_KMV = f"""
WITH hashed AS (
  SELECT event_type,
         substring(md5('e:' || CAST(event_id AS VARCHAR)), 1, {_KMV_HEX}) AS h,
         event_id,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY substring(md5('e:' || CAST(event_id AS VARCHAR)), 1, {_KMV_HEX}),
                    event_id
         ) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n_keys
  FROM (SELECT DISTINCT event_type, event_id FROM events_ms)
)
SELECT event_type, h AS kth_hex, CAST(n_keys AS BIGINT) AS n_exact,
       CAST(CASE WHEN n_keys < {_KMV_K} THEN n_keys
            ELSE CAST({(_KMV_K - 1) * _KMV_SPACE} AS BIGINT) // ({_kv_int_sql('h')})
            END AS BIGINT) AS est
FROM hashed
WHERE rk = {_KMV_K} OR (n_keys < {_KMV_K} AND rk = n_keys)
"""


# --- Triangle counting on the part co-purchase graph ----------------------

_TRI_SUPPORT = 2  # market-basket prune: parts must share >= 2 orders


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-shuffle pair generation: instead of self-joining lineitem on
    l_orderkey (two shuffled scans), group each order's parts into a
    sorted array and expand the C(n,2) pairs JVM-side with higher-order
    array functions — per-order fan-out is bounded by the line count, and
    the only shuffles are the orderkey groupBy and the (u,v) support
    rollup. The DuckDB twin keeps the textbook row self-join, so the
    oracle match also proves the array rewrite pair-exact. Market-basket
    support is COUNT(DISTINCT order): parts are deduped per order
    (collect_set) before pair expansion, so an order listing the same
    part on two lineitems contributes one co-occurrence, not two — a
    single order can never satisfy the minimum-orders support threshold
    by itself (the twin dedups with DISTINCT rows per order)."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS u, y AS v))))"
                )
            ).alias("p")
        )
        .select("p.u", "p.v")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= _TRI_SUPPORT)
        .select("u", "v")
    )


# Session memo of the support-thresholded co-purchase edge list — the
# shared graph artifact under FIVE queries (triangle census, clustering
# coefficient, k-core, label propagation, link prediction), each of which
# previously re-ran the lineitem group/expand/support mine per invocation
# (guide §2.4: the repeated subtree is a removable pass; same pattern as
# dedup.shingle_table). In production the co-purchase graph is a stored
# artifact refreshed on its own cadence.
_COPURCHASE_CACHE: dict[tuple[str, str], DataFrame] = session_memo({})


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memo-cached `_copurchase_edges` (same rows, cached once per
    session+sf): the uncached builder stays the structural source of truth
    for plan audits."""
    memo_key = (app_key(spark), sf_dir)
    if memo_key not in _COPURCHASE_CACHE:
        edges = _copurchase_edges(spark, sf_dir).cache()
        edges.count()
        _COPURCHASE_CACHE[memo_key] = edges
    return _COPURCHASE_CACHE[memo_key]


def _degrees(und: DataFrame) -> DataFrame:
    return (
        und.select(F.col("u").alias("p"))
        .unionAll(und.select(F.col("v").alias("p")))
        .groupBy("p")
        .agg(F.count("*").alias("d"))
    )


def _oriented_triangles(und: DataFrame, deg: DataFrame) -> DataFrame:
    """Triangle enumeration with the Suri-Vassilvitskii orientation: every
    edge points low-(degree, id) -> high-(degree, id), so wedge fan-out
    per pivot is O(sqrt(m)) even on hub nodes; the closing-edge probe is
    an equi-join on the oriented list. Returns one (pa, pb, pc) row per
    triangle (corner order follows the orientation, which is fine — every
    consumer treats corners as a set)."""
    e = (
        und.join(deg.withColumnRenamed("p", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("p", "v").withColumnRenamed("d", "dv"), "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("e")
        )
        .select(F.col("e.s").alias("s"), F.col("e.t").alias("t"))
        # the oriented list feeds all THREE legs of the wedge join: pin it
        # so the orientation (2 joins + degree rollup) computes once and
        # the compiled tree carries one leaf instead of three copies of
        # the subtree (guide §3.3 — the r11 before-plan compiled 3 copies,
        # 1,455 operators for graph_clustering_coefficient)
        .localCheckpoint(eager=False)
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    return (
        e1.join(e2, F.col("e1.t") == F.col("e2.s"))
        .join(
            e3,
            (F.col("e3.s") == F.col("e1.s")) & (F.col("e3.t") == F.col("e2.t")),
        )
        .select(
            F.col("e1.s").alias("pa"),
            F.col("e1.t").alias("pb"),
            F.col("e2.t").alias("pc"),
        )
    )


def _corner_counts(tri: DataFrame) -> DataFrame:
    return (
        tri.select(F.col("pa").alias("p"))
        .unionAll(tri.select(F.col("pb").alias("p")))
        .unionAll(tri.select(F.col("pc").alias("p")))
        .groupBy("p")
        .agg(F.count("*").cast("bigint").alias("tri_n"))
    )


def graph_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the support-thresholded part co-purchase graph
    (parts sharing >= 2 orders), the pattern-mining primitive behind
    clustering-coefficient / community features. Output: per-brand
    triangle-corner counts (each triangle credits its 3 corner parts)."""
    # the support-thresholded edge list is ~0.1% of the pair volume and is
    # read 5x below (degree rollup + 2 orientation joins + 3 wedge-join
    # legs); truncate its lineage so the co-purchase mine runs once —
    # executor-resident, nothing materializes on the driver
    und = copurchase_edges(spark, sf_dir)
    tri = _oriented_triangles(und, _degrees(und))
    corners = _corner_counts(tri)
    part = t(spark, sf_dir, "part").select(F.col("p_partkey").alias("p"), "p_brand")
    return (
        corners.join(part, "p")
        .groupBy("p_brand")
        .agg(
            F.sum("tri_n").cast("bigint").alias("n_corners"),
            F.count("*").cast("bigint").alias("n_parts"),
        )
    )


ORACLE_TRIANGLES = f"""
WITH und AS (
  SELECT LEAST(a.l_partkey, b.l_partkey) AS u,
         GREATEST(a.l_partkey, b.l_partkey) AS v
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(DISTINCT a.l_orderkey) >= {_TRI_SUPPORT}
), tri AS (
  SELECT e1.u AS pa, e1.v AS pb, e2.v AS pc
  FROM und e1
  JOIN und e2 ON e1.v = e2.u
  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
), corners AS (
  SELECT pa AS p FROM tri
  UNION ALL SELECT pb FROM tri
  UNION ALL SELECT pc FROM tri
)
SELECT pt.p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_corners,
       CAST(COUNT(DISTINCT c.p) AS BIGINT) AS n_parts
FROM corners c JOIN part pt ON c.p = pt.p_partkey
GROUP BY 1
"""


def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand local clustering coefficient rollup over the co-purchase
    graph: for each part with degree >= 2, cc_milli = 1000 * 2*tri(p) //
    (d*(d-1)) (integer milli-units — both engines floor identically, so
    the aggregate stays hash-exact). Per brand: parts considered, total
    triangles-at-corner, total wedges, and the summed cc_milli (callers
    divide by n_parts for the mean — kept as a sum to stay integral).
    Reuses the degree-ordered triangle census (_oriented_triangles);
    tri(p) is the corner count per part from the same wedge join."""
    und = copurchase_edges(spark, sf_dir)
    deg = _degrees(und)
    corners = _corner_counts(_oriented_triangles(und, deg))
    part = t(spark, sf_dir, "part").select(F.col("p_partkey").alias("p"), "p_brand")
    nodes = (
        deg.filter(F.col("d") >= 2)
        .join(corners, "p", "left")
        .na.fill({"tri_n": 0})
        .withColumn(
            "cc_milli",
            F.expr("CAST(1000 AS BIGINT) * 2 * tri_n div (d * (d - 1))"),
        )
    )
    return (
        nodes.join(part, "p")
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            F.sum("tri_n").cast("bigint").alias("total_corner_tris"),
            F.expr("CAST(SUM(d * (d - 1)) AS BIGINT)").alias("total_wedges_x2"),
            F.sum("cc_milli").cast("bigint").alias("sum_cc_milli"),
        )
    )


ORACLE_CLUSTERING = f"""
WITH und AS (
  SELECT LEAST(a.l_partkey, b.l_partkey) AS u,
         GREATEST(a.l_partkey, b.l_partkey) AS v
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(DISTINCT a.l_orderkey) >= {_TRI_SUPPORT}
), deg AS (
  SELECT p, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS p FROM und UNION ALL SELECT v FROM und)
  GROUP BY 1
), tri AS (
  SELECT e1.u AS pa, e1.v AS pb, e2.v AS pc
  FROM und e1
  JOIN und e2 ON e1.v = e2.u
  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
), corners AS (
  SELECT p, CAST(COUNT(*) AS BIGINT) AS tri_n
  FROM (SELECT pa AS p FROM tri UNION ALL SELECT pb FROM tri
        UNION ALL SELECT pc FROM tri)
  GROUP BY 1
), nodes AS (
  SELECT deg.p, deg.d, COALESCE(c.tri_n, 0) AS tri_n,
         CAST(1000 AS BIGINT) * 2 * COALESCE(c.tri_n, 0)
           // (deg.d * (deg.d - 1)) AS cc_milli
  FROM deg LEFT JOIN corners c ON deg.p = c.p
  WHERE deg.d >= 2
)
SELECT pt.p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(n.tri_n) AS BIGINT) AS total_corner_tris,
       CAST(SUM(n.d * (n.d - 1)) AS BIGINT) AS total_wedges_x2,
       CAST(SUM(n.cc_milli) AS BIGINT) AS sum_cc_milli
FROM nodes n JOIN part pt ON n.p = pt.p_partkey
GROUP BY 1
"""


# --- Count-min sketch: frequency estimation without per-key state ---------

_CMS_D = 4  # depth: independent hash rows
_CMS_W = 256  # width: counters per row (2 hex nibbles -> bucket)
_CMS_TOPK = 20  # probe set: exact heavy hitters to estimate


def _cms_bucket_sql(h: str) -> str:
    """8-bit bucket from the first 2 hex nibbles of md5 expression ``h``."""
    return f"CAST({_nib(h, 1)} * 16 + {_nib(h, 2)} AS INT)"


def _cms_hash(d_expr: str, key_expr: str, cast_str: str) -> str:
    return f"md5('cm' || CAST({d_expr} AS {cast_str}) || ':' || CAST({key_expr} AS {cast_str}))"


def _counters_from_per_user(per_user: DataFrame) -> DataFrame:
    """(d, bucket, counter) from an already-aggregated (user_id, cnt)
    frame — the shared tail of the counter build, so a caller that
    already holds per-user counts (the heavy-hitters query) never pays a
    second aggregation of the raw events."""
    h = _cms_hash("d", "user_id", "STRING")
    return (
        per_user.select(
            "user_id",
            "cnt",
            F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("d"),
        )
        .selectExpr("cnt", "d", f"{_cms_bucket_sql(h)} AS bucket")
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").cast("bigint").alias("counter"))
    )


def sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over per-user event frequencies, probed at the
    exact top-_CMS_TOPK heavy hitters: per user, the exact count, the CMS
    estimate (min over depth rows of the hashed counter), and the
    collision overcount. CMS never undercounts — ``overcount >= 0`` by
    construction — and the md5 bucket hashing is cross-engine
    deterministic, so the DuckDB twin recomputes the ENTIRE sketch and the
    estimates match value-exactly (no bounded-oracle trick needed).

    Scale: the sketch state is _CMS_D x _CMS_W counters total — constant,
    mergeable (counters add), map-side combinable — while exact per-key
    counting shuffles every key. The build pre-aggregates per user first
    (map-side combinable), so the D-way explode multiplies distinct users,
    not raw events. The probe joins TOPK x D rows against the D x W
    counter table — both tiny."""
    ev = t(spark, sf_dir, "events_ms")
    per_user = ev.groupBy("user_id").agg(F.count("*").alias("exact_n"))
    h = _cms_hash("d", "user_id", "STRING")
    # build from the per-user counts already in hand — one aggregation of
    # events_ms, not two
    cms = _counters_from_per_user(
        per_user.select("user_id", F.col("exact_n").alias("cnt"))
    )
    probes = (
        per_user.orderBy(F.desc("exact_n"), F.asc("user_id"))
        .limit(_CMS_TOPK)
        .select(
            "user_id",
            "exact_n",
            F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("d"),
        )
        .selectExpr("user_id", "exact_n", "d", f"{_cms_bucket_sql(h)} AS bucket")
    )
    return (
        probes.join(F.broadcast(cms), ["d", "bucket"])
        .groupBy("user_id")
        .agg(
            F.first("exact_n").cast("bigint").alias("exact_n"),
            F.min("counter").cast("bigint").alias("cms_est"),
        )
        .select(
            "user_id",
            "exact_n",
            "cms_est",
            (F.col("cms_est") - F.col("exact_n")).cast("bigint").alias("overcount"),
        )
    )


_CMS_H_ORACLE = _cms_hash("d", "user_id", "VARCHAR")

ORACLE_CMS = f"""
WITH per_user AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
  FROM events_ms GROUP BY 1
), depth_rows AS (
  SELECT user_id, exact_n, d,
         {_cms_bucket_sql(_CMS_H_ORACLE)} AS bucket
  FROM per_user, unnest(range(0, {_CMS_D})) AS u(d)
), cms AS (
  SELECT d, bucket, CAST(SUM(exact_n) AS BIGINT) AS counter
  FROM depth_rows GROUP BY 1, 2
), probes AS (
  SELECT user_id, exact_n, d, bucket
  FROM depth_rows
  WHERE user_id IN (
    SELECT user_id FROM per_user ORDER BY exact_n DESC, user_id LIMIT {_CMS_TOPK}
  )
)
SELECT p.user_id,
       CAST(MIN(p.exact_n) AS BIGINT) AS exact_n,
       CAST(MIN(c.counter) AS BIGINT) AS cms_est,
       CAST(MIN(c.counter) - MIN(p.exact_n) AS BIGINT) AS overcount
FROM probes p JOIN cms c ON p.d = c.d AND p.bucket = c.bucket
GROUP BY 1
"""


def sketch_hll_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL set algebra: union via element-wise MAX of two register tables
    (the merge that makes HLL distributed) and intersection via
    inclusion-exclusion on the integer estimates — |A ∩ B| ~ est(A) +
    est(B) - est(A ∪ B). Probed on two genuinely partial-overlap cohorts
    (high-value clickers vs high-value purchasers — every user has every
    event TYPE in this fixture, so type-based sets would be degenerate)
    with the exact intersection computed alongside as the anchor. Every quantity
    is the same md5-register integer arithmetic as sketch_hll_estimate,
    so the twin recomputes the full algebra value-exactly. (Inclusion-
    exclusion inherits both sketches' error — the audit row shows exactly
    how much; signed on purpose, small intersections can estimate
    negative.)"""
    ev = t(spark, sf_dir, "events_ms").select("event_type", "user_id", "value")
    cohorts = ev.filter(
        ((F.col("event_type") == "click") & (F.col("value") >= 150))
        | ((F.col("event_type") == "purchase") & (F.col("value") >= 150))
    )
    regs = hll_registers_for(cohorts)
    a = regs.filter(F.col("event_type") == "click").select("bucket", F.col("r").alias("r_a"))
    b = regs.filter(F.col("event_type") == "purchase").select("bucket", F.col("r").alias("r_b"))
    union_regs = (
        a.join(b, "bucket", "full_outer")
        .select(
            F.greatest(
                F.coalesce("r_a", F.lit(0)), F.coalesce("r_b", F.lit(0))
            ).alias("r")
        )
    )

    def _est(frame: DataFrame, rcol: str, out: str) -> DataFrame:
        """One-row integer HLL estimate of a register frame (absent
        buckets contribute rho = 0) — the sketch_hll_estimate formula."""
        return frame.agg(
            F.count("*").cast("bigint").alias("hit"),
            F.sum(
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), {_RHO_CAP} - LEAST({rcol}, {_RHO_CAP}))"
                )
            )
            .cast("bigint")
            .alias("s_present"),
        ).select(
            F.expr(
                f"CAST({_EST_NUM} AS BIGINT) div "
                f"(s_present + ({_HLL_M} - hit) * CAST({_POW2_CAP} AS BIGINT))"
            ).alias(out)
        )

    est_a = _est(a, "r_a", "est_a_milli")
    est_b = _est(b, "r_b", "est_b_milli")
    est_u = _est(union_regs, "r", "est_union_milli")
    users_a = (
        ev.filter((F.col("event_type") == "click") & (F.col("value") >= 150))
        .select("user_id")
        .distinct()
    )
    users_b = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") >= 150))
        .select("user_id")
        .distinct()
    )
    exact = (
        users_a.join(users_b, "user_id")
        .agg(F.count("*").cast("bigint").alias("exact_intersection"))
    )
    return (
        est_a.crossJoin(F.broadcast(est_b))
        .crossJoin(F.broadcast(est_u))
        .crossJoin(F.broadcast(exact))
        .select(
            "est_a_milli",
            "est_b_milli",
            "est_union_milli",
            (
                F.col("est_a_milli") + F.col("est_b_milli") - F.col("est_union_milli")
            )
            .cast("bigint")
            .alias("est_intersection_milli"),
            "exact_intersection",
        )
    )


ORACLE_HLL_SET_ALGEBRA = f"""
WITH regs AS (
  SELECT event_type,
         {_hll_bucket_sql(_H_USER_DUCK)} AS bucket,
         CAST(MAX({_hll_rho_sql(_H_USER_DUCK)}) AS INTEGER) AS r
  FROM events_ms
  WHERE (event_type = 'click' AND value >= 150)
     OR (event_type = 'purchase' AND value >= 150)
  GROUP BY 1, 2
), a AS (SELECT bucket, r AS r_a FROM regs WHERE event_type = 'click'),
b AS (SELECT bucket, r AS r_b FROM regs WHERE event_type = 'purchase'),
u AS (
  SELECT GREATEST(COALESCE(r_a, 0), COALESCE(r_b, 0)) AS r
  FROM a FULL OUTER JOIN b USING (bucket)
), est AS (
  SELECT
    (SELECT CAST({_EST_NUM} AS BIGINT)
            // (SUM(CAST(1 AS BIGINT) << ({_RHO_CAP} - LEAST(r_a, {_RHO_CAP})))
               + ({_HLL_M} - COUNT(*)) * CAST({_POW2_CAP} AS BIGINT))
     FROM a) AS est_a_milli,
    (SELECT CAST({_EST_NUM} AS BIGINT)
            // (SUM(CAST(1 AS BIGINT) << ({_RHO_CAP} - LEAST(r_b, {_RHO_CAP})))
               + ({_HLL_M} - COUNT(*)) * CAST({_POW2_CAP} AS BIGINT))
     FROM b) AS est_b_milli,
    (SELECT CAST({_EST_NUM} AS BIGINT)
            // (SUM(CAST(1 AS BIGINT) << ({_RHO_CAP} - LEAST(r, {_RHO_CAP})))
               + ({_HLL_M} - COUNT(*)) * CAST({_POW2_CAP} AS BIGINT))
     FROM u) AS est_union_milli
)
SELECT CAST(est_a_milli AS BIGINT) AS est_a_milli,
       CAST(est_b_milli AS BIGINT) AS est_b_milli,
       CAST(est_union_milli AS BIGINT) AS est_union_milli,
       CAST(est_a_milli + est_b_milli - est_union_milli AS BIGINT)
         AS est_intersection_milli,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM
          (SELECT DISTINCT user_id FROM events_ms
           WHERE event_type = 'click' AND value >= 150)
          JOIN
          (SELECT DISTINCT user_id FROM events_ms
           WHERE event_type = 'purchase' AND value >= 150)
          USING (user_id)) AS exact_intersection
FROM est
"""


_SLIDE_DAYS = 7


def sketch_hll_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window distinct users via daily HLL registers: one register
    table per day (precomputed once), any trailing window answered by
    MAX-merging the window's registers — the mergeability-over-TIME
    property that lets a warehouse keep 365 daily sketches and answer any
    date-range distinct in O(window x m) without touching raw data. The
    7-day estimate per day rides next to the exact count (computed by the
    bounded-explode rolling-WAU rewrite) as its anchor.

    Scale: daily registers are |days| x 64 rows; the window merge joins
    only the register table against a |days|-row window map. The exact
    twin explodes each user-day into <= 7 window assignments — linear,
    map-side combinable."""
    ev = t(spark, sf_dir, "events_ms").select(
        F.date_trunc("day", "ts").cast("date").alias("day"), "user_id"
    )
    h = _H_USER
    daily_regs = (
        ev.selectExpr(
            "day",
            f"{_hll_bucket_sql(h)} AS bucket",
            f"{_hll_rho_sql(h)} AS rho",
        )
        .groupBy("day", "bucket")
        .agg(F.max("rho").cast("int").alias("r"))
    )
    days = ev.select("day").distinct()
    # window map: (report day, contributing day) pairs — |days| x <= 7 rows
    win = days.select(F.col("day").alias("rday")).join(
        F.broadcast(days.select(F.col("day").alias("cday"))),
        F.expr(f"cday BETWEEN rday - INTERVAL {_SLIDE_DAYS - 1} DAYS AND rday"),
    )
    merged = (
        win.join(F.broadcast(daily_regs), F.col("cday") == F.col("day"))
        .groupBy("rday", "bucket")
        .agg(F.max("r").alias("r"))
    )
    est = merged.groupBy("rday").agg(
        F.count("*").cast("bigint").alias("hit"),
        F.sum(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), {_RHO_CAP} - LEAST(r, {_RHO_CAP}))"
            )
        )
        .cast("bigint")
        .alias("s_present"),
    ).select(
        "rday",
        F.expr(
            f"CAST({_EST_NUM} AS BIGINT) div "
            f"(s_present + ({_HLL_M} - hit) * CAST({_POW2_CAP} AS BIGINT))"
        ).alias("est_milli"),
    )
    # exact anchor: each active (user, day) contributes to <= 7 report days
    contrib = ev.distinct().select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"),
                F.date_add(F.col("day"), _SLIDE_DAYS - 1),
            )
        ).alias("rday"),
    )
    exact = (
        contrib.join(F.broadcast(days.withColumnRenamed("day", "rday")), "rday")
        .groupBy("rday")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_exact"))
    )
    return est.join(exact, "rday").select(
        F.col("rday").alias("day"), "est_milli", "n_exact"
    )


ORACLE_HLL_SLIDING = f"""
WITH ev AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, user_id FROM events_ms
), daily_regs AS (
  SELECT day, {_hll_bucket_sql(_H_USER_DUCK)} AS bucket,
         CAST(MAX({_hll_rho_sql(_H_USER_DUCK)}) AS INTEGER) AS r
  FROM ev GROUP BY 1, 2
), days AS (SELECT DISTINCT day FROM ev),
win AS (
  SELECT a.day AS rday, b.day AS cday
  FROM days a JOIN days b
    ON b.day BETWEEN a.day - INTERVAL {_SLIDE_DAYS - 1} DAY AND a.day
), merged AS (
  SELECT w.rday, d.bucket, MAX(d.r) AS r
  FROM win w JOIN daily_regs d ON w.cday = d.day
  GROUP BY 1, 2
), est AS (
  SELECT rday,
         CAST({_EST_NUM} AS BIGINT)
           // (SUM(CAST(1 AS BIGINT) << ({_RHO_CAP} - LEAST(r, {_RHO_CAP})))
              + ({_HLL_M} - COUNT(*)) * CAST({_POW2_CAP} AS BIGINT)) AS est_milli
  FROM merged GROUP BY 1
), exact AS (
  SELECT c.rday, CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS n_exact
  FROM (
    SELECT DISTINCT e.user_id,
           e.day + INTERVAL 1 DAY * u.i AS rday
    FROM (SELECT DISTINCT day, user_id FROM ev) e,
         (SELECT unnest(generate_series(0, {_SLIDE_DAYS - 1})) AS i) u
  ) c JOIN days d ON c.rday = d.day
  GROUP BY 1
)
SELECT CAST(e.rday AS DATE) AS day,
       CAST(e.est_milli AS BIGINT) AS est_milli, x.n_exact
FROM est e JOIN exact x ON e.rday = x.rday
"""


def sketch_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-style KMV set intersection: Jaccard from the k-minimum-values
    samples — the industry answer to HLL's error-amplifying
    inclusion-exclusion (sketch_hll_set_algebra shows that failure mode on
    the same cohorts; this estimator replaces it). The union sketch is the
    k smallest of the two samples' union; Jaccard_est = (union-sample keys
    present in BOTH side samples) / |union sample|; intersection_est =
    jaccard * union estimate. Exact Jaccard rides alongside as the anchor.
    Deterministic 48-bit integer keys end to end — the twin recomputes the
    full sample algebra value-exactly.

    Scale: per-side state is k keys (mergeable: min-k of unioned samples);
    the cohort scans reduce to distinct user sets before the tiny top-k
    windows."""
    ev = t(spark, sf_dir, "events_ms").select("event_type", "user_id", "value")
    sides = (
        ev.filter(
            ((F.col("event_type") == "click") & (F.col("value") >= 150))
            | ((F.col("event_type") == "purchase") & (F.col("value") >= 150))
        )
        .select(
            F.when(F.col("event_type") == "click", "a").otherwise("b").alias("side"),
            "user_id",
        )
        .distinct()
        .withColumn(
            "h",
            F.substring(
                F.md5(F.concat(F.lit("u:"), F.col("user_id").cast("string"))),
                1,
                _KMV_HEX,
            ),
        )
    )
    wside = W.partitionBy("side").orderBy("h", "user_id")
    samples = (
        sides.withColumn("rk", F.row_number().over(wside))
        .filter(F.col("rk") <= _KMV_K)
        .select("side", "h")
    )
    wu = W.orderBy("h")  # union sample: <= 2k rows — bounded, not corpus-sized
    union_sample = (
        samples.select("h")
        .distinct()
        .withColumn("rk", F.row_number().over(wu))
        .filter(F.col("rk") <= _KMV_K)
        .select("h")
    )
    in_a = samples.filter(F.col("side") == "a").select("h").withColumn("ia", F.lit(1))
    in_b = samples.filter(F.col("side") == "b").select("h").withColumn("ib", F.lit(1))
    est = (
        union_sample.join(in_a, "h", "left")
        .join(in_b, "h", "left")
        .agg(
            F.count("*").cast("bigint").alias("k_used"),
            F.sum(
                F.when((F.col("ia") == 1) & (F.col("ib") == 1), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("matches"),
        )
    )
    exact = (
        sides.groupBy("h", "user_id")
        .agg(
            F.max(F.when(F.col("side") == "a", 1).otherwise(0)).alias("ia"),
            F.max(F.when(F.col("side") == "b", 1).otherwise(0)).alias("ib"),
        )
        .agg(
            F.sum("ia").cast("bigint").alias("n_a_exact"),
            F.sum("ib").cast("bigint").alias("n_b_exact"),
            F.sum(F.col("ia") * F.col("ib")).cast("bigint").alias("n_inter_exact"),
            F.count("*").cast("bigint").alias("n_union_exact"),
        )
    )
    return (
        est.crossJoin(F.broadcast(exact))
        .select(
            "n_a_exact",
            "n_b_exact",
            "n_inter_exact",
            "n_union_exact",
            F.expr("CAST(1000 * n_inter_exact div n_union_exact AS BIGINT)").alias(
                "exact_jaccard_milli"
            ),
            "k_used",
            "matches",
            F.expr("CAST(1000 * matches div k_used AS BIGINT)").alias(
                "est_jaccard_milli"
            ),
        )
    )


ORACLE_KMV_JACCARD = f"""
WITH sides AS (
  SELECT DISTINCT
         CASE WHEN event_type = 'click' THEN 'a' ELSE 'b' END AS side,
         user_id,
         substring(md5('u:' || CAST(user_id AS VARCHAR)), 1, {_KMV_HEX}) AS h
  FROM events_ms
  WHERE (event_type = 'click' AND value >= 150)
     OR (event_type = 'purchase' AND value >= 150)
), samples AS (
  SELECT side, h FROM (
    SELECT side, h,
           row_number() OVER (PARTITION BY side ORDER BY h, user_id) AS rk
    FROM sides
  ) WHERE rk <= {_KMV_K}
), union_sample AS (
  SELECT h FROM (
    SELECT h, row_number() OVER (ORDER BY h) AS rk
    FROM (SELECT DISTINCT h FROM samples)
  ) WHERE rk <= {_KMV_K}
), est AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k_used,
         CAST(SUM(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS matches
  FROM union_sample u
  LEFT JOIN (SELECT h FROM samples WHERE side = 'a') a ON u.h = a.h
  LEFT JOIN (SELECT h FROM samples WHERE side = 'b') b ON u.h = b.h
), exact AS (
  SELECT CAST(SUM(ia) AS BIGINT) AS n_a_exact,
         CAST(SUM(ib) AS BIGINT) AS n_b_exact,
         CAST(SUM(ia * ib) AS BIGINT) AS n_inter_exact,
         CAST(COUNT(*) AS BIGINT) AS n_union_exact
  FROM (
    SELECT user_id,
           MAX(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS ia,
           MAX(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS ib
    FROM sides GROUP BY 1
  )
)
SELECT x.n_a_exact, x.n_b_exact, x.n_inter_exact, x.n_union_exact,
       CAST(1000 * x.n_inter_exact // x.n_union_exact AS BIGINT)
         AS exact_jaccard_milli,
       e.k_used, e.matches,
       CAST(1000 * e.matches // e.k_used AS BIGINT) AS est_jaccard_milli
FROM est e CROSS JOIN exact x
"""


def sketch_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation via the count-min inner product — the
    planner-side use of the CMS: |A join_k B| is estimated as
    min_d sum_bucket cmsA[d][b] * cmsB[d][b], an upper bound that needs
    only the two D x W sketches, never the relations. Probed here on the
    genuinely many-to-many self-join click x purchase on user_id, with the
    exact join size computed alongside (two per-user count frames joined
    once — the anchor, not the scale path: at planning time only the
    sketches exist). overcount >= 0 by construction; all integer
    arithmetic, so the twin recomputes sketches, estimate, AND truth
    value-exactly."""
    ev = t(spark, sf_dir, "events_ms")
    a = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
    )
    b = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
    )
    ca = _counters_from_per_user(a).withColumnRenamed("counter", "c_a")
    cb = _counters_from_per_user(b).withColumnRenamed("counter", "c_b")
    est = (
        ca.join(cb, ["d", "bucket"])  # missing buckets contribute 0 anyway
        .groupBy("d")
        .agg(F.sum(F.col("c_a") * F.col("c_b")).cast("bigint").alias("dot"))
        .agg(F.min("dot").cast("bigint").alias("est_join_size"))
    )
    truth = (
        a.withColumnRenamed("cnt", "cnt_a")
        .join(b.withColumnRenamed("cnt", "cnt_b"), "user_id")
        .agg(
            F.coalesce(F.sum(F.col("cnt_a") * F.col("cnt_b")), F.lit(0))
            .cast("bigint")
            .alias("true_join_size")
        )
    )
    n_a = a.agg(F.sum("cnt").cast("bigint").alias("n_a"))
    n_b = b.agg(F.sum("cnt").cast("bigint").alias("n_b"))
    return (
        est.crossJoin(F.broadcast(truth))
        .crossJoin(F.broadcast(n_a))
        .crossJoin(F.broadcast(n_b))
        .select(
            "n_a",
            "n_b",
            "true_join_size",
            "est_join_size",
            (F.col("est_join_size") - F.col("true_join_size"))
            .cast("bigint")
            .alias("overcount"),
        )
    )


_CMS_SIDE = """
  SELECT d, bucket, CAST(SUM(cnt) AS BIGINT) AS counter
  FROM (
    SELECT cnt, d.d AS d,
           {bucket} AS bucket
    FROM (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM events_ms WHERE event_type = '{etype}' GROUP BY 1) p
    CROSS JOIN (SELECT unnest(generate_series(0, {dmax})) AS d) d
  ) GROUP BY 1, 2
"""


def _cms_join_oracle() -> str:
    h = _cms_hash("d.d", "p.user_id", "STRING")
    side = lambda et: _CMS_SIDE.format(  # noqa: E731
        bucket=_cms_bucket_sql(h), etype=et, dmax=_CMS_D - 1
    )
    return f"""
WITH ca AS ({side('click')}), cb AS ({side('purchase')}),
est AS (
  SELECT CAST(MIN(dot) AS BIGINT) AS est_join_size
  FROM (SELECT a.d, SUM(a.counter * b.counter) AS dot
        FROM ca a JOIN cb b ON a.d = b.d AND a.bucket = b.bucket
        GROUP BY 1)
),
pa AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
       FROM events_ms WHERE event_type = 'click' GROUP BY 1),
pb AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
       FROM events_ms WHERE event_type = 'purchase' GROUP BY 1),
truth AS (
  SELECT CAST(COALESCE(SUM(pa.cnt * pb.cnt), 0) AS BIGINT) AS true_join_size
  FROM pa JOIN pb USING (user_id)
)
SELECT (SELECT CAST(SUM(cnt) AS BIGINT) FROM pa) AS n_a,
       (SELECT CAST(SUM(cnt) AS BIGINT) FROM pb) AS n_b,
       t.true_join_size, e.est_join_size,
       CAST(e.est_join_size - t.true_join_size AS BIGINT) AS overcount
FROM est e CROSS JOIN truth t
"""


QUERIES: dict[str, tuple] = {
    "sketch_hll_registers": (sketch_hll_registers, ORACLE_HLL_REGISTERS),
    "sketch_cms_join_size": (sketch_cms_join_size, _cms_join_oracle()),
    "sketch_hll_set_algebra": (sketch_hll_set_algebra, ORACLE_HLL_SET_ALGEBRA),
    "sketch_kmv_jaccard": (sketch_kmv_jaccard, ORACLE_KMV_JACCARD),
    "sketch_hll_sliding_distinct": (sketch_hll_sliding_distinct, ORACLE_HLL_SLIDING),
    "sketch_hll_estimate": (sketch_hll_estimate, ORACLE_HLL_ESTIMATE),
    "sketch_kmv_distinct": (sketch_kmv_distinct, ORACLE_KMV),
    "sketch_cms_heavy_hitters": (sketch_cms_heavy_hitters, ORACLE_CMS),
    "graph_copurchase_triangles": (graph_copurchase_triangles, ORACLE_TRIANGLES),
    "graph_clustering_coefficient": (
        graph_clustering_coefficient,
        ORACLE_CLUSTERING,
    ),
}
