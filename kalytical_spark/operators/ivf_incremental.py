"""Incremental ANN (IVF) index maintenance: assign only NEWLY ARRIVED
vectors to the existing k-means cells instead of refitting the quantizer
per ingest — the index-maintenance path a daily-crawl 100 TB pipeline
actually runs (dedup has this shape in dedup_incremental.py; this is the
ANN twin the r5 review called out as missing).

The fixture split mirrors dedup_incremental: vec_id % IVF_DELTA_MOD == 0
plays "today's shard"; the BASE slice is yesterday's corpus whose fitted
index (kmeans_ivf.fit_kmeans_cells on the base slice) is the stored
artifact. Per ingest the pipeline:

1. assigns the delta vectors under the FROZEN base centroids (one
   broadcast K x dim matrix, one pruned scan of the delta — the base
   corpus is never re-read, never re-fit);
2. appends the delta assignments to the stored cell table;
3. monitors quantizer staleness separately (emb_centroid_drift) and
   schedules a full refit only when drift crosses threshold — refit is a
   scheduled background rebuild, not a per-ingest cost.

Correctness proof (the exact shape dedup_incremental uses): the
incrementally-maintained index is audited against a monolithic
re-assignment under the same frozen centroids over the MAINTENANCE
BOUNDARY — every delta vector plus a deterministic md5-smallest sample
of BOUNDARY_BASE_SAMPLE stored base rows (per-vector assignment depends
only on (vector, centroids), so the boundary is where any maintenance
bug must surface: a lost/re-celled delta row, or a stored base row whose
persisted cell no longer matches its recomputation). `sim_ivf_incremental`
computes BOTH paths over that audited subset and emits the mismatch count
folded into a boolean the DuckDB twin asserts (bounded-oracle trick: the
twin recomputes the exact slice sizes and the sqrt-scaled cell-count
formula, and emits TRUE for the equivalence the learned index can't be
SQL-expressed for — any audited-row drift flips the boolean and fails
the value hash). Coverage is SAMPLED on the base side by design (the
r7 change that took the proof from 15.6 s to 0.9 s): corruption of an
unsampled stored base assignment is outside this audit's reach and is
instead the recall report's job to catch as search-quality loss.

`sim_ivf_incremental_recall_report` then proves the maintained index
still SEARCHES well: recall@k of probing the frozen-centroid index over
base+delta against the exact brute-force top-k, floor-asserted. The
stale quantizer (fit without the delta) probing a corpus that includes
the delta is exactly the production steady state between refits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .common import app_key, session_memo, t
from .kmeans_ivf import K_CELLS, N_PROBE, _normalized, fit_kmeans_cells, make_pair_scorer, make_probe
from .similarity import QUERY_STRIDE, TOP_K

IVF_DELTA_MOD = 10  # vec_id % 10 == 0 is "today's shard" (~10% of vectors)
IVF_INCR_RECALL_FLOOR_MILLI = 400

# session memo: summary + recall report share one maintained index
_INCR_CACHE: dict[tuple[int, str], tuple[DataFrame, "object"]] = session_memo({})


def _assign_under(spark: SparkSession, vecs: DataFrame, C) -> DataFrame:
    """(vec_id, cell) for ``vecs`` under the frozen centroid matrix ``C``
    — the same argmax/tie-break as the fit's final assignment."""
    import numpy as np

    bC = spark.sparkContext.broadcast(C)

    def assign(batches):
        import pandas as pd

        Cb = bC.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["nemb"].map(lambda a: np.asarray(a, dtype=np.float64)))
            cell = (X @ Cb.T).argmax(axis=1).astype("int32")
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "cell": cell})

    return vecs.mapInPandas(assign, schema="vec_id long, cell int")


def _maintained_index(spark: SparkSession, sf_dir: str):
    """(assignments DataFrame [vec_id, cell] over base+delta, centroids)
    — the incrementally maintained IVF index."""
    key = (app_key(spark), sf_dir)
    if key in _INCR_CACHE:
        return _INCR_CACHE[key]
    base_assign, C = fit_kmeans_cells(spark, sf_dir, exclude_delta_mod=IVF_DELTA_MOD)
    emb = t(spark, sf_dir, "embeddings")
    delta = _normalized(emb.filter(F.col("vec_id") % IVF_DELTA_MOD == 0))
    delta_assign = _assign_under(spark, delta, C)
    assignments = base_assign.unionByName(delta_assign).cache()
    assignments.count()
    _INCR_CACHE[key] = (assignments, C)
    return _INCR_CACHE[key]


BOUNDARY_BASE_SAMPLE = 4096  # stored-base rows re-audited per proof run


def sim_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-maintenance audit row: exact slice sizes (SQL-recomputable),
    the sqrt-scaled cell count, and the boundary-equivalence boolean.

    The boundary the proof guards is what the MAINTENANCE touched: every
    delta row must match a fresh monolithic assignment of the delta slice
    under the same frozen centroids (no vector lost or re-celled at the
    base/delta seam), and the stored base rows are spot-audited against a
    recompute on a deterministic md5-sample of BOUNDARY_BASE_SAMPLE base
    vectors (stored-artifact integrity). The first cut re-assigned the
    ENTIRE corpus monolithically — at 15.6 s the most expensive proof in
    the suite, and the extra full-corpus leg only re-proved the fit's own
    assignment pass against itself; restricting the monolithic side to
    delta ∪ base-sample keeps every non-vacuous check at a cost bounded
    by the delta size, which is the production per-ingest shape."""
    assignments, C = _maintained_index(spark, sf_dir)
    emb = t(spark, sf_dir, "embeddings")
    is_delta = F.col("vec_id") % IVF_DELTA_MOD == 0
    base_sample_ids = (
        emb.filter(~is_delta)
        .select("vec_id", F.md5(F.col("vec_id").cast("string")).alias("h"))
        .orderBy("h")
        .limit(BOUNDARY_BASE_SAMPLE)
        .select("vec_id")
    )
    check_input = _normalized(emb.filter(is_delta)).unionByName(
        _normalized(emb).join(F.broadcast(base_sample_ids), "vec_id", "leftsemi")
    )
    mono = _assign_under(spark, check_input, C)
    incr_sub = assignments.filter(is_delta).unionByName(
        assignments.join(F.broadcast(base_sample_ids), "vec_id", "leftsemi")
    )
    a, m = incr_sub.alias("a"), mono.alias("m")
    mismatch = (
        a.join(m, F.col("a.vec_id") == F.col("m.vec_id"), "full")
        .filter(
            F.col("a.vec_id").isNull()
            | F.col("m.vec_id").isNull()
            | (F.col("a.cell") != F.col("m.cell"))
        )
        .agg(F.count("*").cast("bigint").alias("n_mismatch"))
    )
    sizes = emb.agg(
        F.sum((F.col("vec_id") % IVF_DELTA_MOD != 0).cast("bigint"))
        .cast("bigint")
        .alias("n_base"),
        F.sum((F.col("vec_id") % IVF_DELTA_MOD == 0).cast("bigint"))
        .cast("bigint")
        .alias("n_delta"),
    )
    return (
        sizes.crossJoin(F.broadcast(mismatch))
        .crossJoin(
            F.broadcast(
                assignments.agg(F.count("*").cast("bigint").alias("indexed_total"))
            )
        )
        .select(
            "n_base",
            "n_delta",
            "indexed_total",
            F.greatest(
                F.lit(K_CELLS),
                F.floor(F.sqrt(F.col("n_base") / F.lit(8.0))).cast("int"),
            )
            .cast("int")
            .alias("k_cells"),
            (F.col("n_mismatch") == 0).alias("incremental_equals_batch"),
        )
    )


ORACLE_IVF_INCREMENTAL = f"""
SELECT CAST(SUM(CASE WHEN vec_id % {IVF_DELTA_MOD} <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
       CAST(SUM(CASE WHEN vec_id % {IVF_DELTA_MOD} = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
       CAST(COUNT(*) AS BIGINT) AS indexed_total,
       CAST(GREATEST({K_CELLS}, CAST(FLOOR(SQRT(SUM(CASE WHEN vec_id % {IVF_DELTA_MOD} <> 0 THEN 1 ELSE 0 END) / 8.0)) AS INTEGER)) AS INTEGER) AS k_cells,
       TRUE AS incremental_equals_batch
FROM embeddings
"""


def sim_topk_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k under the maintained index: probe the frozen base centroids,
    search base+delta cells (rows-only — learned index; recall is gated by
    sim_ivf_incremental_recall_report)."""
    assignments, C = _maintained_index(spark, sf_dir)
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    bC = spark.sparkContext.broadcast(C)
    probed = queries.mapInPandas(
        make_probe(bC, N_PROBE), schema="query_id long, q_emb array<float>, cell int"
    )
    cand = (
        probed.join(assignments, "cell")
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    scored = cand.mapInPandas(
        make_pair_scorer("q_emb", "embedding"),
        schema="query_id long, vec_id long, cos_sim double",
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "vec_id", "cos_sim")
    )


def sim_ivf_incremental_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the incrementally maintained index (stale quantizer,
    full corpus) vs the exact baseline, floor-asserted — the steady-state
    search quality between scheduled refits."""
    from .simeval import _learned_recall_report
    from .similarity import exact_topk_memo

    return _learned_recall_report(
        exact_topk_memo(spark, sf_dir),
        sim_topk_ivf_incremental(spark, sf_dir),
        IVF_INCR_RECALL_FLOOR_MILLI,
    )


def _oracle_incr_recall() -> str:
    from .simeval import _oracle_learned_recall

    return _oracle_learned_recall(IVF_INCR_RECALL_FLOOR_MILLI)


QUERIES: dict[str, tuple] = {
    "sim_ivf_incremental": (sim_ivf_incremental, ORACLE_IVF_INCREMENTAL),
    "sim_topk_ivf_incremental": (sim_topk_ivf_incremental, None),
    "sim_ivf_incremental_recall_report": (
        sim_ivf_incremental_recall_report,
        _oracle_incr_recall(),
    ),
}
