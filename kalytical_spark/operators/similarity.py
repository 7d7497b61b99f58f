"""Similarity-search operators over the embeddings table (north star):
brute-force cosine top-k as the correctness baseline, and an IVF-style
two-stage search (coarse centroids -> probe -> within-cell brute force) as
the scale path.

All vector math stays JVM-side: zip_with/aggregate fold over array<double>
(deterministic left-to-right order). Similarities are rounded to 4 decimals
BEFORE ranking so top-k membership is identical across engines (float noise
~1e-6 << 5e-5 rounding margin; ties break on vec_id). Centroid coordinates
are rounded to 6 decimals to absorb summation-order noise in the mean.

Scale notes: brute force is O(Q x N) — fine for a re-rank stage, not a
scan; the IVF variant prunes to nprobe/K of the corpus per query and is the
shape that survives 100 TB (centroids broadcast; per-cell partitions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .common import app_key, banded_candidate_pairs, session_memo, spread, t

TOP_K = 10
N_PROBE = 3
QUERY_STRIDE = 100  # vec_id % 100 == 0 -> query set


def _dbl(col) -> F.Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b) -> F.Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _cos_rounded(a, b) -> F.Column:
    da, db = _dbl(a), _dbl(b)
    return F.round(
        _dot(da, db) / (F.sqrt(_dot(da, da)) * F.sqrt(_dot(db, db))), 4
    )


def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10: every stride-100 vector as a query against
    the full corpus (excluding itself). Query side is broadcast; the corpus
    scan computes Q similarities per row with no shuffle until the
    per-query top-k window."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    # spread: the cosine fold is FLOP-dense per row and a small corpus
    # file scans as one partition (guide §2.5 — serialized the scorer on
    # one core at bench scale); exact no-op at cluster scale
    scored = (
        F.broadcast(queries)
        .join(spread(spark, emb), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "label",
            _cos_rounded(F.col("q_emb"), F.col("embedding")).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "vec_id", "label", "cos_sim")
    )


# Session memo of the exact top-k — the ground-truth side of SIX recall/
# ranking audits (ivf, kmeans-ivf, ivf-pq, incremental-ivf, matryoshka,
# ndcg), each of which previously re-ran the full brute-force scan per
# invocation (guide §2.4: remove repeated passes). In production the
# exact baseline is a stored audit artifact computed once per corpus
# snapshot — precisely because it is the expensive exhaustive scan — so
# the memo mirrors the deployment shape. The declared sim_topk_bruteforce
# query itself stays UNMEMOIZED (it keeps measuring the real scan).
_EXACT_TOPK_CACHE: dict[tuple[str, str], DataFrame] = session_memo({})


def exact_topk_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memo-cached `sim_topk_bruteforce` for audit consumers (same rows)."""
    memo_key = (app_key(spark), sf_dir)
    if memo_key not in _EXACT_TOPK_CACHE:
        tk = sim_topk_bruteforce(spark, sf_dir).cache()
        tk.count()
        _EXACT_TOPK_CACHE[memo_key] = tk
    return _EXACT_TOPK_CACHE[memo_key]


ORACLE_TOPK_BRUTEFORCE = f"""
WITH queries AS (
  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
  WHERE vec_id % {QUERY_STRIDE} = 0
), scored AS (
  SELECT q.query_id, e.vec_id, e.label,
         round(CAST(list_cosine_similarity(CAST(q.q_emb AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS DOUBLE), 4) AS cos_sim
  FROM queries q JOIN embeddings e ON e.vec_id <> q.query_id
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id, label, cos_sim
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
"""


def _centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding with coordinates rounded to 6 decimals
    (absorbs cross-engine summation-order noise in the mean)."""
    emb = t(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode(_dbl(F.col("embedding"))).alias("pos", "v")
    )
    return (
        exploded.groupBy("label", "pos")
        .agg(F.round(F.avg("v"), 6).alias("c"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(
            F.col("label").alias("cent_label"),
            F.transform(F.col("pc"), lambda s: s.getField("c")).alias("centroid"),
        )
    )


def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse quantizer = per-label centroids; each query
    probes its N_PROBE nearest centroids and brute-forces only those cells.
    Returns the per-query top-10 within probed cells (recall vs the exact
    baseline is measured in tests; on this near-random synthetic corpus the
    label cells are weak quantizers, so recall ~ a bit above nprobe/K —
    real clustered embeddings or k-means cells would do far better)."""
    emb = t(spark, sf_dir, "embeddings")
    cents = _centroids(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    q_cent = (
        F.broadcast(queries)
        .join(F.broadcast(cents))
        .select(
            "query_id",
            "q_emb",
            "cent_label",
            _cos_rounded(F.col("q_emb"), F.col("centroid")).alias("cent_sim"),
        )
    )
    probe_w = W.partitionBy("query_id").orderBy(F.desc("cent_sim"), F.asc("cent_label"))
    probes = (
        q_cent.withColumn("prk", F.row_number().over(probe_w))
        .filter(F.col("prk") <= N_PROBE)
        .select("query_id", "q_emb", F.col("cent_label").alias("label"))
    )
    scored = F.broadcast(probes).join(emb, ["label"]).filter(
        F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        "vec_id",
        "label",
        _cos_rounded(F.col("q_emb"), F.col("embedding")).alias("cos_sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "vec_id", "label", "cos_sim")
    )


ORACLE_TOPK_IVF = f"""
WITH emb_d AS (
  SELECT vec_id, label, embedding,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
), exploded AS (
  SELECT label, u.i AS pos, emb[u.i + 1] AS v
  FROM emb_d, unnest(range(0, len(emb))) AS u(i)
), cent AS (
  SELECT label AS cent_label, pos, round(AVG(v), 6) AS c
  FROM exploded GROUP BY 1, 2
), centroids AS (
  SELECT cent_label, list(c ORDER BY pos) AS centroid FROM cent GROUP BY 1
), queries AS (
  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
  WHERE vec_id % {QUERY_STRIDE} = 0
), q_cent AS (
  SELECT q.query_id, q.q_emb, c.cent_label,
         round(CAST(list_cosine_similarity(CAST(q.q_emb AS DOUBLE[]), CAST(c.centroid AS DOUBLE[])) AS DOUBLE), 4) AS cent_sim
  FROM queries q CROSS JOIN centroids c
), probes AS (
  SELECT query_id, q_emb, cent_label AS label FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cent_sim DESC, cent_label) AS prk
    FROM q_cent
  ) WHERE prk <= {N_PROBE}
), scored AS (
  SELECT p.query_id, e.vec_id, e.label,
         round(CAST(list_cosine_similarity(CAST(p.q_emb AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS DOUBLE), 4) AS cos_sim
  FROM probes p JOIN embeddings e USING (label)
  WHERE e.vec_id <> p.query_id
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id, label, cos_sim
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
"""


N_HYPERPLANES = 64
N_SIGN_BANDS = 4
BITS_PER_BAND = 16  # 4 x 16 = 64: pigeonhole guarantees hamming<=3 pairs collide
LSH_PAIR_THRESHOLD = 0.4
# every PLANT_STRIDE-th vector is re-ingested (perturbed, re-keyed) so the
# near-dup miner always has true positives to find — the re-crawl scenario,
# same non-vacuous pattern as dedup_exact
PLANT_STRIDE = 100
PLANT_ID_OFFSET = 5 << 40  # 2^40 keyspace: never collides with real vec_ids
PLANT_EPS = 1e-3


def _hyperplanes(dim: int):
    """Deterministic pseudo-random hyperplanes in EXACT INTEGERS: each
    coordinate is the first 20 bits of md5('hp{p}:{d}') recentered to
    [-2^19, 2^19) — so every run/engine/partition sees identical planes,
    the sign dot products are integer sums with no float summation order,
    and the DuckDB oracle re-derives the same planes from hex nibbles
    (uniform signed coordinates are a valid sign-LSH family; only the
    direction distribution matters, not the coordinate scale)."""
    import hashlib

    import numpy as np

    H = np.empty((N_HYPERPLANES, dim), dtype=np.int64)
    for p in range(N_HYPERPLANES):
        for d in range(dim):
            h = hashlib.md5(f"hp{p}:{d}".encode()).hexdigest()
            H[p, d] = int(h[:5], 16) - (1 << 19)
    return H


def _planted_corpus(emb: DataFrame) -> DataFrame:
    """Corpus plus a deterministic near-dup re-ingest: every PLANT_STRIDE-th
    vector re-keyed to vec_id + PLANT_ID_OFFSET with a +-PLANT_EPS relative
    perturbation on alternating coordinates (cos ~ 0.999999 — a true near
    dup, not a byte-identical copy). All JVM-side expressions."""
    plant = (
        emb.filter(F.col("vec_id") % PLANT_STRIDE == 0)
        .withColumn("vec_id", F.col("vec_id") + PLANT_ID_OFFSET)
        .withColumn(
            "embedding",
            F.expr(
                f"transform(embedding, (x, i) -> cast(x * (1.0d + {PLANT_EPS} * "
                "(case when i % 2 = 0 then 1.0d else -1.0d end)) as float))"
            ),
        )
    )
    return emb.unionByName(plant)


def sim_lsh_hyperplane_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-free near-dup mining via random-hyperplane (sign) LSH: each
    vector hashes to a 64-bit sign sketch (numpy matmul per Arrow batch)
    split into 4 bands of 16 bits; vectors sharing any band become
    candidates (pigeonhole: every pair within hamming distance 3 is
    guaranteed caught); exact cosine verifies candidates at the threshold.

    Scale: with 2^16 buckets per band, bucket occupancy is N / 65536 —
    candidate volume stays a vanishing fraction of N^2 and NOTHING
    corpus-sized ever reaches the driver; verification joins the two
    embedding sides onto the candidate pairs and scores per Arrow batch
    (the only path — no broadcast-index special case)."""
    import pandas as pd

    emb = _planted_corpus(t(spark, sf_dir, "embeddings"))
    n_part = spark.sparkContext.defaultParallelism

    band_fields = ", ".join(f"band{b} int" for b in range(N_SIGN_BANDS))

    def sketch(batches):
        import numpy as np

        H = None
        for pdf in batches:
            V = np.stack(pdf["embedding"].map(lambda a: np.asarray(a, dtype=np.float64)))
            if H is None:
                H = _hyperplanes(V.shape[1])
            # micro-unit quantization (embedding_stats convention): the
            # sign dot is an exact integer — reproducible in SQL
            Vq = np.floor(V * 1_000_000).astype(np.int64)
            bits = (Vq @ H.T) > 0  # (n, 64)
            out = {"vec_id": pdf["vec_id"]}
            w = 1 << np.arange(BITS_PER_BAND, dtype=np.int64)
            for b in range(N_SIGN_BANDS):
                seg = bits[:, b * BITS_PER_BAND : (b + 1) * BITS_PER_BAND]
                out[f"band{b}"] = (seg * w).sum(axis=1).astype("int32")
            yield pd.DataFrame(out)

    sketched = (
        emb.repartition(n_part)
        .mapInPandas(sketch, schema=f"vec_id long, {band_fields}")
        .cache()
    )
    sketched.count()
    cand = banded_candidate_pairs(sketched, "vec_id", N_SIGN_BANDS).select(
        F.col("id_a").alias("vec_a"), F.col("id_b").alias("vec_b")
    )
    # Distributed verification — the only path: join both embedding sides
    # onto the (tiny) candidate set, score each Arrow batch with one einsum.
    ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    with_vecs = cand.join(ea, "vec_a").join(eb, "vec_b")

    def verify_joined(batches):
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            A = np.stack(pdf["emb_a"].map(lambda a: np.asarray(a, dtype=np.float64)))
            B = np.stack(pdf["emb_b"].map(lambda a: np.asarray(a, dtype=np.float64)))
            # quantized cosine: integer dot and norms (exact), then the
            # fixed float chain dot / sqrt(na) / sqrt(nb) — three IEEE ops
            # the SQL oracle evaluates in the identical order
            Aq = np.floor(A * 1_000_000).astype(np.int64)
            Bq = np.floor(B * 1_000_000).astype(np.int64)
            dot = np.einsum("ij,ij->i", Aq, Bq).astype(np.float64)
            na = np.einsum("ij,ij->i", Aq, Aq).astype(np.float64)
            nb = np.einsum("ij,ij->i", Bq, Bq).astype(np.float64)
            sims = dot / np.sqrt(na) / np.sqrt(nb)
            keep = sims >= LSH_PAIR_THRESHOLD
            out = pdf.loc[keep, ["vec_a", "vec_b"]].copy()
            out["cos_sim"] = sims[keep]
            yield out

    return with_vecs.mapInPandas(
        verify_joined, schema="vec_a long, vec_b long, cos_sim double"
    )


def _sql_sign_lsh() -> str:
    """DuckDB twin of the sign-LSH miner: integer planes from md5 hex
    nibbles, micro-unit vector quantization, integer sign dots, the same
    16-bit banding, and the identical dot/sqrt/sqrt cosine verification."""
    hexval5 = " + ".join(
        f"(strpos('0123456789abcdef', substring(md5('hp' || p || ':' || d), {k + 1}, 1)) - 1) * {16 ** (4 - k)}"
        if k < 4
        else f"(strpos('0123456789abcdef', substring(md5('hp' || p || ':' || d), {k + 1}, 1)) - 1)"
        for k in range(5)
    )
    band_defs = ",\n         ".join(
        f"CAST(SUM(CASE WHEN p // 16 = {k} THEN bit * (1 << (p % 16)) "
        f"ELSE 0 END) AS INTEGER) AS band{k}"
        for k in range(N_SIGN_BANDS)
    )
    band_union = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, {k} AS band_idx, band{k} AS band_key FROM bands"
        for k in range(N_SIGN_BANDS)
    )
    return f"""WITH base AS (
  SELECT vec_id,
         unnest(generate_series(1, len(embedding))) - 1 AS pos,
         unnest(embedding) AS val
  FROM embeddings
), qv AS (
  SELECT vec_id, pos,
         CAST(floor(CAST(val AS DOUBLE) * 1000000) AS BIGINT) AS q
  FROM base
  UNION ALL
  SELECT vec_id + {PLANT_ID_OFFSET}, pos,
         CAST(floor(CAST(CAST(CAST(val AS DOUBLE) * (1.0 + {PLANT_EPS} *
               CASE WHEN pos % 2 = 0 THEN 1.0 ELSE -1.0 END) AS REAL)
             AS DOUBLE) * 1000000) AS BIGINT) AS q
  FROM base WHERE vec_id % {PLANT_STRIDE} = 0
), planes AS (
  SELECT p, d, CAST(({hexval5}) - {1 << 19} AS BIGINT) AS h
  FROM generate_series(0, {N_HYPERPLANES - 1}) gp(p),
       -- dim is data-driven, like the Spark side's _hyperplanes(V.shape[1]):
       -- a hardcoded 63 here would silently truncate sign dots if the
       -- fixture's embedding dimension ever changed (generate_series only
       -- takes constants, so reuse base's exploded positions)
       (SELECT DISTINCT pos AS d FROM base) gd
), dots AS (
  SELECT v.vec_id, pl.p,
         CASE WHEN SUM(v.q * pl.h) > 0 THEN 1 ELSE 0 END AS bit
  FROM qv v JOIN planes pl ON v.pos = pl.d
  GROUP BY 1, 2
), bands AS (
  SELECT vec_id,
         {band_defs}
  FROM dots GROUP BY vec_id
), long AS (
{band_union}
), cand AS (
  SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b
  FROM long l JOIN long r
    ON l.band_idx = r.band_idx AND l.band_key = r.band_key
   AND l.vec_id < r.vec_id
), norms AS (
  SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS n2 FROM qv GROUP BY 1
), scored AS (
  SELECT c.vec_a, c.vec_b,
         CAST(SUM(a.q * b.q) AS DOUBLE)
           / sqrt(CAST(na.n2 AS DOUBLE)) / sqrt(CAST(nb.n2 AS DOUBLE))
           AS cos_sim
  FROM cand c
  JOIN qv a ON c.vec_a = a.vec_id
  JOIN qv b ON c.vec_b = b.vec_id AND a.pos = b.pos
  JOIN norms na ON c.vec_a = na.vec_id
  JOIN norms nb ON c.vec_b = nb.vec_id
  GROUP BY c.vec_a, c.vec_b, na.n2, nb.n2
)
SELECT vec_a, vec_b, cos_sim FROM scored
WHERE cos_sim >= {LSH_PAIR_THRESHOLD}
"""


ORACLE_SIGN_LSH = _sql_sign_lsh()


QUERIES: dict[str, tuple] = {
    "sim_topk_bruteforce": (sim_topk_bruteforce, ORACLE_TOPK_BRUTEFORCE),
    "sim_topk_ivf": (sim_topk_ivf, ORACLE_TOPK_IVF),
    "sim_lsh_hyperplane_pairs": (sim_lsh_hyperplane_pairs, ORACLE_SIGN_LSH),
}


SQ_MAX = 127.0  # symmetric int8 code range -127..127


def sim_topk_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (SQ8) top-k: every coordinate is mapped to a
    symmetric integer code round(x * s) with ONE global scale
    s = 127 / max|x|, and ranking runs on the quantized cosine
    dot_q / (sqrt(|q|^2) * sqrt(|v|^2)) where every dot/norm is an EXACT
    INTEGER sum of code products — the FAISS SQ8-flat shape. At scale this
    cuts scan bandwidth 4x (byte codes vs floats) while keeping the scan
    JVM-side: quantization and scoring are pure zip_with/aggregate
    expressions, zero Python, zero UDFs, and the scale rides in as a
    broadcast scalar (no driver collect).

    Because code arithmetic is integer-exact and the only float steps are
    single IEEE ops on exact integers (sqrt, multiply, divide, round),
    this is the one ANN-family query with a full value-level DuckDB oracle
    (the float variants are rows-only). Recall vs the exact cosine top-10
    is pinned in tests (0.98 at sf0.01)."""
    emb = t(spark, sf_dir, "embeddings")
    d = _dbl(F.col("embedding"))
    scal = emb.select(
        (F.lit(SQ_MAX) / F.max(F.array_max(F.transform(d, F.abs)))).alias("s")
    )
    code = F.transform(d, lambda x: F.round(x * F.col("s")).cast("long"))
    n2 = F.aggregate(
        F.col("codes"),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v * v,
    )
    coded = (
        emb.crossJoin(F.broadcast(scal))
        .select("vec_id", code.alias("codes"))
        .select("vec_id", "codes", n2.alias("n2"))
        # both join sides (broadcast query subset + corpus probe) read this
        # frame; without the cache each side re-scans the parquet AND
        # re-runs the global max-abs scale aggregate
        .cache()
    )
    queries = coded.filter(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("codes").alias("q_codes"),
        F.col("n2").alias("q_n2"),
    )
    idot = F.aggregate(
        F.zip_with(F.col("q_codes"), F.col("codes"), lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    qcos = F.round(
        idot.cast("double")
        / (F.sqrt(F.col("q_n2").cast("double")) * F.sqrt(F.col("n2").cast("double"))),
        4,
    )
    scored = (
        F.broadcast(queries)
        .join(coded, F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", qcos.alias("qcos"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", F.col("rank").cast("int").alias("rank"), "vec_id", "qcos")
    )


ORACLE_TOPK_SQ8 = f"""
WITH ex AS (
  SELECT vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS r(i)
), scal AS (
  SELECT {SQ_MAX} / MAX(abs(x)) AS s FROM ex
), codes AS (
  SELECT vec_id, pos, CAST(ROUND(x * s) AS BIGINT) AS code FROM ex, scal
), norms AS (
  SELECT vec_id, CAST(SUM(code * code) AS BIGINT) AS n2 FROM codes GROUP BY 1
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id,
         CAST(SUM(q.code * c.code) AS BIGINT) AS dot_q
  FROM codes q JOIN codes c ON q.pos = c.pos AND c.vec_id <> q.vec_id
  WHERE q.vec_id % {QUERY_STRIDE} = 0
  GROUP BY 1, 2
), simq AS (
  SELECT s.query_id, s.vec_id,
         ROUND(CAST(s.dot_q AS DOUBLE)
               / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nv.n2 AS DOUBLE))), 4) AS qcos
  FROM scored s
  JOIN norms nq ON nq.vec_id = s.query_id
  JOIN norms nv ON nv.vec_id = s.vec_id
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id, qcos
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY qcos DESC, vec_id) AS rank
  FROM simq
) WHERE rank <= {TOP_K}
"""


QUERIES["sim_topk_sq8"] = (sim_topk_sq8, ORACLE_TOPK_SQ8)


def sim_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training triplet mining: for every stride-100 anchor,
    the HARD NEGATIVE (most-similar vector with a DIFFERENT label — the
    confusable the loss must push away) and the HARD POSITIVE
    (least-similar vector with the SAME label — the far in-class example
    the loss must pull in). The standard batch-mining step that turns an
    embedding corpus into triplet/contrastive training data.

    Determinism: cosine rounded to 4 dp, then packed with the vec_id into
    a composite bigint key (simi4 * 10^10 ± vec_id) so a single
    max_by/arg_max resolves ties toward the smaller vec_id identically in
    both engines (the repo's padded-composite-argmax convention — DuckDB
    arg_max rejects STRUCT keys).

    Scale: one broadcast of the stride-sampled anchor set against the
    corpus scan (same shape as sim_topk_bruteforce: O(A x N) with
    A = N/100 constant-fraction sample, the declared exhaustive baseline);
    the per-anchor argmax/argmin is one map-side-combinable aggregate —
    no window, no shuffle of the scored frame beyond the anchor key. The
    IVF/PQ indexes are the scale path for the scoring leg."""
    emb = t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
    )
    scored = (
        F.broadcast(anchors)
        .join(emb, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "q_label",
            "vec_id",
            (F.col("label") == F.col("q_label")).alias("is_pos"),
            _cos_rounded(F.col("q_emb"), F.col("embedding")).alias("cos4"),
        )
        .withColumn(
            "simi4", F.expr("CAST(round(10000 * cos4, 0) AS BIGINT) + 10000")
        )
        # composite keys: simi4 in [0, 20000]; vec_id << 10^10 at any sf
        .withColumn("key_neg", F.expr("simi4 * 10000000000 - vec_id"))
        .withColumn("key_pos", F.expr("simi4 * 10000000000 + vec_id"))
    )
    neg = (
        scored.filter(~F.col("is_pos"))
        .groupBy("query_id", "q_label")
        .agg(
            F.expr("max_by(vec_id, key_neg)").alias("hard_neg_id"),
            F.expr("max_by(cos4, key_neg)").alias("hard_neg_cos"),
            F.count("*").cast("bigint").alias("n_neg"),
        )
    )
    pos = (
        scored.filter(F.col("is_pos"))
        .groupBy("query_id")
        .agg(
            F.expr("min_by(vec_id, key_pos)").alias("hard_pos_id"),
            F.expr("min_by(cos4, key_pos)").alias("hard_pos_cos"),
            F.count("*").cast("bigint").alias("n_pos"),
        )
    )
    return neg.join(pos, "query_id", "left").select(
        "query_id",
        "q_label",
        "hard_neg_id",
        "hard_neg_cos",
        "n_neg",
        "hard_pos_id",
        "hard_pos_cos",
        F.coalesce("n_pos", F.lit(0)).cast("bigint").alias("n_pos"),
    )


ORACLE_TRIPLET = f"""
WITH anchors AS (
  SELECT vec_id AS query_id, label AS q_label, embedding AS q_emb
  FROM embeddings WHERE vec_id % {QUERY_STRIDE} = 0
), scored AS (
  SELECT a.query_id, a.q_label, e.vec_id,
         (e.label = a.q_label) AS is_pos,
         round(CAST(list_cosine_similarity(CAST(a.q_emb AS DOUBLE[]),
                                           CAST(e.embedding AS DOUBLE[])) AS DOUBLE), 4) AS cos4
  FROM anchors a JOIN embeddings e ON e.vec_id <> a.query_id
), keyed AS (
  SELECT *,
         CAST(round(10000 * cos4, 0) AS BIGINT) + 10000 AS simi4
  FROM scored
), neg AS (
  SELECT query_id, q_label,
         arg_max(vec_id, simi4 * 10000000000 - vec_id) AS hard_neg_id,
         arg_max(cos4,   simi4 * 10000000000 - vec_id) AS hard_neg_cos,
         CAST(COUNT(*) AS BIGINT) AS n_neg
  FROM keyed WHERE NOT is_pos GROUP BY 1, 2
), pos AS (
  SELECT query_id,
         arg_min(vec_id, simi4 * 10000000000 + vec_id) AS hard_pos_id,
         arg_min(cos4,   simi4 * 10000000000 + vec_id) AS hard_pos_cos,
         CAST(COUNT(*) AS BIGINT) AS n_pos
  FROM keyed WHERE is_pos GROUP BY 1
)
SELECT neg.query_id, neg.q_label,
       neg.hard_neg_id, neg.hard_neg_cos, neg.n_neg,
       pos.hard_pos_id, pos.hard_pos_cos,
       CAST(COALESCE(pos.n_pos, 0) AS BIGINT) AS n_pos
FROM neg LEFT JOIN pos ON neg.query_id = pos.query_id
"""


QUERIES["sim_triplet_mining"] = (sim_triplet_mining, ORACLE_TRIPLET)
