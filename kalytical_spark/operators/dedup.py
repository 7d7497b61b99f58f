"""Deduplication operators over the documents/embeddings tables — the core
LLM-training-data pipeline family (north star): exact/normalized dedup,
n-gram Jaccard pair mining, MinHash+LSH candidate generation, and
embedding-cosine near-dup pairs.

Design for scale:
* Exact dedup is one hash-groupBy (map-side combinable).
* Jaccard pair mining joins on shared shingles — quadratic in the worst
  case; it is the CORRECTNESS baseline the LSH variant is measured against.
* MinHash+LSH is the 100 TB path: per-doc signatures (one groupBy over the
  exploded shingles with K min-aggregates), band keys, pair generation only
  within band buckets, then exact-Jaccard verification of the (tiny)
  candidate set. Everything stays JVM-side and pure-integer after ONE md5
  per shingle (the Kirsch-Mitzenmacher affine family, _minhash_slice_cols);
  both engines parse the same md5 hex slices to the same BIGINTs, so the
  signatures are identical by construction.

Determinism: Jaccard ratios are single IEEE divisions of exact counts;
cosine is rounded to 4 decimals BEFORE thresholding/ranking (float noise is
~1e-6, far below the 5e-5 rounding margin; ties break on ids).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import app_key, session_memo, t

N_MINHASH = 16
N_BANDS = 8  # rows-per-band = 2
# planted-copy keyspace (see preprocess.DECONTAM_PLANT_OFFSET note): 2^40
# multiples keep re-keyed plant ids disjoint from genuine doc_ids at any
# realistic corpus size and from each other
EXACT_PLANT_OFFSET = 1 << 40
LSH_VERIFY_THRESHOLD = 0.7
JACCARD_THRESHOLD = 0.5
COSINE_PAIR_THRESHOLD = 0.45


def _shingles_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct 3-gram word shingles per document: (doc_id, shingle)."""
    from .preprocess import _grams

    toks = F.split(F.col("text"), " ")
    # ONE n-gram construction across the repo (preprocess._grams): the
    # space-joined 3-gram strings here must match the decontamination
    # family's grams and both DuckDB twins. The token array is projected
    # into a column first — slicing a split(text) expression inside the
    # transform lambda re-splits the document per shingle (interpreted
    # higher-order function, no CSE across elements).
    shingles = _grams(F.col("ts"), 3)
    # The docs parquet is a single small file at test scale -> the explode
    # would run in one partition and serialize all downstream hash work.
    # Hash-partition by doc_id: parallelizes minhash/signature computation
    # AND pre-aligns with the groupBy(doc_id) so no further shuffle needed.
    n_part = spark.sparkContext.defaultParallelism
    # docs with fewer than 3 tokens have no 3-gram shingles; without the
    # guard, sequence(0, size-3) would run descending and element_at(toks, 0)
    # would fault (the DuckDB twin's range() just yields empty)
    return (
        t(spark, sf_dir, "documents")
        .filter(F.size(toks) >= 3)
        .repartition(n_part, "doc_id")
        .select("doc_id", toks.alias("ts"))
        .select("doc_id", F.explode(F.array_distinct(shingles)).alias("shingle"))
    )


# DuckDB twin of _shingles_df (1-based list indexing there too)
_SQL_SHINGLES = """
  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       unnest(range(1, len(ts) - 1)) AS u(i)
"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact + normalized (bag-of-words) dedup: one hash-groupBy per key;
    keeper = min doc_id per group. The raw corpus contains no exact
    duplicates, which would make this a vacuous 0-row check — so the input
    is the corpus PLUS a deterministic re-ingest of every 50th document
    (re-keyed doc_id + EXACT_PLANT_OFFSET, a 2^40 keyspace no real corpus
    reaches — a small constant would collide with genuine ids at large sf),
    the re-crawl scenario exact dedup exists
    for. Groups must then contain exactly the original and its copy."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    reingest = (
        docs.filter(F.col("doc_id") % 50 == 0)
        .withColumn("doc_id", F.col("doc_id") + EXACT_PLANT_OFFSET)
    )
    corpus = docs.unionByName(reingest)
    bag_fp = F.md5(F.array_join(F.array_sort(F.split(F.col("text"), " ")), " "))
    return (
        corpus.select("doc_id", F.md5("text").alias("content_fp"), bag_fp.alias("bag_fp"))
        .groupBy("bag_fp")
        .agg(
            F.count("*").alias("group_size"),
            F.min("doc_id").alias("keeper_doc_id"),
            F.countDistinct("content_fp").alias("n_distinct_contents"),
        )
        .filter(F.col("group_size") > 1)
    )


ORACLE_EXACT = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {EXACT_PLANT_OFFSET}, text FROM documents WHERE doc_id % 50 = 0
)
SELECT md5(list_aggregate(list_sort(string_split(text, ' ')), 'string_agg', ' ')) AS bag_fp,
       CAST(COUNT(*) AS BIGINT) AS group_size,
       MIN(doc_id) AS keeper_doc_id,
       CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct_contents
FROM corpus
GROUP BY 1
HAVING COUNT(*) > 1
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exhaustive n-gram Jaccard near-dup pairs (candidate generation via
    shared shingles, then |A ∩ B| / |A ∪ B| >= threshold). The exact baseline
    for the LSH variant below."""
    # the shared memo's shingle table (already cached and materialized) —
    # a private .cache() here would pin a second full copy of the corpus
    # shingles in executor storage for the session; the exhaustive miner
    # never reads the banded table, so it takes the shingle layer alone
    sh = shingle_table(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    jac = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
    )
    return jac.filter(F.col("jaccard") >= JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", "n_inter", "n_a", "n_b", "jaccard"
    )


ORACLE_NGRAM_JACCARD = f"""
WITH sh AS ({_SQL_SHINGLES}),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
       CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE)
      >= {JACCARD_THRESHOLD}
"""


# 31-bit minhash values: two slices pack into one BIGINT band key
# (mh_a * 2^31 + mh_b < 2^62), keeping the band table pure-integer
_MH_MOD = 1 << 31


def _base_hash_cols() -> list:
    """The ONE md5 evaluation per shingle, split into the digest's two
    leading 32-bit halves as BIGINTs — materialized as their own
    projection (h1, h2) so the 16 slice expressions stay trivial
    multiply-add-mods. Inlining the digest into every slice was measured
    at ~10s of extra per-JVM Janino compile time at docs:k30 (16 wide
    md5+conv trees pre-CSE) while executing identically warm."""
    digest = F.md5(F.col("shingle"))
    return [
        F.conv(F.substring(digest, 1, 8), 16, 10).cast("bigint").alias("h1"),
        F.conv(F.substring(digest, 9, 8), 16, 10).cast("bigint").alias("h2"),
    ]


def _minhash_slice_cols() -> list:
    """16 31-bit minhash values per shingle over the (h1, h2) base-hash
    columns: the affine double-hash family g_i = (h1 + i*h2) mod 2^31
    (Kirsch-Mitzenmacher, the standard construction for deriving K
    hashes from one base hash — the same shape datasketch-style MinHash
    uses for its permutation family). One md5 + 16 integer multiply-adds
    replaces r9's 4 md5 evaluations per shingle, and the min-aggregates
    fold BIGINTs instead of hex strings (hash- instead of
    sort-aggregable — r10 plan re-pin; same-day A/B at docs:k30:
    17.0 -> 5.4 s warm median). h1 + 15*h2 < 2^36, so the arithmetic
    never overflows a BIGINT and the mod never sees a negative. DuckDB
    derives identical values from the same hex slices
    (sql_minhash_sig_select), so the signatures are engine-identical by
    construction. Callers project _base_hash_cols first."""
    return [
        ((F.col("h1") + F.lit(i) * F.col("h2")) % F.lit(_MH_MOD)).alias(f"sl{i}")
        for i in range(N_MINHASH)
    ]


def _minhash_aggs() -> list:
    return [F.min(f"sl{i}").alias(f"mh{i}") for i in range(N_MINHASH)]


def sql_minhash_sig_select(source: str = "sh", with_n_sh: bool = True) -> str:
    """The DuckDB twin of the signature fold, as one SELECT over a
    (doc_id, shingle) relation — THE single SQL spelling of the minhash
    family (lsh CTE chain and the calibration oracle both inline it, so
    the two can never hash differently)."""
    n_sh = "CAST(COUNT(*) AS BIGINT) AS n_sh,\n         " if with_n_sh else ""
    mh = ",\n         ".join(
        f"MIN((h1 + {i} * h2) % {_MH_MOD}) AS mh{i}" for i in range(N_MINHASH)
    )
    return f"""SELECT doc_id, {n_sh}{mh}
  FROM (SELECT doc_id,
               CAST('0x' || substring(md5(shingle), 1, 8) AS BIGINT) AS h1,
               CAST('0x' || substring(md5(shingle), 9, 8) AS BIGINT) AS h2
        FROM {source})
  GROUP BY doc_id"""


# session-scoped memo of the verified pair set: the LSH mine is the shared
# upstream of three query families (dedup_minhash_lsh itself, the
# connected-components clustering, and the curation pipeline) — without it
# each caller repays the full shingle->minhash->band->verify cost. The
# result is a few hundred rows; the candidate intermediates are unpersisted
# once it materializes. Keyed by (session, sf_dir) like common._NOW_CACHE.
_PAIR_CACHE: dict[tuple[int, str], DataFrame] = session_memo({})

# ...and of the signature tables themselves: (shingles, banded long) are
# the STORED INDEX artifact of the LSH family — production persists them
# per ingest and appends deltas. The full mine and the incremental delta
# mine (dedup_incremental.py) share one cached build per session instead
# of each re-shingling the corpus. The shingle set is its own memo layer:
# the prefix-filter join (setsim.py), the exhaustive miners and the
# calibration rebuild consume ONLY shingles, and charging them the
# minhash/banding build too cost a measured 29s of the textdedup k100
# sweep leg for an artifact that chain never reads.
_SH_CACHE: dict[tuple[str, str], DataFrame] = session_memo({})
_SIG_CACHE: dict[tuple[int, str], tuple[DataFrame, DataFrame]] = session_memo({})


def shingle_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached, materialized (doc_id, shingle) set — the shared base layer
    of every shingle consumer; banded minhash signatures stack on top via
    signature_tables for the callers that need them."""
    key = (app_key(spark), sf_dir)
    if key not in _SH_CACHE:
        sh = _shingles_df(spark, sf_dir).cache()
        sh.count()
        _SH_CACHE[key] = sh
    return _SH_CACHE[key]


def signature_tables(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Cached (sh, long): the (doc_id, shingle) set and the long-form
    (doc_id, n_sh, band_idx, band_key) band table, both materialized —
    `long` because the band self-join scans it twice and a bare count()
    would not materialize the pruned-away minhash aggregates."""
    key = (app_key(spark), sf_dir)
    if key not in _SIG_CACHE:
        sh = shingle_table(spark, sf_dir)
        long = banded_signatures(sh).cache()
        long.count()
        _SIG_CACHE[key] = (sh, long)
    return _SIG_CACHE[key]


def banded_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, n_sh, band_idx, band_key) long-form LSH band keys from a
    (doc_id, shingle) frame — the signature pipeline shared by the full
    mine and the incremental delta mine (dedup_incremental.py), so the two
    can never band differently."""
    sig = (
        sh.select("doc_id", *_base_hash_cols())
        .select("doc_id", *_minhash_slice_cols())
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_sh"), *_minhash_aggs())
    )
    # band key = the two 31-bit member hashes packed into one BIGINT
    # (< 2^62): integer equality join, no hashing of hex strings (r9
    # md5'd the concatenation — a third md5 per band per doc)
    band_cols = [
        (F.col(f"mh{2 * b}") * F.lit(_MH_MOD) + F.col(f"mh{2 * b + 1}")).alias(
            f"band{b}"
        )
        for b in range(N_BANDS)
    ]
    banded = sig.select("doc_id", "n_sh", *band_cols)
    # unpivot bands -> (doc_id, band_idx, band_key)
    stack_expr = ", ".join(f"'{b}', band{b}" for b in range(N_BANDS))
    return banded.selectExpr(
        "doc_id", "n_sh", f"stack({N_BANDS}, {stack_expr}) AS (band_idx, band_key)"
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup mining (the scale path): 16 minhashes per doc
    -> 8 bands of 2 -> candidate pairs within band buckets -> verified with
    exact Jaccard >= 0.7. At 100 TB the expensive all-pairs join never
    happens; only band-bucket collisions are compared."""
    memo_key = (app_key(spark), sf_dir)
    if memo_key in _PAIR_CACHE:
        return _PAIR_CACHE[memo_key]
    cand = _lsh_candidates(spark, sf_dir).cache()
    cand.count()  # cand feeds both the intersection and the final join
    result = lsh_pairs_plan(spark, sf_dir, cand).cache()
    result.count()  # materialize so the candidate table can be released
    # sh/long stay cached in _SIG_CACHE (the shared index artifact); only
    # the mine-private candidate table is dropped
    cand.unpersist()
    _PAIR_CACHE[memo_key] = result
    return result


def _lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-bucket candidate pairs (doc_a < doc_b, with set sizes)."""
    _sh, long = signature_tables(spark, sf_dir)
    l, r = long.alias("l"), long.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.col("l.n_sh").alias("n_a"),
            F.col("r.n_sh").alias("n_b"),
        )
        .distinct()
    )


def lsh_pairs_plan(
    spark: SparkSession, sf_dir: str, cand: DataFrame | None = None
) -> DataFrame:
    """The UNCACHED mine+verify pipeline — the single construction the
    memoized query materializes and the plan-fingerprint gate pins
    structurally (a memo-warm read executes as one cached scan, which
    would blind the gate to this plan).

    Verify ONLY candidate pairs: intersect shingle sets via two joins keyed
    on the candidate ids — never the all-pairs intersection (that would
    defeat LSH at scale; the oracle may do it the slow way, we must not).
    Prune the shingle table to candidate docs FIRST (broadcast semi-join):
    candidates are a vanishing fraction of the corpus, so the (doc, shingle)
    intersection shuffle moves only their shingles, not the whole table."""
    sh, _long = signature_tables(spark, sf_dir)
    if cand is None:
        cand = _lsh_candidates(spark, sf_dir)
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh_c = sh.join(F.broadcast(cand_ids), "doc_id", "leftsemi")
    sh_a = sh_c.select(F.col("doc_id").alias("doc_a"), "shingle")
    sh_b = sh_c.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.select("doc_a", "doc_b")
        .join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    verified = cand.join(inter, ["doc_a", "doc_b"]).withColumn(
        "jaccard",
        F.col("n_inter").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
    )
    return verified.filter(F.col("jaccard") >= LSH_VERIFY_THRESHOLD).select(
        "doc_a", "doc_b", "jaccard"
    )


def _sql_minhash_lsh_ctes() -> str:
    """The DuckDB twin of the LSH pipeline as a reusable CTE chain ending in
    ``lsh_pairs(doc_a, doc_b, jaccard)`` — every band-bucket candidate pair
    with its exact Jaccard, UNFILTERED so each consumer applies its own
    threshold (dedup_minhash_lsh at {LSH_VERIFY_THRESHOLD}, curation at its
    NEAR_DUP_JACCARD). The banding must mirror the Spark side exactly or a
    high-Jaccard pair missed by the bands would diverge between engines."""
    bands = ",\n         ".join(
        f"mh{2 * b} * {_MH_MOD} + mh{2 * b + 1} AS band{b}" for b in range(N_BANDS)
    )
    band_union = "\nUNION ALL\n".join(
        f"  SELECT doc_id, n_sh, '{b}' AS band_idx, band{b} AS band_key FROM banded"
        for b in range(N_BANDS)
    )
    return f"""sh AS ({_SQL_SHINGLES}),
sig AS (
  {sql_minhash_sig_select()}
), banded AS (
  SELECT doc_id, n_sh,
         {bands}
  FROM sig
), long AS (
{band_union}
), cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
                  l.n_sh AS n_a, r.n_sh AS n_b
  FROM long l JOIN long r
    ON l.band_idx = r.band_idx AND l.band_key = r.band_key
   AND l.doc_id < r.doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), lsh_pairs AS (
  SELECT c.doc_a, c.doc_b,
         CAST(i.n_inter AS DOUBLE) / CAST(c.n_a + c.n_b - i.n_inter AS DOUBLE) AS jaccard
  FROM cand c JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
)"""


def _sql_minhash_lsh() -> str:
    return f"""
WITH {_sql_minhash_lsh_ctes()}
SELECT doc_a, doc_b, jaccard FROM lsh_pairs
WHERE jaccard >= {LSH_VERIFY_THRESHOLD}
"""


# hard ceiling on either side of a gram block: block memory is O(CAP^2)
# doubles (~128 MiB at 4096), independent of how hot a label gets
EMB_BLOCK_CAP = 4096


def _cosine_block(key, pdf):
    """One bounded gram block — BLAS does in milliseconds what a
    per-element Catalyst fold interprets in seconds (measured 38s -> ~1s at
    sf0.1). key = (label, chunk_i, chunk_j): the diagonal block (i == i)
    scores its upper triangle; an off-diagonal block scores only
    cross-chunk pairs (each unordered pair lands in exactly one block).
    float64 throughout; rounded to 4 decimals before thresholding like
    every similarity in this engine."""
    import numpy as np
    import pandas as pd

    label, bi, bj = (int(k) for k in key)
    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    V = np.stack(pdf["embedding"].map(lambda a: np.asarray(a, dtype=np.float64)))
    nrm = np.linalg.norm(V, axis=1, keepdims=True)
    nrm[nrm == 0] = 1.0  # zero vectors score 0 (excluded), never NaN
    V /= nrm
    ids = pdf["vec_id"].to_numpy()
    if bi == bj:
        gram = V @ V.T
        i, j = np.triu_indices(len(ids), k=1)
        vals = gram[i, j]
    else:
        mi = (pdf["chunk"] == bi).to_numpy()
        mj = (pdf["chunk"] == bj).to_numpy()
        vals = (V[mi] @ V[mj].T).reshape(-1)
        # map gram coordinates back to positions in the combined frame
        pi, pj = np.flatnonzero(mi), np.flatnonzero(mj)
        gi, gj = np.divmod(np.arange(vals.size), len(pj))
        i, j = pi[gi], pj[gj]
        i, j = np.minimum(i, j), np.maximum(i, j)  # ids ascend with position
    sims_r = np.round(vals, 4)
    keep = sims_r >= COSINE_PAIR_THRESHOLD
    return pd.DataFrame(
        {
            "vec_a": ids[i[keep]],
            "vec_b": ids[j[keep]],
            "label": label,
            "cos_sim": sims_r[keep],
        }
    )


def _embedding_pairs_from(emb: DataFrame) -> DataFrame:
    """Label-blocked chunked cosine pairs over an arbitrary (vec_id,
    embedding, label) frame — the shared engine behind the pair mine and
    the semantic-dedup keep/drop decision (which plants its own copies
    before pairing).

    Hot labels never OOM an executor: a label with n rows is split into
    C = ceil(n / EMB_BLOCK_CAP) chunks by vec_id; every vector is
    replicated into the C blocks (min(chunk, d), max(chunk, d)) it pairs
    across, so each gram block is at most CAP x CAP while the union of
    blocks still covers every within-label pair exactly once."""
    counts = emb.groupBy("label").agg(F.count("*").alias("n_lab"))
    nch = F.greatest(F.ceil(F.col("n_lab") / F.lit(EMB_BLOCK_CAP)), F.lit(1)).cast("int")
    chunked = (
        emb.join(F.broadcast(counts), "label")
        # size-based chunk id: row_number-within-label DIV CAP guarantees
        # every chunk holds <= CAP rows regardless of vec_id distribution
        # (pmod(vec_id, nch) only bounds chunks if ids are uniform mod nch
        # inside the label); chunking never changes the OUTPUT, only the
        # block partitioning, so the oracle is untouched
        .withColumn(
            "chunk",
            F.expr(
                f"CAST((row_number() OVER (PARTITION BY label ORDER BY vec_id) - 1)"
                f" div {EMB_BLOCK_CAP} AS INT)"
            ),
        )
        .withColumn("d", F.explode(F.sequence(F.lit(0), nch - 1)))
        .select(
            "label",
            "vec_id",
            "embedding",
            "chunk",
            F.least("chunk", "d").alias("chunk_i"),
            F.greatest("chunk", "d").alias("chunk_j"),
        )
    )
    return chunked.groupBy("label", "chunk_i", "chunk_j").applyInPandas(
        _cosine_block,
        schema="vec_a long, vec_b long, label int, cos_sim double",
    )


def dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs above a threshold, blocked by the
    coarse label (the IVF-style pruning that makes this survive scale:
    within-block brute force only, vectorized in numpy per block). See
    _embedding_pairs_from for the blocking/chunking contract."""
    return _embedding_pairs_from(t(spark, sf_dir, "embeddings"))


ORACLE_EMBEDDING_PAIRS = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
       round(CAST(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS DOUBLE), 4) AS cos_sim
FROM embeddings a
JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(CAST(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS DOUBLE), 4)
      >= {COSINE_PAIR_THRESHOLD}
"""


SEMDEDUP_PLANT_STRIDE = 25
SEMDEDUP_PLANT_OFFSET = 6 << 40  # disjoint from every other plant family


def dedup_semantic_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication decision: per vector, KEEP
    unless some lower-id vector in the same label block sits within the
    cosine threshold — the witness (smallest such id) is carried for
    audit. One-pass greedy-by-id semantics (a dropped vector can still be
    another's witness), the deterministic variant that needs no iteration:
    at 100 TB it is the label-blocked pair mine plus one aggregation and
    one left join, nothing sequential.

    The raw corpus has almost no semantic dups (max organic cosine 0.475
    at sf0.01), so a re-keyed copy of every SEMDEDUP_PLANT_STRIDE-th
    vector is planted (cos 1.0 to its source) — same non-vacuousness
    convention as dedup_exact / fuzzy / phash. Planted copies must drop
    with their source as witness; organic near-pairs drop the higher id."""
    emb = t(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") % SEMDEDUP_PLANT_STRIDE == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(SEMDEDUP_PLANT_OFFSET)
    )
    corpus = emb.unionByName(planted)
    witnesses = (
        _embedding_pairs_from(corpus)
        .groupBy(F.col("vec_b").alias("vec_id"))
        .agg(F.min("vec_a").alias("witness"))
    )
    return (
        corpus.select("vec_id", "label")
        .join(witnesses, "vec_id", "left")
        .select(
            "vec_id",
            "label",
            F.col("witness").isNull().alias("kept"),
            "witness",
        )
    )


ORACLE_SEMDEDUP = f"""
WITH corpus AS (
  SELECT vec_id, embedding, label FROM embeddings
  UNION ALL
  SELECT vec_id + {SEMDEDUP_PLANT_OFFSET}, embedding, label
  FROM embeddings WHERE vec_id % {SEMDEDUP_PLANT_STRIDE} = 0
), witnesses AS (
  SELECT b.vec_id AS vec_id, MIN(a.vec_id) AS witness
  FROM corpus a
  JOIN corpus b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE round(CAST(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])) AS DOUBLE), 4)
        >= {COSINE_PAIR_THRESHOLD}
  GROUP BY 1
)
SELECT c.vec_id, c.label, w.witness IS NULL AS kept, w.witness
FROM corpus c LEFT JOIN witnesses w ON c.vec_id = w.vec_id
"""


QUERIES: dict[str, tuple] = {
    "dedup_exact": (dedup_exact, ORACLE_EXACT),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard, ORACLE_NGRAM_JACCARD),
    "dedup_minhash_lsh": (dedup_minhash_lsh, _sql_minhash_lsh()),
    "dedup_embedding_pairs": (dedup_embedding_pairs, ORACLE_EMBEDDING_PAIRS),
    "dedup_semantic_greedy": (dedup_semantic_greedy, ORACLE_SEMDEDUP),
}


FUZZY_PLANT_STRIDE = 29
FUZZY_KEY_OFFSET = 3 << 40  # disjoint from real ids AND other plants
FUZZY_NAME_LEN = 40
FUZZY_BLOCK_PREFIX = 8
FUZZY_MAX_DIST = 2


def dedup_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy key matching (entity resolution): near-identical 'names' (the
    first 40 chars of each document) found by BLOCKED Levenshtein — the
    classic record-linkage shape. Candidate pairs come only from blocks
    sharing (first 8 chars, exact length), so the edit-distance UDF-free
    comparison runs on block-local pairs, never all pairs; at 100 TB the
    block key is the shuffle key and blocks stay small.

    Both engines implement classic Levenshtein (integer edit count), so
    the oracle is value-exact. Non-vacuous: every 29th document gets a
    re-keyed twin with character 10 replaced by '#' (distance exactly 1,
    same block by construction — prefix and length survive)."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, FUZZY_NAME_LEN).alias("name")
    )
    planted = docs.filter(F.col("doc_id") % FUZZY_PLANT_STRIDE == 0).select(
        (F.col("doc_id") + FUZZY_KEY_OFFSET).alias("doc_id"),
        F.concat(
            F.substring("name", 1, 9),
            F.lit("#"),
            F.substring("name", 11, FUZZY_NAME_LEN - 10),
        ).alias("name"),
    )
    names = docs.unionByName(planted).select(
        "doc_id",
        "name",
        F.substring("name", 1, FUZZY_BLOCK_PREFIX).alias("blk"),
        F.length("name").alias("ln"),
    )
    l, r = names.alias("l"), names.alias("r")
    return (
        l.join(
            r,
            (F.col("l.blk") == F.col("r.blk"))
            & (F.col("l.ln") == F.col("r.ln"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.levenshtein(F.col("l.name"), F.col("r.name")).cast("int").alias("dist"),
        )
        .filter(F.col("dist") <= FUZZY_MAX_DIST)
    )


ORACLE_FUZZY = f"""
WITH names AS (
  SELECT doc_id, substr(text, 1, {FUZZY_NAME_LEN}) AS name FROM documents
  UNION ALL
  SELECT doc_id + {FUZZY_KEY_OFFSET},
         substr(substr(text, 1, {FUZZY_NAME_LEN}), 1, 9) || '#'
           || substr(substr(text, 1, {FUZZY_NAME_LEN}), 11, {FUZZY_NAME_LEN - 10})
  FROM documents WHERE doc_id % {FUZZY_PLANT_STRIDE} = 0
), keyed AS (
  SELECT doc_id, name, substr(name, 1, {FUZZY_BLOCK_PREFIX}) AS blk,
         length(name) AS ln
  FROM names
)
SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
       CAST(levenshtein(l.name, r.name) AS INT) AS dist
FROM keyed l JOIN keyed r
  ON l.blk = r.blk AND l.ln = r.ln AND l.doc_id < r.doc_id
WHERE levenshtein(l.name, r.name) <= {FUZZY_MAX_DIST}
"""


QUERIES["dedup_fuzzy_names"] = (dedup_fuzzy_names, ORACLE_FUZZY)
