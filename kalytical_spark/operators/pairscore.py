"""Pairwise text scoring over the verified near-duplicate pairs — the
eval tier that sits on top of the dedup miners:

* ``text_bleu_near_pairs`` — modified (clipped) BLEU-style n-gram
  precision (Papineni et al. 2002) for every verified MinHash-LSH pair:
  unigram and bigram clipped precision, length ratio, and the BLEU-2
  geometric mean. Near-dup miners answer "are these the same?"; BLEU
  answers "HOW same, in the order-sensitive sense" — token-bag Jaccard
  is blind to word order, bigram precision is not.
* ``dedup_threshold_sweep`` — dedup ROI curve over the same verified
  pairs: pair count, affected-doc count, and the dedup rate at each
  candidate Jaccard threshold. Every production dedup run starts with
  exactly this tuning table. Thresholds start at LSH_VERIFY_THRESHOLD
  (sweeping below it would need pairs the bands never verified — the
  same contract curation.py documents).

Exactness: clipped counts are Σ min(c_a, c_b) BIGINTs; precisions are
one truncating div into micro-units; BLEU-2 is a single sqrt of the
exact micro product. Scale: the pair frame is the LSH miner's output
(sub-quadratic, planted-dup-sized); both token-count joins prune to
pair docs with a broadcast semi-join before shuffling anything, the
dedup.py convention.

Reference parity: the reference has no pairwise-text surface (no
analytics code at all — it is a Mongo/K8s orchestrator); this tier
exists for the mandated dedup-evaluation side of the LLM pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import t
from .dedup import LSH_VERIFY_THRESHOLD, _sql_minhash_lsh_ctes, dedup_minhash_lsh

SWEEP_THRESHOLDS = (0.7, 0.8, 0.9)
assert min(SWEEP_THRESHOLDS) >= LSH_VERIFY_THRESHOLD


def text_bleu_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clipped n-gram precision per verified near-dup pair, treating the
    lower doc_id (doc_a) as reference and the higher as candidate:
    p_n = Σ_g min(c_a(g), c_b(g)) / |grams_n(b)| for n = 1, 2, plus the
    exact length ratio and BLEU-2 = sqrt(p1·p2).

    Determinism: clip sums are BIGINT; p_n quantizes via one truncating
    div into micro-units; bleu2 is one IEEE sqrt of the exact micro
    product, rounded to 4. A pair with zero shared bigrams coalesces to
    exactly 0 (left join).

    Scale: pair-count-bounded — gram tables prune to pair docs via
    broadcast semi-joins before the counting shuffle (the LSH verify
    convention), so the gram join moves only near-dup docs' grams."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    pair_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    pdocs = docs.join(F.broadcast(pair_ids), "doc_id", "leftsemi")

    # ONE fused gram pass for both orders: explode struct(n, gram) rows
    # for unigrams and bigrams together, count once, and run ONE clip join
    # keyed on (gram, n). The first cut ran a separate explode/agg/join
    # chain per order and its wall was pure stage overhead (the pair-doc
    # frames are kilobytes) — fusing halves the stage count.
    ts = F.split(F.col("text"), " ")
    both = F.concat(
        F.transform(ts, lambda x: F.struct(F.lit(1).alias("n"), x.alias("gram"))),
        F.zip_with(
            F.slice(ts, 1, F.greatest(F.size(ts) - 1, F.lit(0))),
            F.slice(ts, 2, F.greatest(F.size(ts) - 1, F.lit(0))),
            lambda a, b: F.struct(
                F.lit(2).alias("n"), F.concat_ws(" ", a, b).alias("gram")
            ),
        ),
    )
    # pin: three consumers (ca, cb, tots) each re-ran the gram explode +
    # count chain (~0.55 s x 3 at sf0.1, and the repeated subtree made the
    # query's variance erratic); the frame is pair-doc-bounded at any
    # scale, so the checkpoint is small by construction (guide §2.4)
    counts = (
        pdocs.select("doc_id", F.explode(both).alias("g"))
        .groupBy("doc_id", "g.n", "g.gram")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    tots = counts.groupBy("doc_id").agg(
        F.sum(F.when(F.col("n") == 1, F.col("c"))).alias("n1"),
        F.sum(F.when(F.col("n") == 2, F.col("c"))).alias("n2"),
    )
    ca = counts.select(
        F.col("doc_id").alias("doc_a"), "n", "gram", F.col("c").alias("ca")
    )
    cb = counts.select(
        F.col("doc_id").alias("doc_b"), "n", "gram", F.col("c").alias("cb")
    )
    clipped = (
        pairs.join(ca, "doc_a")
        .join(cb, ["doc_b", "n", "gram"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.when(F.col("n") == 1, F.least("ca", "cb"))).alias("clip1"),
            F.sum(F.when(F.col("n") == 2, F.least("ca", "cb"))).alias("clip2"),
        )
    )
    return (
        pairs.join(clipped, ["doc_a", "doc_b"], "left")
        .join(
            tots.select(
                F.col("doc_id").alias("doc_b"),
                F.col("n1").alias("n1_b"),
                F.col("n2").alias("n2_b"),
            ),
            "doc_b",
        )
        .join(
            tots.select(F.col("doc_id").alias("doc_a"), F.col("n1").alias("n1_a")),
            "doc_a",
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("n1_a").cast("bigint").alias("n1_a"),
            F.col("n1_b").cast("bigint").alias("n1_b"),
            F.expr(
                "CAST((1000000 * coalesce(clip1, 0)) div n1_b AS BIGINT)"
            ).alias("p1_micro"),
            F.expr(
                "CAST((1000000 * coalesce(clip2, 0)) div n2_b AS BIGINT)"
            ).alias("p2_micro"),
            F.expr("CAST((1000 * n1_b) div n1_a AS BIGINT)").alias("len_ratio_milli"),
            F.expr(
                "ROUND(SQRT(CAST(((1000000 * coalesce(clip1, 0)) div n1_b)"
                " * ((1000000 * coalesce(clip2, 0)) div n2_b) AS DOUBLE)) / 1e6, 4)"
            ).alias("bleu2"),
        )
    )


def _bleu_oracle() -> str:
    return f"""
WITH {_sql_minhash_lsh_ctes()},
bl_pairs AS (
  SELECT doc_a, doc_b FROM lsh_pairs WHERE jaccard >= {LSH_VERIFY_THRESHOLD}
), bl_uni AS (
  SELECT doc_id, tok AS gram, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY 1, 2
), bl_bi AS (
  SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT doc_id, ts[i] || ' ' || ts[i+1] AS gram
    FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         unnest(range(1, len(ts))) AS u(i)
    WHERE len(ts) >= 2
  ) GROUP BY 1, 2
), bl_tot1 AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n1 FROM bl_uni GROUP BY 1
), bl_tot2 AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n2 FROM bl_bi GROUP BY 1
), bl_clip1 AS (
  SELECT p.doc_a, p.doc_b, CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS clip
  FROM bl_pairs p
  JOIN bl_uni a ON a.doc_id = p.doc_a
  JOIN bl_uni b ON b.doc_id = p.doc_b AND b.gram = a.gram
  GROUP BY 1, 2
), bl_clip2 AS (
  SELECT p.doc_a, p.doc_b, CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS clip
  FROM bl_pairs p
  JOIN bl_bi a ON a.doc_id = p.doc_a
  JOIN bl_bi b ON b.doc_id = p.doc_b AND b.gram = a.gram
  GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b,
       ta.n1 AS n1_a, tb.n1 AS n1_b,
       CAST((1000000 * COALESCE(c1.clip, 0)) // tb.n1 AS BIGINT) AS p1_micro,
       CAST((1000000 * COALESCE(c2.clip, 0)) // tb2.n2 AS BIGINT) AS p2_micro,
       CAST((1000 * tb.n1) // ta.n1 AS BIGINT) AS len_ratio_milli,
       ROUND(SQRT(CAST(CAST((1000000 * COALESCE(c1.clip, 0)) // tb.n1 AS BIGINT)
                       * CAST((1000000 * COALESCE(c2.clip, 0)) // tb2.n2 AS BIGINT)
                       AS DOUBLE)) / 1e6, 4) AS bleu2
FROM bl_pairs p
LEFT JOIN bl_clip1 c1 ON c1.doc_a = p.doc_a AND c1.doc_b = p.doc_b
LEFT JOIN bl_clip2 c2 ON c2.doc_a = p.doc_a AND c2.doc_b = p.doc_b
JOIN bl_tot1 ta ON ta.doc_id = p.doc_a
JOIN bl_tot1 tb ON tb.doc_id = p.doc_b
LEFT JOIN bl_tot2 tb2 ON tb2.doc_id = p.doc_b
"""


def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup ROI curve: at each Jaccard threshold (>= the LSH verify
    floor, where the verified pair set is exact over candidates), how
    many pairs survive, how many distinct docs are touched, and the
    corpus dedup rate if every touched doc's duplicates were dropped
    (docs_touched - as many keepers as there are, approximated by the
    affected-doc count minus pair-graph components is a components.py
    job — this table reports the cheap upper bound docs_touched, the
    number every threshold comparison actually uses).

    Exactness: counts and one truncating div. Scale: the verified pair
    frame is computed ONCE (session memo in dedup.py) and re-filtered
    per threshold — a 3-row broadcast of thresholds against the
    pair-count-bounded frame."""
    pairs = dedup_minhash_lsh(spark, sf_dir)  # (doc_a, doc_b, jaccard >= 0.7)
    n_docs = t(spark, sf_dir, "documents").groupBy().agg(
        F.count("*").alias("n_docs")
    )
    thr = spark.createDataFrame(
        [(t_,) for t_ in SWEEP_THRESHOLDS], ["threshold"]
    )
    hits = pairs.crossJoin(F.broadcast(thr)).filter(
        F.col("jaccard") >= F.col("threshold")
    )
    docs_touched = (
        hits.select("threshold", F.col("doc_a").alias("d"))
        .union(hits.select("threshold", F.col("doc_b").alias("d")))
        .groupBy("threshold")
        .agg(F.countDistinct("d").alias("docs_touched"))
    )
    return (
        thr.join(
            hits.groupBy("threshold").agg(F.count("*").alias("n_pairs")),
            "threshold",
            "left",
        )
        .join(docs_touched, "threshold", "left")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).cast("bigint").alias("n_pairs"),
            F.coalesce("docs_touched", F.lit(0)).cast("bigint").alias("docs_touched"),
            F.expr(
                "CAST((1000 * coalesce(docs_touched, 0)) div n_docs AS BIGINT)"
            ).alias("touched_milli"),
        )
    )


def _sweep_oracle() -> str:
    legs = "\nUNION ALL\n".join(
        f"""SELECT CAST({t_} AS DOUBLE) AS threshold,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT d) AS BIGINT) AS docs_touched
FROM (
  SELECT doc_a AS d, jaccard FROM lsh_pairs
  UNION ALL SELECT doc_b, jaccard FROM lsh_pairs
) WHERE jaccard >= {t_}"""
        for t_ in SWEEP_THRESHOLDS
    )
    return f"""
WITH {_sql_minhash_lsh_ctes()},
sw_legs AS (
{legs}
)
SELECT threshold, n_pairs // 2 AS n_pairs, docs_touched,
       CAST((1000 * docs_touched)
            // (SELECT COUNT(*) FROM documents) AS BIGINT) AS touched_milli
FROM sw_legs
"""


QUERIES: dict[str, tuple] = {
    "text_bleu_near_pairs": (text_bleu_near_pairs, _bleu_oracle()),
    "dedup_threshold_sweep": (dedup_threshold_sweep, _sweep_oracle()),
}


def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration on the verified pairs: per near-dup
    pair, how many of the 16 minhashes agree (the sketch's Jaccard
    estimate, E[matches/16] = J) next to the EXACT verified Jaccard, with
    the signed estimation error in milli. The table every sketch-based
    dedup deployment builds once to decide whether 16 hashes are enough
    at its threshold — systematic bias here means the banding math is
    wrong, spread is the expected binomial noise.

    Exactness: n_match is a sum of 16 BIGINT-equality indicators (both
    engines derive the same 31-bit minhash values from the same md5 hex
    slices — dedup._minhash_slice_cols / dedup.sql_minhash_sig_select);
    est_milli is one truncating div; the exact Jaccard is the pair
    miner's own rounded output, re-derived by the oracle from shingle
    sets.

    Scale: two broadcast joins of the signature table against the
    pair-bounded frame; signatures come off the CACHED shingle table
    (one groupBy, the mine already paid it)."""
    from .dedup import (
        _base_hash_cols,
        _minhash_aggs,
        _minhash_slice_cols,
        signature_tables,
    )

    pairs = dedup_minhash_lsh(spark, sf_dir)  # (doc_a, doc_b, jaccard)
    sh, _long = signature_tables(spark, sf_dir)
    # prune shingles to PAIR DOCS before the 16-min aggregate: calibration
    # is a pair diagnostic, so its signature rebuild must be pair-bounded,
    # not corpus-bounded (unpruned, the rebuild re-paid the full corpus
    # signature pass — measured 50s at the k10 sweep point vs ~2s pruned)
    pair_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sig = (
        sh.join(F.broadcast(pair_ids), "doc_id", "leftsemi")
        .select("doc_id", *_base_hash_cols())
        .select("doc_id", *_minhash_slice_cols())
        .groupBy("doc_id")
        .agg(*_minhash_aggs())
    )
    from .dedup import N_MINHASH

    sig_a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(N_MINHASH)],
    )
    sig_b = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(N_MINHASH)],
    )
    match_expr = " + ".join(
        f"CASE WHEN a{i} = b{i} THEN 1 ELSE 0 END" for i in range(N_MINHASH)
    )
    return (
        pairs.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr(f"CAST({match_expr} AS BIGINT)").alias("n_match"),
            F.expr(
                f"CAST((1000 * ({match_expr})) div {N_MINHASH} AS BIGINT)"
            ).alias("est_milli"),
            "jaccard",
            F.expr(
                f"CAST((1000 * ({match_expr})) div {N_MINHASH}"
                " - CAST(ROUND(jaccard * 1000) AS BIGINT) AS BIGINT)"
            ).alias("err_milli"),
        )
    )


def _calibration_oracle() -> str:
    from .dedup import LSH_VERIFY_THRESHOLD as _THR
    from .dedup import N_MINHASH, sql_minhash_sig_select

    match = " + ".join(
        f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END"
        for i in range(N_MINHASH)
    )
    return f"""
WITH {_sql_minhash_lsh_ctes()},
cal_pairs AS (
  SELECT doc_a, doc_b, jaccard FROM lsh_pairs WHERE jaccard >= {_THR}
), cal_sig AS (
  {sql_minhash_sig_select(with_n_sh=False)}
)
SELECT p.doc_a, p.doc_b,
       CAST({match} AS BIGINT) AS n_match,
       CAST((1000 * ({match})) // {N_MINHASH} AS BIGINT) AS est_milli,
       p.jaccard,
       CAST((1000 * ({match})) // {N_MINHASH}
            - CAST(ROUND(p.jaccard * 1000) AS BIGINT) AS BIGINT) AS err_milli
FROM cal_pairs p
JOIN cal_sig sa ON sa.doc_id = p.doc_a
JOIN cal_sig sb ON sb.doc_id = p.doc_b
"""


QUERIES["dedup_minhash_calibration"] = (
    dedup_minhash_calibration,
    _calibration_oracle(),
)
