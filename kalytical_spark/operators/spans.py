"""Exact-substring dedup: maximal duplicated token spans, the
suffix-array training-data dedup semantics (find every run of >= L
consecutive tokens that occurs at least twice in the corpus) re-expressed
as a distributed rolling L-gram pipeline instead of a suffix array:

1. explode each document into its L-token windows (one row per position);
2. one hash-groupBy marks windows whose gram occurs >= 2 times anywhere
   in the corpus (same doc or not — self-repeats count, matching the
   suffix-array formulation);
3. per-document gaps-and-islands merges runs of adjacent duplicated
   window positions into MAXIMAL spans: positions p..q all duplicated
   means tokens p..q+L-1 form one duplicated span.

This is the exact (non-probabilistic) complement to the document-level
families in dedup.py: MinHash/LSH and SemDeDup drop whole near-dup
documents, while span mining finds the boilerplate *inside* otherwise
unique documents (licence headers, templated navigation) that
document-level Jaccard never reaches.

Scale: the window table is O(total tokens) rows of fixed width (position
+ 16-byte md5 of the gram — the gram text itself never rides the
shuffle); the duplicate test is one map-side-combinable groupBy on the
hash; the mark-back join keys on the same hash and is hinted
shuffle_hash (the duplicated-gram dim is corpus-vocabulary-sized —
broadcasting it is the scale-killer the repo banned in r4); the island
merge is a window partitioned BY DOCUMENT (bounded partitions, no
unpartitioned window). At 100 TB every stage is a single keyed shuffle.

Non-vacuity: the raw corpus is near-random token soup (20-ish-word
vocabulary, 8-token chance collisions are ~20^-8-rare), so the input is
the corpus PLUS a deterministic one-token-mutated twin of every 40th
document (doc_id + SPAN_PLANT_OFFSET = 8 << 40, the next free offset in
the plant registry, see dedup.py): the middle token is replaced, so each
plant shares exactly two maximal spans with its original — the left half
and the right half — exercising the island SPLIT as well as the merge.
Both engines re-derive the plants from the same arithmetic.

Reference scope: the reference (westernspion/kalytical) has no text
analytics at all; this family is part of the mandated LLM-data-pipeline
surface (dedup beyond document level).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .common import app_key, session_memo, t

SPAN_PLANT_OFFSET = 8 << 40
SPAN_PLANT_MOD = 40
SPAN_L = 8  # minimum duplicated run, in tokens
_MIN_PLANT_TOKS = 4  # both halves non-degenerate

# session memo of the duplicated-window position table (the setsim
# _SETSIM_CACHE pattern, r9): all three family queries consume it, and
# uncached each re-paid the gram explode + 40M-at-k100 md5 pass — the
# dominant leg of each. In production this is the stored artifact of a
# span-dedup ingest, so the memo mirrors the deployment shape.
_POS_CACHE: dict[tuple[str, str], DataFrame] = session_memo({})


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, ts): documents plus middle-token-mutated twins."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split("text", " ").alias("ts")
    )
    m = F.floor(F.size("ts") / 2).cast("int")
    plants = docs.filter(
        (F.col("doc_id") % SPAN_PLANT_MOD == 0) & (F.size("ts") >= _MIN_PLANT_TOKS)
    ).select(
        (F.col("doc_id") + F.lit(SPAN_PLANT_OFFSET)).alias("doc_id"),
        "source",
        F.concat(
            F.slice(F.col("ts"), F.lit(1), m - 1),
            F.array(F.lit("xq")),
            F.slice(F.col("ts"), m + 1, F.size("ts") - m),
        ).alias("ts"),
    )
    return docs.unionByName(plants)


def _dup_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized (doc_id, source, n_toks, pos) duplicated-window table —
    see dup_positions_plan for the construction (pinnable uncached twin)."""
    key = (app_key(spark), sf_dir)
    if key not in _POS_CACHE:
        pos = dup_positions_plan(spark, sf_dir).cache()
        pos.count()
        _POS_CACHE[key] = pos
    return _POS_CACHE[key]


def dup_positions_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, n_toks, pos) for every L-window whose gram occurs
    >= 2 times corpus-wide. Grams ride as md5 hashes, never as text."""
    # guard: Spark's sequence(1, n) flips to a DESCENDING sequence when
    # n < 1, so short docs are filtered out instead of clamped (DuckDB's
    # range(1, n) is simply empty for n <= 1 — the filter keeps parity)
    corpus = _corpus(spark, sf_dir).filter(F.size("ts") >= SPAN_L)
    grams = corpus.select(
        "doc_id",
        "source",
        F.size("ts").cast("bigint").alias("n_toks"),
        F.explode(
            F.expr(
                f"transform(sequence(1, size(ts) - {SPAN_L} + 1), "
                f"i -> struct(i AS pos, md5(concat_ws(' ', slice(ts, i, {SPAN_L}))) AS g))"
            )
        ).alias("w"),
    ).select("doc_id", "source", "n_toks", F.col("w.pos").alias("pos"), F.col("w.g").alias("g"))
    dup = grams.groupBy("g").agg(F.count("*").alias("n_occ")).filter(F.col("n_occ") >= 2)
    return grams.join(dup.hint("shuffle_hash"), "g", "left_semi").select(
        "doc_id", "source", "n_toks", "pos"
    )


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated token spans per document: (doc_id, span_start,
    span_end, span_ntoks, n_windows), token positions 1-based inclusive."""
    pos = _dup_positions(spark, sf_dir)
    wdoc = W.partitionBy("doc_id").orderBy("pos")
    isl = pos.withColumn("isl", F.col("pos") - F.row_number().over(wdoc))
    return isl.groupBy("doc_id", "isl").agg(
        F.min("pos").cast("bigint").alias("span_start"),
        (F.max("pos") + F.lit(SPAN_L - 1)).cast("bigint").alias("span_end"),
        (F.max("pos") - F.min("pos") + F.lit(SPAN_L)).cast("bigint").alias("span_ntoks"),
        F.count("*").cast("bigint").alias("n_windows"),
    ).drop("isl")


def dedup_substring_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication rate: tokens inside duplicated spans over
    total tokens (spans within a doc are disjoint by the maximal-merge
    construction, so summing span_ntoks never double-counts). Exact
    integer milli-rate via truncating div (identical in both engines)."""
    pos = _dup_positions(spark, sf_dir)
    wdoc = W.partitionBy("doc_id").orderBy("pos")
    isl = pos.withColumn("isl", F.col("pos") - F.row_number().over(wdoc))
    spans = isl.groupBy("doc_id", "source", "isl").agg(
        (F.max("pos") - F.min("pos") + F.lit(SPAN_L)).alias("span_ntoks")
    )
    dup_by_doc = spans.groupBy("doc_id", "source").agg(
        F.sum("span_ntoks").cast("bigint").alias("dup_toks")
    )
    sizes = _corpus(spark, sf_dir).select(
        "doc_id", "source", F.size("ts").cast("bigint").alias("n_toks")
    )
    per_source = (
        sizes.join(dup_by_doc.select("doc_id", "dup_toks"), "doc_id", "left")
        .na.fill({"dup_toks": 0})
        .groupBy("source")
        .agg(
            F.sum("n_toks").cast("bigint").alias("total_toks"),
            F.sum("dup_toks").cast("bigint").alias("dup_toks"),
            F.count("*").cast("bigint").alias("n_docs"),
        )
    )
    return per_source.select(
        "source",
        "n_docs",
        "total_toks",
        "dup_toks",
        F.expr("(1000 * dup_toks) div total_toks").cast("bigint").alias("dup_rate_milli"),
    )


_SQL_CORPUS = f"""
  SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents
  UNION ALL
  SELECT doc_id + {SPAN_PLANT_OFFSET}, source,
         list_concat(list_concat(ts[1:(len(ts) // 2) - 1], ['xq']),
                     ts[(len(ts) // 2) + 1:]) AS ts
  FROM (SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents)
  WHERE doc_id % {SPAN_PLANT_MOD} = 0 AND len(ts) >= {_MIN_PLANT_TOKS}
"""

_SQL_DUP_POS = f"""
corpus AS ({_SQL_CORPUS}),
grams AS (
  SELECT doc_id, source, CAST(len(ts) AS BIGINT) AS n_toks, i AS pos,
         md5(list_aggregate(ts[i:i + {SPAN_L} - 1], 'string_agg', ' ')) AS g
  FROM corpus, unnest(range(1, greatest(len(ts) - {SPAN_L} + 2, 1))) AS u(i)
),
dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2),
pos AS (
  SELECT doc_id, source, n_toks, pos FROM grams WHERE g IN (SELECT g FROM dup)
),
isl AS (
  SELECT doc_id, source, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
  FROM pos
)
"""

ORACLE_SPANS = f"""
WITH {_SQL_DUP_POS}
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + {SPAN_L} - 1 AS BIGINT) AS span_end,
       CAST(MAX(pos) - MIN(pos) + {SPAN_L} AS BIGINT) AS span_ntoks,
       CAST(COUNT(*) AS BIGINT) AS n_windows
FROM isl
GROUP BY doc_id, isl
"""

ORACLE_RATE = f"""
WITH {_SQL_DUP_POS},
spans AS (
  SELECT doc_id, source, MAX(pos) - MIN(pos) + {SPAN_L} AS span_ntoks
  FROM isl GROUP BY doc_id, source, isl
),
dup_by_doc AS (
  SELECT doc_id, CAST(SUM(span_ntoks) AS BIGINT) AS dup_toks
  FROM spans GROUP BY doc_id
),
sizes AS (SELECT doc_id, source, CAST(len(ts) AS BIGINT) AS n_toks FROM corpus)
SELECT s.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(s.n_toks) AS BIGINT) AS total_toks,
       CAST(SUM(COALESCE(d.dup_toks, 0)) AS BIGINT) AS dup_toks,
       CAST((1000 * SUM(COALESCE(d.dup_toks, 0))) // SUM(s.n_toks) AS BIGINT)
         AS dup_rate_milli
FROM sizes s LEFT JOIN dup_by_doc d USING (doc_id)
GROUP BY s.source
"""


def dedup_substring_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The family's consumer: the corpus with every duplicated span
    excised (the conservative excise-all variant — text seen twice is
    dropped EVERYWHERE; keeping one canonical occurrence is ill-posed at
    the maximal-span level because overlapping sharing patterns give each
    doc a differently-extended maximal span). Per doc: token accounting
    plus `clean_fp`, the md5 of the surviving tokens in order — a
    value-level proof that both engines reconstruct the SAME cleaned
    text, not just the same counts.

    Plan: tokens posexplode (O(total tokens)); covered-position test is a
    left join on doc_id with a disjoint-interval containment predicate
    (spans within a doc are disjoint, so the join cannot multiply rows);
    reconstruction is one per-doc sort_array(collect_list(struct(pos,
    tok))) — bounded by document length, partitioned by doc."""
    pos = _dup_positions(spark, sf_dir)
    wdoc = W.partitionBy("doc_id").orderBy("pos")
    isl = pos.withColumn("isl", F.col("pos") - F.row_number().over(wdoc))
    spans = isl.groupBy("doc_id", "isl").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(SPAN_L - 1)).alias("span_end"),
    )
    toks = _corpus(spark, sf_dir).select(
        "doc_id",
        F.size("ts").cast("bigint").alias("n_toks"),
        F.posexplode("ts").alias("pos0", "tok"),
    ).select("doc_id", "n_toks", (F.col("pos0") + 1).alias("pos"), "tok")
    s = spans.select(F.col("doc_id").alias("s_doc"), "span_start", "span_end")
    marked = toks.join(
        s,
        (F.col("doc_id") == F.col("s_doc"))
        & (F.col("pos") >= F.col("span_start"))
        & (F.col("pos") <= F.col("span_end")),
        "left",
    ).select(
        "doc_id",
        "n_toks",
        "pos",
        "tok",
        F.col("span_start").isNotNull().alias("covered"),
    )
    return marked.groupBy("doc_id").agg(
        F.min("n_toks").alias("n_toks"),
        F.sum(F.col("covered").cast("bigint")).alias("dup_toks"),
        (F.min("n_toks") - F.sum(F.col("covered").cast("bigint"))).alias(
            "clean_n_toks"
        ),
        F.md5(
            F.concat_ws(
                " ",
                F.expr(
                    "transform(sort_array(collect_list(CASE WHEN NOT covered "
                    "THEN struct(pos, tok) END)), x -> x.tok)"
                ),
            )
        ).alias("clean_fp"),
    )


ORACLE_EXCISE = f"""
WITH {_SQL_DUP_POS},
spans AS (
  SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + {SPAN_L} - 1 AS span_end
  FROM isl GROUP BY doc_id, isl
),
toks AS (
  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_toks, i AS pos, ts[i] AS tok
  FROM corpus, unnest(range(1, len(ts) + 1)) AS u(i)
),
marked AS (
  SELECT t.doc_id, t.n_toks, t.pos, t.tok,
         (s.span_start IS NOT NULL) AS covered
  FROM toks t LEFT JOIN spans s
    ON t.doc_id = s.doc_id AND t.pos >= s.span_start AND t.pos <= s.span_end
)
SELECT doc_id,
       CAST(MIN(n_toks) AS BIGINT) AS n_toks,
       CAST(SUM(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT) AS dup_toks,
       CAST(MIN(n_toks) - SUM(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT)
         AS clean_n_toks,
       md5(COALESCE(string_agg(CASE WHEN NOT covered THEN tok END, ' '
                               ORDER BY pos), '')) AS clean_fp
FROM marked
GROUP BY doc_id
"""


QUERIES: dict[str, tuple] = {
    "dedup_substring_spans": (dedup_substring_spans, ORACLE_SPANS),
    "dedup_substring_rate": (dedup_substring_rate, ORACLE_RATE),
    "dedup_substring_excise": (dedup_substring_excise, ORACLE_EXCISE),
}
