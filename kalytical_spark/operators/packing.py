"""Document-boundary-respecting sequence packing: multi-round prefix-sum
bin packing of whole documents into fixed-capacity training sequences —
the packing variant used when crossing document boundaries is not
acceptable (SFT / instruction data), complementing the concat-and-chop
packer in preprocess.pack_context_windows (which models pretraining
packing where chopping is fine).

Scheme (r10 — replaces the r9 power-of-2 length-bucket scheme, whose
rounding waste measured 598 overhead_milli at sf0.1; VERDICT r9 task 5):
each round sorts its documents (packed_tok asc, doc_id) inside bounded
(source, shard) window groups, takes the running token prefix-sum, and
assigns pack_idx = cum_before div PACK_CAP. A document whose span would
cross a PACK_CAP boundary (a "straddler"), and every document of a
group's final partial pack (a "tail"), is EJECTED to the next round,
where the shard count shrinks 4x so tails merge across shards. Three
unrolled rounds, then each survivor becomes a singleton pack. Packs are
feasible BY CONSTRUCTION: a kept document's whole token span lies inside
one PACK_CAP window, so a pack's actual token load can never exceed
PACK_CAP — no slot rounding anywhere, the packs hold real token counts.

Measured at sf0.1 (DuckDB twin, exact; re-measured r11 on current code —
the r10 round carried two numbers from different code days, 179 in this
docstring vs 159 in the round-close notes; 159 is the current value):
overhead vs the ceil(tokens/capacity) lower bound 598 -> 159 milli
(624 packs vs a 538-pack lower bound), fill 614 -> 847 milli, zero
capacity violations, 15/5000 singleton leftovers. The residual is
intrinsic to the one-pass boundary rule: mean padding is ~78 tokens per
512-token pack, i.e. one straddle hole of ~half an average document
(the doc whose span would cross the boundary is ejected, leaving the
hole), plus the merged final tails — matching the analytic estimate, so
no further rounds are scheduled against it. The efficiency rollup
reports it per source so the approximation quality stays a measured,
oracle-checked number.

Scale: every step is a window over (source x shard) groups — round 1
shards = PACK_SHARDS (the knob that tracks cluster size), round r shards
shrink 4x per round while the ejected mass shrinks ~5x per round
(straddlers are ~one document per pack, tails one partial pack per
group), so per-group row counts stay bounded at every round. Everything
else is one groupBy. No sequential state anywhere (true first-fit-
decreasing is inherently sequential and would funnel the corpus through
one driver loop).

Determinism: token counts are whitespace splits (the repo's shared
convention); prefix sums order by (packed_tok asc, doc_id) — a total
order; all arithmetic is integer div on BIGINTs (identical in both
engines); oversize docs (> PACK_CAP tokens) are truncated to capacity
and flagged, one per pack.

Reference scope: no packing surface in the reference (a job orchestrator);
this is part of the mandated LLM-training-data-pipeline family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .common import t

PACK_CAP = 512  # tokens per training sequence (preprocess.PACK_WINDOW twin)
PACK_SHARDS = 8  # round-1 parallelism of the per-group rank; cluster-sized

# (round, shard_count, eject_tail): shards shrink 4x per round so ejected
# tails merge across shards while per-group row counts stay bounded (the
# ejected mass shrinks ~5x per round); the last round keeps its tail
# (nothing to merge into) and its straddlers become singleton packs. The
# geometric decay is tied to PACK_SHARDS so a production setting (e.g.
# 10k shards on a large cluster) keeps EVERY round's windows bounded —
# a hardcoded final shard count of 1 would funnel round 3's straddler
# mass (~one doc per round-2 pack) through one window per source.
_ROUNDS = [
    (1, PACK_SHARDS, True),
    (2, max(1, PACK_SHARDS // 4), True),
    (3, max(1, PACK_SHARDS // 16), False),
]

_COLS = ["doc_id", "source", "n_tok", "packed_tok", "truncated"]


def _staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL text coalesces to 0 tokens: size(split(NULL)) is NULL in both
    # engines, and a NULL n_tok/packed_tok fails BOTH routing filters
    # (== PACK_CAP and < PACK_CAP), silently dropping the document from
    # every pack — an engine-agreeing bug the oracle gate cannot catch on
    # clean fixtures (ADVICE r10). 0-token docs ride the normal prefix-sum
    # path (they consume no capacity) so conservation holds on dirty data;
    # non-null text is always >= 1 token (split('') == ['']).
    n_tok = F.coalesce(
        F.size(F.split("text", " ")).cast("bigint"), F.lit(0).cast("bigint")
    )
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        n_tok.alias("n_tok"),
        F.least(n_tok, F.lit(PACK_CAP)).cast("bigint").alias("packed_tok"),
        (n_tok > PACK_CAP).alias("truncated"),
    )


def _round_assign(df: DataFrame, rnd: int, shards: int, eject_tail: bool):
    """(kept-with-pack_id, ejected) for one packing round. cum_before is
    the exclusive prefix token sum inside the (source, shard) group; a doc
    is kept iff its span fits inside one PACK_CAP window (and, when
    eject_tail, its pack is not the group's final partial pack)."""
    shard = (F.pmod(F.col("doc_id"), F.lit(shards)) if shards > 1 else F.lit(0)).cast(
        "bigint"
    )
    df = df.withColumn("shard", shard)
    w = W.partitionBy("source", "shard").orderBy(F.asc("packed_tok"), F.asc("doc_id"))
    grp = W.partitionBy("source", "shard")
    df = df.withColumn(
        "cb",
        F.coalesce(
            F.sum("packed_tok").over(w.rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0).cast("bigint"),
        ),
    ).withColumn("pk", F.expr(f"cb div {PACK_CAP}"))
    keep = (F.col("cb") + F.col("packed_tok")) <= (F.lit(PACK_CAP) * (F.col("pk") + 1))
    if eject_tail:
        df = df.withColumn(
            "grp_tokens", F.max(F.col("cb") + F.col("packed_tok")).over(grp)
        )
        # eject only PARTIAL final packs: pk < grp_tokens div CAP keeps an
        # exactly-full last pack (grp_tokens a multiple of CAP) instead of
        # pointlessly re-packing a zero-waste pack through later rounds
        keep = keep & (F.col("pk") < F.expr(f"grp_tokens div {PACK_CAP}"))
    df = df.withColumn("keep", keep)
    kept = df.filter("keep").select(
        *_COLS,
        F.concat_ws(
            "|",
            F.col("source"),
            F.lit(f"r{rnd}"),
            F.col("shard").cast("string"),
            F.col("pk").cast("string"),
        ).alias("pack_id"),
    )
    ejected = df.filter("NOT keep").select(*_COLS)
    return kept, ejected


def _assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    staged = _staged(spark, sf_dir)
    full = staged.filter(F.col("packed_tok") == PACK_CAP).select(
        *_COLS,
        F.concat_ws("|", F.col("source"), F.lit("full"), F.col("doc_id")).alias(
            "pack_id"
        ),
    )
    rest = staged.filter(F.col("packed_tok") < PACK_CAP)
    parts = [full]
    for rnd, shards, eject_tail in _ROUNDS:
        kept, rest = _round_assign(rest, rnd, shards, eject_tail)
        # materialize the (small, ~5x-shrinking) ejected frame: without
        # this, every later union branch re-executes all earlier rounds'
        # corpus-scale window cascades — ReuseExchange dedups only the
        # shuffle, not the sort/window above it. localCheckpoint blocks
        # are released with the frame by the context cleaner (the bpe.py
        # iterative-state convention; on a cluster that must survive
        # executor loss, reliable checkpoint() — DEPLOY.md section 5).
        rest = rest.localCheckpoint()
        parts.append(kept)
    solos = rest.select(
        *_COLS,
        F.concat_ws("|", F.col("source"), F.lit("solo"), F.col("doc_id")).alias(
            "pack_id"
        ),
    )
    parts.append(solos)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def docs_pack_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document pack assignment (doc_id, source, n_tok, packed_tok,
    truncated, pack_id) — deterministic, no sequential state, packs
    capacity-feasible by construction."""
    return _assignments(spark, sf_dir)


def docs_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source packing scorecard: pack count vs the theoretical lower
    bound, realized fill, padding waste, truncation count — the number a
    pipeline owner actually watches (overhead_milli is the price of the
    boundary-respecting constraint + the one-pass approximation)."""
    a = _assignments(spark, sf_dir)
    # ONE consumption of the assignment tree: doc counts roll up through
    # the per-pack aggregate (n_docs = sum of per-pack doc counts), so the
    # corpus-scale union is aggregated once, not once per rollup branch
    per_pack = a.groupBy("source", "pack_id").agg(
        F.sum("packed_tok").alias("pack_tokens"),
        F.count("*").alias("pack_docs"),
        F.sum(F.col("truncated").cast("bigint")).alias("pack_trunc"),
    )
    per_source = per_pack.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_packs"),
        F.sum("pack_tokens").cast("bigint").alias("packed_tokens"),
        F.sum("pack_docs").cast("bigint").alias("n_docs"),
        F.sum("pack_trunc").cast("bigint").alias("n_truncated"),
    )
    lb = F.expr(f"(packed_tokens + {PACK_CAP} - 1) div {PACK_CAP}").cast("bigint")
    return (
        per_source
        .select(
            "source",
            "n_docs",
            "n_truncated",
            "n_packs",
            "packed_tokens",
            (F.col("n_packs") * PACK_CAP - F.col("packed_tokens"))
            .cast("bigint")
            .alias("padding_tokens"),
            F.expr(f"(1000 * packed_tokens) div (n_packs * {PACK_CAP})")
            .cast("bigint")
            .alias("fill_milli"),
            lb.alias("lower_bound_packs"),
            F.expr(
                f"(1000 * (n_packs - (packed_tokens + {PACK_CAP} - 1) div {PACK_CAP}))"
                f" div ((packed_tokens + {PACK_CAP} - 1) div {PACK_CAP})"
            )
            .cast("bigint")
            .alias("overhead_milli"),
        )
    )


def _sql_round(rnd: int, src: str, shards: int, eject_tail: bool) -> str:
    shard = f"doc_id % {shards}" if shards > 1 else "CAST(0 AS BIGINT)"
    tail = (
        f" AND cb // {PACK_CAP} < MAX(cb + packed_tok)"
        f" OVER (PARTITION BY source, shard) // {PACK_CAP}"
        if eject_tail
        else ""
    )
    return f"""
r{rnd}_assign AS (
  SELECT *,
         (cb + packed_tok) <= ({PACK_CAP} * (cb // {PACK_CAP} + 1)){tail} AS keep
  FROM (
    SELECT doc_id, source, n_tok, packed_tok, truncated,
           CAST({shard} AS BIGINT) AS shard,
           COALESCE(SUM(packed_tok) OVER (PARTITION BY source, {shard}
             ORDER BY packed_tok ASC, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
    FROM {src}
  )
), r{rnd}_keep AS (
  SELECT doc_id, source, n_tok, packed_tok, truncated,
         source || '|r{rnd}|' || CAST(shard AS VARCHAR) || '|'
           || CAST(cb // {PACK_CAP} AS VARCHAR) AS pack_id
  FROM r{rnd}_assign WHERE keep
), rest{rnd} AS (
  SELECT doc_id, source, n_tok, packed_tok, truncated
  FROM r{rnd}_assign WHERE NOT keep
)"""


def _sql_assign() -> str:
    rounds = ",".join(
        _sql_round(rnd, f"rest{rnd - 1}", shards, eject_tail)
        for rnd, shards, eject_tail in _ROUNDS
    )
    keeps = "\n  UNION ALL ".join(
        f"SELECT * FROM r{rnd}_keep" for rnd, _s, _e in _ROUNDS
    )
    last = _ROUNDS[-1][0]
    return f"""
staged AS (
  SELECT doc_id, source,
         CAST(COALESCE(len(string_split(text, ' ')), 0) AS BIGINT) AS n_tok,
         LEAST(CAST(COALESCE(len(string_split(text, ' ')), 0) AS BIGINT), {PACK_CAP}) AS packed_tok,
         CAST(COALESCE(len(string_split(text, ' ')), 0) AS BIGINT) > {PACK_CAP} AS truncated
  FROM documents
), full_docs AS (
  SELECT doc_id, source, n_tok, packed_tok, truncated,
         source || '|full|' || CAST(doc_id AS VARCHAR) AS pack_id
  FROM staged WHERE packed_tok = {PACK_CAP}
), rest0 AS (
  SELECT doc_id, source, n_tok, packed_tok, truncated
  FROM staged WHERE packed_tok < {PACK_CAP}
),{rounds},
assignments AS (
  SELECT * FROM full_docs
  UNION ALL {keeps}
  UNION ALL SELECT doc_id, source, n_tok, packed_tok, truncated,
                   source || '|solo|' || CAST(doc_id AS VARCHAR) AS pack_id
            FROM rest{last}
)"""


ORACLE_ASSIGN = f"""
WITH {_sql_assign()}
SELECT doc_id, source, n_tok, packed_tok, truncated, pack_id FROM assignments
"""

ORACLE_EFFICIENCY = f"""
WITH {_sql_assign()},
per_pack AS (
  SELECT source, pack_id, SUM(packed_tok) AS pack_tokens
  FROM assignments GROUP BY 1, 2
),
packs AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_packs,
         CAST(SUM(pack_tokens) AS BIGINT) AS packed_tokens
  FROM per_pack GROUP BY 1
),
docs AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN truncated THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated
  FROM assignments GROUP BY 1
)
SELECT d.source, d.n_docs, d.n_truncated, p.n_packs, p.packed_tokens,
       CAST(p.n_packs * {PACK_CAP} - p.packed_tokens AS BIGINT) AS padding_tokens,
       CAST((1000 * p.packed_tokens) // (p.n_packs * {PACK_CAP}) AS BIGINT) AS fill_milli,
       CAST((p.packed_tokens + {PACK_CAP} - 1) // {PACK_CAP} AS BIGINT) AS lower_bound_packs,
       CAST((1000 * (p.n_packs - (p.packed_tokens + {PACK_CAP} - 1) // {PACK_CAP}))
            // ((p.packed_tokens + {PACK_CAP} - 1) // {PACK_CAP}) AS BIGINT) AS overhead_milli
FROM docs d JOIN packs p USING (source)
"""


QUERIES: dict[str, tuple] = {
    "docs_pack_assignments": (docs_pack_assignments, ORACLE_ASSIGN),
    "docs_packing_efficiency": (docs_packing_efficiency, ORACLE_EFFICIENCY),
}
