"""SimHash near-duplicate detection (north-star dedup family): 64-bit
token-weighted SimHash per document via an Arrow-batched pandas UDF
(hashlib-md5 bit sampling — deterministic everywhere), then candidate
mining by banding the fingerprint into four 16-bit chunks (documents within
Hamming distance 3 share at least one exact chunk, pigeonhole) and exact
Hamming verification of candidates only.

Oracle-backed: the DuckDB twin re-derives every md5 bit-vote from hex
nibbles (see _sql_simhash) — 64 SUM terms, the same two's-complement
fingerprint, the same 16-bit banding, xor+bit_count verification — so the
driver's value-hash gate covers the full pipeline; tests additionally pin
the pure-Python reference and the banding recall guarantee.

Scale shape: fingerprinting is embarrassingly parallel (one pass, Arrow
batches); candidate generation joins on 4 x 16-bit band keys — the same
bucket-join pattern as MinHash-LSH, no all-pairs stage anywhere.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import t

HAMMING_THRESHOLD = 3
N_BANDS = 4  # 16 bits each; d <= 3 guarantees >= 1 exact band match


def _simhash_batch(texts: pd.Series) -> pd.Series:
    """Vectorized SimHash over one Arrow batch: md5 runs once per UNIQUE
    token in the batch; the 64 bit-votes per token occurrence are a numpy
    unpackbits + scatter-add, not a per-token Python loop. Bit-for-bit
    identical to the pure-Python per-token reference pinned in tests."""
    import numpy as np

    token_lists = [t.split(" ") for t in texts]
    counts = np.array([len(toks) for toks in token_lists])
    if counts.sum() == 0:
        return pd.Series(np.zeros(len(texts), dtype=np.int64))
    doc_idx = np.repeat(np.arange(len(texts)), counts)
    uniq, inv = np.unique(np.concatenate(token_lists), return_inverse=True)
    digests = b"".join(hashlib.md5(tok.encode()).digest()[:8] for tok in uniq)
    h_bytes = np.frombuffer(digests, dtype=np.uint8).reshape(-1, 8)
    # bit b of int.from_bytes(digest[:8], 'big') == little-endian unpack of
    # the byte-reversed digest
    bits = np.unpackbits(h_bytes[:, ::-1], axis=1, bitorder="little")
    signs = bits.astype(np.int64) * 2 - 1  # (n_uniq, 64) of +-1 votes
    if len(texts) * len(uniq) <= 1 << 22:
        # dense (doc x uniq-token) count matrix + one matmul — much faster
        # than scatter-add when the batch vocabulary is modest. Cap at
        # ~32 MB int64 per worker: with 32 concurrent Python workers a
        # larger dense path multiplies into gigabytes of transient memory
        cnt = np.bincount(
            doc_idx * len(uniq) + inv, minlength=len(texts) * len(uniq)
        ).reshape(len(texts), len(uniq))
        votes = cnt @ signs
    else:
        votes = np.zeros((len(texts), 64), dtype=np.int64)
        np.add.at(votes, doc_idx, signs[inv])
    weights = np.left_shift(np.uint64(1), np.arange(64, dtype=np.uint64))
    fp = ((votes > 0).astype(np.uint64) * weights).sum(axis=1, dtype=np.uint64)
    return pd.Series(fp.view(np.int64))


def doc_simhashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    n_part = spark.sparkContext.defaultParallelism
    # pandas_udf built lazily: decorating at import time needs a live session
    udf = F.pandas_udf(_simhash_batch, "long")
    return docs.repartition(n_part).select(
        "doc_id", udf(F.col("text")).alias("simhash")
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with Hamming(simhash_a, simhash_b) <= 3, found via
    16-bit band buckets + exact verification (bit_count on XOR, JVM-side)."""
    sh = doc_simhashes(spark, sf_dir).cache()
    sh.count()
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftrightunsigned(F.col("simhash"), 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("band_key"),
                    )
                    for i in range(N_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", F.col("b.band_idx"), F.col("b.band_key"))
    l, r = bands.alias("l"), bands.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.col("l.simhash").alias("sh_a"),
            F.col("r.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= HAMMING_THRESHOLD)
        .select("doc_a", "doc_b", "hamming")
    )


def _sql_simhash() -> str:
    """DuckDB twin of the whole SimHash pipeline, generated bit by bit.

    bit b of int.from_bytes(md5(tok)[:8], 'big') lives in hex digit
    p = 16 - b//4 of the md5 hex string (1-based, most significant first)
    at in-nibble position b%4 — so every one of the 64 bit-votes is a
    substring + strpos + division away, and the fingerprint / band keys /
    Hamming verification all reduce to integer arithmetic DuckDB shares
    with Spark. The banding mirrors the Spark side exactly (same
    pigeonhole candidate universe); Hamming uses xor + bit_count on the
    two's-complement BIGINT fingerprint, just like the JVM path."""

    def bit(b: int) -> str:
        p = 16 - b // 4
        shift = 2 ** (b % 4)
        return f"((v{p} // {shift}) % 2)"

    nibbles = ",\n         ".join(
        f"strpos('0123456789abcdef', substring(hx, {p}, 1)) - 1 AS v{p}"
        for p in range(1, 17)
    )
    votes = ",\n         ".join(
        f"SUM(2 * {bit(b)} - 1) AS w{b}" for b in range(64)
    )
    # two's-complement int64: bit 63 contributes -2^63
    fp_terms = " + ".join(
        f"CASE WHEN w{b} > 0 THEN {'-' if b == 63 else ''}{2**b if b < 63 else 2**63} ELSE 0 END"
        for b in range(64)
    )
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, simhash, {i} AS band_idx, ".format(i=i)
        + " + ".join(
            f"CASE WHEN w{16 * i + j} > 0 THEN {2**j} ELSE 0 END"
            for j in range(16)
        )
        + " AS band_key FROM fp"
        for i in range(N_BANDS)
    )
    return f"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), hx AS (
  SELECT doc_id, substring(md5(tok), 1, 16) AS hx FROM toks
), nib AS (
  SELECT doc_id,
         {nibbles}
  FROM hx
), votes AS (
  SELECT doc_id,
         {votes}
  FROM nib GROUP BY doc_id
), fp AS (
  SELECT doc_id, CAST({fp_terms} AS BIGINT) AS simhash,
         {", ".join(f"w{b}" for b in range(64))}
  FROM votes
), bands AS (
{band_selects}
), cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
                  l.simhash AS sh_a, r.simhash AS sh_b
  FROM bands l JOIN bands r
    ON l.band_idx = r.band_idx AND l.band_key = r.band_key
   AND l.doc_id < r.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(sh_a, sh_b)) <= {HAMMING_THRESHOLD}
"""


ORACLE_SIMHASH = _sql_simhash()


QUERIES: dict[str, tuple] = {
    "dedup_simhash": (dedup_simhash, ORACLE_SIMHASH),
}
