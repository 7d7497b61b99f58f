"""Shared helpers for operator implementations.

Determinism conventions (required for the DuckDB-oracle value-hash gate):

* Money/metric sums go through exact DECIMAL arithmetic and are cast to
  DOUBLE at the end: both engines compute the identical exact decimal, and
  the decimal->double cast is the same nearest-double — bit-identical
  results, immune to float summation order across partitions/engines.
* Averages are computed as (decimal-exact sum cast to double) / count —
  a single deterministic IEEE division, not engine-native AVG.
* Continuous scores (cosine similarity) are rounded BEFORE ranking so
  top-k membership and tie-breaks (by id) are stable across engines.
* Every ORDER BY ... LIMIT has a total order (unique tie-break column).
* "now" is never current_timestamp(); it is max(ts) over events_ms — a
  deterministic, data-derived clock shared with the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog

DEC = "decimal(12,4)"


def dsum(col: Column | str) -> Column:
    """Exact decimal sum surfaced as double (see module docstring)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.sum(col.cast(DEC)).cast("double")


def dsum_prod(a: Column, b: Column) -> Column:
    """Exact decimal sum of a product, surfaced as double.

    The product's scale (8+) makes the sum's unscaled value exceed 2^53,
    where DuckDB's decimal->double cast can be one ulp off Spark's. Rescale
    to scale 6 first (exact half-up in both engines, unscaled < 2^53), then
    the double cast is a single correctly-rounded op on both sides."""
    return F.sum(a.cast(DEC) * b.cast(DEC)).cast("decimal(38,6)").cast("double")


# Oracle-side (DuckDB) macro equivalents — keep textually in sync with above.
def sql_dsum(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(12,4))) AS DOUBLE)"


def sql_dsum_prod(a: str, b: str) -> str:
    return (
        f"CAST(CAST(SUM(CAST({a} AS DECIMAL(12,4)) * CAST({b} AS DECIMAL(12,4)))"
        f" AS DECIMAL(38,6)) AS DOUBLE)"
    )


def app_key(spark: SparkSession) -> str:
    """Session-memo key: the Spark application id. Unique per
    SparkContext LIFETIME — unlike id(spark._jsparkSession), whose py4j
    wrapper address can be reused after a session is stopped and garbage
    collected, silently handing a later session another app's cached
    DataFrames. Sibling sessions of one context share the memos safely
    (the cached frames are context-bound and the data is deterministic)."""
    return spark.sparkContext.applicationId


# Central registry of session-scoped memo dicts. Modules wrap their memo
# dicts in session_memo() so hermetic tooling (the plan-fingerprint gate)
# can reset a long-lived session to fresh-build state: a warm memo returns
# a frame whose caches clearCache() already dropped, which executes in a
# THIRD shape that is neither cold nor warm — reset_session_state clears
# both layers so the next build caches exactly like a fresh session.
SESSION_MEMOS: list[dict] = []


def session_memo(d: dict) -> dict:
    SESSION_MEMOS.append(d)
    return d


def reset_session_state(spark: SparkSession) -> None:
    spark.catalog.clearCache()
    for d in SESSION_MEMOS:
        d.clear()


def _unpersist_value(v) -> None:
    """Unpersist a memo value: a DataFrame, or the frames of a tuple or list
    (None and other values hold no cache)."""
    if isinstance(v, DataFrame):
        v.unpersist()
    elif isinstance(v, (tuple, list)):
        for item in v:
            _unpersist_value(item)


def evict_other_sf_memos(spark: SparkSession, keep_sf_dir: str) -> None:
    """Drop this session's memoized frames for every OTHER sf_dir (ADVICE
    r11): catalog.register() unpersists the domain caches when a session
    switches sf_dir, but the operator memos (verified pairs, exact top-k
    baselines, CC labels, ...) are keyed (app, sf_dir, ...) and survived the
    switch — in a mixed-sf session (the driver's smoke + gate flow) their
    cached blocks accumulated. Temp views are single-sf_dir per session by
    contract, so a stale-sf memo can never be read again legitimately;
    unpersist its blocks and forget it. A memo key matches when it is a
    tuple of two or more items with the app id in slot 0 and the sf_dir in
    slot 1: the 3-tuple keys of ann_verify._SUMMARY_CACHE and
    kmeans_ivf._FIT_CACHE included.

    Single-session assumption: memos are keyed by app_key (the application
    id), which sibling sessions of one SparkContext share. An sf switch in
    one session therefore also evicts the memos a sibling session on
    another sf_dir is still using. Results stay correct (a memo miss
    rebuilds), but such siblings churn each other's builds; run one sf_dir
    per application when that matters."""
    app = app_key(spark)
    for d in SESSION_MEMOS:
        for key in list(d):
            if (
                isinstance(key, tuple)
                and len(key) >= 2
                and key[0] == app
                and isinstance(key[1], str)
                and key[1] != keep_sf_dir
            ):
                _unpersist_value(d.pop(key))


def eager_cache(df: DataFrame) -> DataFrame:
    """cache() + count(): materialize NOW, before the frame feeds multiple
    branches of one action. A lazily-cached frame consumed by several
    subtrees of a single AQE query races: whichever branch's stage
    materializes the cache first determines whether the OTHER branches are
    replanned against warm InMemoryRelation statistics or cold child-plan
    estimates — a nondeterministic join-strategy/exchange-count flip
    observed on users_rfm_segments (73 vs 75 hash exchanges depending on
    JVM load; VERDICT r7). Eager materialization pins the warm shape: by
    the time the consuming query plans, the cache statistics are final."""
    df = df.cache()
    df.count()
    return df


def materialize_session_caches(spark: SparkSession) -> None:
    """Force-materialize every session-tracked cached DataFrame (catalog
    domain views + any DataFrame held in a session memo, including tuple
    values). Used by the plan-fingerprint gate after building a query so
    the measured executed plan is the deterministic WARM shape — no cache
    materializes mid-query, so AQE cannot race on cache statistics."""

    def _count(v) -> None:
        if isinstance(v, DataFrame):
            v.count()
        elif isinstance(v, (tuple, list)):
            for item in v:
                _count(item)

    for dfs in list(catalog._CACHED_DFS.values()):
        _count(dfs)
    for d in SESSION_MEMOS:
        for v in list(d.values()):
            _count(v)


# catalog's registration guard, cache list and driver-side builds are
# session memos too (the registration lives HERE because catalog is
# imported above — a session_memo import from catalog.py would be
# circular): if the guard survived a reset, domain views would stay
# registered-but-uncached, a shape neither a fresh nor a warm session ever
# has. Clearing the builds makes the next read of each of
# catalog.RESIDENT_VIEWS rebuild its LocalRelation copy, and of each of
# catalog.INDEXED_VIEWS its PipelineIndex.
SESSION_MEMOS.append(catalog._CURRENT_SF)
SESSION_MEMOS.append(catalog._CACHED_DFS)
SESSION_MEMOS.append(catalog._RESIDENT)


_NOW_CACHE: dict[tuple[str, str], object] = session_memo({})


def now_expr(spark: SparkSession, sf_dir: str) -> Column:
    """Deterministic 'now': max event time in the dataset (shared with the
    oracle as a scalar subquery). Replaces reference datetime.now() usages
    (data_provider.py:130,135; job_culler.py:22,35). Memoized per
    (session, sf_dir) — otherwise every time-based query pays an extra
    aggregate job just to build its expression."""
    key = (app_key(spark), sf_dir)
    if key not in _NOW_CACHE:
        catalog.register(spark, sf_dir)
        _NOW_CACHE[key] = spark.table("events_ms").agg(F.max("ts")).collect()[0][0]
    return F.lit(_NOW_CACHE[key])


SQL_NOW = "(SELECT max(ts) FROM events_ms)"


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return catalog.table(spark, sf_dir, name)


def spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Scale-adaptive parallelism floor for FLOP-dense scans (guide §2.5:
    repartition immediately after a read that yields too few partitions).

    Byte-based split sizing undercounts compute-heavy rows: a KB-scale
    vector/document file scans as ONE partition, so a scorer doing
    hundreds of FLOPs per row (MaxSim dots, cosine folds, tokenize+gram
    expansions) runs single-core no matter how many cores the session has
    — measured 2.54 s -> 0.48 s on the exact-MaxSim scorer at sf0.1.

    Only call this on SCAN-SHAPED frames (plain table reads + projections/
    filters): `df.rdd` on such plans is pure planning, whereas on an AQE
    plan with exchanges it would execute the upstream stages. At cluster
    scale the scan already carries >= parallelism partitions and this is
    an exact no-op — the repartition never reaches a large input.

    The scan-shape contract is ENFORCED, not just documented (ADVICE
    r11): the node names of the cache-substituted logical plan (and of
    its subquery plans) are checked for exchange-introducing nodes; a
    derived frame is returned unchanged rather than risking a job at
    DataFrame-build time. A MATERIALIZED cache is a leaf: the scan stops
    at its InMemoryRelation, whose derivation (join, sort, ...) already
    ran. A cache that is not materialized yet is refused, because `.rdd`
    would run its derivation. Plan inspection only — no job runs here."""
    n = spark.sparkContext.defaultParallelism
    try:
        nodes = _logical_node_names(df._jdf.queryExecution().withCachedData())
    except Exception:
        return df  # cannot prove the frame is scan-shaped: do nothing
    if any(tok in name for name in nodes for tok in _SPREAD_UNSAFE_NODES):
        return df
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def _logical_node_names(plan) -> list[str]:
    """Names of the nodes of a JVM logical plan, its subquery plans
    included. An InMemoryRelation is not descended into (its innerChildren
    are the cached PHYSICAL plan): it is reported only when its blocks are
    not all loaded, as "UnloadedInMemoryRelation"."""
    names, stack = [], [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "InMemoryRelation":
            if not node.cacheBuilder().isCachedColumnBuffersLoaded():
                names.append("UnloadedInMemoryRelation")
            continue
        names.append(name)
        for seq in (node.children(), node.innerChildren()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return names


# logical node-name tokens whose physical plan computes upstream stages
# when `.rdd` is materialized (or that a scan-shaped frame can never contain)
_SPREAD_UNSAFE_NODES = (
    "Aggregate",
    "Join",
    "Window",
    "Sort",
    "Repartition",
    "GlobalLimit",
    "Deduplicate",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "UnloadedInMemoryRelation",
)


def banded_candidate_pairs(
    sketched: DataFrame,
    id_col: str,
    n_bands: int,
    band_prefix: str = "band",
    carry_bands: bool = False,
) -> DataFrame:
    """Shared LSH banding step: explode ``band0..band{n-1}`` columns into
    (band_idx, band_key) rows, self-join within buckets with ``l.id <
    r.id`` ordering, and return DISTINCT candidate pairs ``(id_a, id_b)``
    — the sub-quadratic candidate generation used by both the sign-LSH ANN
    (similarity.py) and the perceptual-hash near-dup miner (multimodal.py).
    With ``carry_bands`` the per-side band values ride along as
    ``l_band{b}`` / ``r_band{b}`` so callers can verify in-band (e.g.
    Hamming distance) without re-joining the sketch table."""
    band_cols = [f"{band_prefix}{b}" for b in range(n_bands)]
    bands = sketched.select(
        id_col,
        *(band_cols if carry_bands else []),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.col(f"{band_prefix}{b}").alias("band_key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bx"),
    ).select(
        id_col, *(band_cols if carry_bands else []), "bx.band_idx", "bx.band_key"
    )
    l, r = bands.alias("l"), bands.alias("r")
    carried = [
        F.col(f"{side}.{c}").alias(f"{side}_{c}")
        for side in ("l", "r")
        for c in (band_cols if carry_bands else [])
    ]
    return (
        l.join(
            r,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            *carried,
        )
        .distinct()
    )
