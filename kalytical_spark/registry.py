"""Assembles the query registry consumed by __spark_entry__.py.

Each entry: name -> (fn(spark, sf_dir) -> DataFrame, oracle_sql | None).
Oracle SQL strings are the DuckDB-dialect query bodies; the shared fixture
WITH-block (domain.py) is prepended here so every oracle sees the same
derived tables the Spark side registered.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import domain
from .operators import (
    adherence, ann_verify, asof, attribution, audio, basket, bitmaps,
    bloomjoin, bpe, colbert, components, corpusdiag, curation, dag,
    decision_support, dedup, dedup_incremental, drift, dsir, embedding_stats,
    embgraph, events, features, filtering, fuzzy, graph, image, incremental,
    ivf_incremental, journeys, kmeans_ivf, linkage, lm, maxscore, metadata,
    mix, multimodal, mutations, olap, packing, pairscore, perceptron, pq,
    preference, preprocess, quality, quantiles, rangejoin, ranking, relational,
    replay, runs, sampling, scheduling, scrub, segments, setsim, simeval,
    simhash, similarity, sketches, skew, skyline, spans, stats, subqueries,
    text, timeseries, video, warehouse, weaklabel, weighted, zonemap,
)

# Registration order: the prio sort in all_queries is stable, so module
# order breaks ties within a priority class.
_MODULES = [
    metadata, events, dag, runs, relational, text, dedup, similarity,
    multimodal, replay, mutations, scheduling, simhash, subqueries, graph, asof,
    curation, ranking, components, preprocess, scrub, quality, kmeans_ivf, pq,
    timeseries, incremental, sampling, decision_support, warehouse, rangejoin,
    features, filtering, embedding_stats, skew, mix,
    # module order only breaks ties WITHIN a priority class (the prio
    # sort queues never-gated oracle queries first regardless); keep
    # the total never-gated count <= 50 when adding queries so one
    # driver window can prove them all
    sketches, quantiles, fuzzy, journeys, audio, olap, bitmaps, bloomjoin,
    dedup_incremental, adherence, simeval, weighted, stats, skyline, setsim,
    spans, attribution, basket, segments, bpe, ivf_incremental, image,
    perceptron, colbert, maxscore, linkage, zonemap, dsir, lm, drift, weaklabel,
    pairscore, corpusdiag, embgraph, video, preference, ann_verify, packing,
]


# The driver's correctness gate snapshots queries in registration order and
# has a bounded window (CORRECTNESS_r01 covered exactly the first 50
# entries). Order by value: oracle-backed queries a prior driver gate has
# NEVER checked come first (read from the newest CORRECTNESS_r*.json
# snapshot), then previously-green oracle queries STALEST-PROOF-FIRST
# (ascending round of their latest green record — VERDICT r9 task 4: the
# old module-order tiebreak recycled the same ~44 recent names through
# every window while some proofs dated to r1-r3), then rows-only entries
# (which only get a weaker row-count check anyway).


def _previously_gated() -> dict[str, int]:
    """Name -> round of the LATEST driver snapshot that proved it fully
    green. A name whose last record was an err or a weaker rows-only check
    has never been value-hash-proven, so it is absent here and re-queues at
    the front (e.g. a query whose oracle was added after its err row, or
    whose output shape was fixed)."""
    import glob
    import json
    import os
    import re

    def rnd_of(snap: str) -> int:
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", snap)
        return int(m.group(1)) if m else 0

    # order by PARSED round, not filename: lexicographic order puts r100
    # between r10 and r11, so from round 100 an older snapshot would
    # overwrite a newer record in `latest` (ADVICE r10)
    snaps = sorted(
        glob.glob(
            os.path.join(os.path.dirname(__file__), "..", "CORRECTNESS_r*.json")
        ),
        key=rnd_of,
    )
    latest: dict[str, tuple[int, dict]] = {}
    for snap in snaps:
        rnd = rnd_of(snap)
        try:
            with open(snap) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            latest[name] = (rnd, row)
    return {
        name: rnd
        for name, (rnd, row) in latest.items()
        if isinstance(row, dict)
        and row.get("err") is None
        and row.get("rows_match")
        and row.get("schema_match") is not False
        and row.get("hash_match") is not False
    }


def all_queries() -> dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]]:
    out: dict[str, tuple] = {}
    for mod in _MODULES:
        for name, (fn, oracle_body) in mod.QUERIES.items():
            if name in out:
                raise ValueError(f"duplicate query name: {name}")
            oracle = domain.oracle(oracle_body) if oracle_body else None
            out[name] = (fn, oracle)

    gated = _previously_gated()

    def prio(item):
        name, (_fn, oracle) = item
        if oracle is None:
            return (2, 0)
        if name not in gated:
            return (0, 0)
        # previously green: stalest proof first; registration (module)
        # order breaks ties within a round via the stable sort
        return (1, gated[name])

    return dict(sorted(out.items(), key=prio))
