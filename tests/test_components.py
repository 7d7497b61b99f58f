"""Connected components: driver union-find labels every component with its
minimum doc_id, hands the labels back as a LocalRelation, and refuses a
graph above DRIVER_CC_MAX_EDGES."""

from __future__ import annotations

import random

import numpy as np
import pyarrow as pa
import pytest

from kalytical_spark.operators import components, dedup
from tests.conftest import SF_ORACLE

_LABELS = [("doc_id", "bigint"), ("component_id", "bigint")]


def _pairs(spark, edges):
    a = np.array([min(e) for e in edges], dtype=np.int64)
    b = np.array([max(e) for e in edges], dtype=np.int64)
    return spark.createDataFrame(pa.table({"doc_a": a, "doc_b": b}), "doc_a long, doc_b long")


def _shuffled_path(n: int) -> list[tuple[int, int]]:
    """The edges of an n-vertex path over ids 1000.. in shuffled order."""
    ids = list(range(1000, 1000 + n))
    random.Random(11).shuffle(ids)
    return list(zip(ids, ids[1:]))


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


def _reference(edges) -> dict[int, int]:
    """Minimum reachable id per vertex, by graph search: a different
    algorithm from union-find with the same answer."""
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out: dict[int, int] = {}
    for start in adj:
        if start in out:
            continue
        seen, todo = {start}, [start]
        while todo:
            for w in adj[todo.pop()] - seen:
                seen.add(w)
                todo.append(w)
        out.update(dict.fromkeys(seen, min(seen)))
    return out


def _labels(spark, pairs) -> dict[int, int]:
    df = components._label_components(spark, pairs)
    assert _plan(df) == "LocalRelation"
    assert df.dtypes == _LABELS
    return {r.doc_id: r.component_id for r in df.collect()}


def test_labels_match_graph_search_on_verified_pairs(spark):
    pairs = dedup.dedup_minhash_lsh(spark, SF_ORACLE)
    got = _labels(spark, pairs)
    assert got and got == _reference(pairs.select("doc_a", "doc_b").collect())
    assert len(set(got.values())) < len(got), "no multi-doc component"


def test_shuffled_path_is_one_component(spark):
    """A 64-vertex path whose ids are shuffled: union order follows the
    shuffle, so the minimum id is joined in from the middle of the chain."""
    got = _labels(spark, _pairs(spark, _shuffled_path(64)))
    assert got == {v: 1000 for v in range(1000, 1064)}


def test_empty_graph_gives_empty_labels(spark):
    labels = components._label_components(spark, _pairs(spark, []))
    assert labels.dtypes == _LABELS
    assert labels.collect() == []


def test_labels_reread_as_local_relation_without_jobs(spark):
    labels = components._label_components(spark, _pairs(spark, [(5, 9), (9, 7), (2, 3)]))
    assert _plan(labels) == "LocalRelation"
    sc = spark.sparkContext
    sc.setJobGroup("cc-reread", "cc-reread")
    try:
        rows = labels.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sorted(map(tuple, rows)) == [(2, 2), (3, 2), (5, 5), (7, 5), (9, 5)]
    assert sc.statusTracker().getJobIdsForGroup("cc-reread") == []


def test_graph_above_bound_raises(spark, monkeypatch):
    """A graph at the bound is labelled; one edge more raises instead of
    filling the driver."""
    monkeypatch.setattr(components, "DRIVER_CC_MAX_EDGES", 3)
    assert _labels(spark, _pairs(spark, [(5, 9), (9, 7), (2, 3)])) == {
        2: 2, 3: 2, 5: 5, 7: 5, 9: 5
    }
    with pytest.raises(RuntimeError, match="more than 3 verified edges"):
        components._label_components(
            spark, _pairs(spark, [(5, 9), (9, 7), (2, 3), (3, 4)])
        )
