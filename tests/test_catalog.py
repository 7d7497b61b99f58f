"""Catalog regression tests: one session must be able to switch between
scale-factor directories without stale temp views (the driver runs the
sf0.001 smoke and the sf0.01 oracle gate on one session)."""

from __future__ import annotations

import pytest

from kalytical_spark import api, catalog
from tests.conftest import SF_ORACLE, SF_SMALL


def _index_rows(spark, sf):
    return tuple(
        catalog.index(spark, sf, name).rows.num_rows for name in catalog.INDEXED_VIEWS
    )


def test_sf_switch_rebinds_views(spark):
    catalog.register(spark, SF_SMALL)
    n_small = spark.table("lifecycle_events").count()
    sup_small = spark.table("pipeline_defs").count()
    full_small = catalog.table(spark, SF_SMALL, "pipeline_defs_full").count()
    inc_small = catalog.table(spark, SF_SMALL, "incubation_state").count()
    idx_small = catalog.index(spark, SF_SMALL, "lifecycle_events")
    history_small = api.event_history(spark, SF_SMALL, since_seconds=40 * 86400).collect()
    assert _index_rows(spark, SF_SMALL) == (1000, 334)
    catalog.register(spark, SF_ORACLE)
    n_oracle = spark.table("lifecycle_events").count()
    sup_oracle = spark.table("pipeline_defs").count()
    full_oracle = catalog.table(spark, SF_ORACLE, "pipeline_defs_full").count()
    inc_oracle = catalog.table(spark, SF_ORACLE, "incubation_state").count()
    assert (n_small, sup_small, full_small, inc_small) == (1000, 10, 10, 200)
    assert (n_oracle, sup_oracle, full_oracle, inc_oracle) == (10000, 100, 100, 2000)
    assert _index_rows(spark, SF_ORACLE) == (10000, 3334)
    # and back again — the first registration must not be sticky, and the
    # driver-resident copies and indexes must be rebuilt from the new sf_dir
    catalog.register(spark, SF_SMALL)
    assert spark.table("lifecycle_events").count() == 1000
    assert spark.table("pipeline_defs").count() == 10
    assert catalog.table(spark, SF_SMALL, "pipeline_defs_full").count() == 10
    assert catalog.table(spark, SF_SMALL, "incubation_state").count() == 200
    assert catalog.index(spark, SF_SMALL, "lifecycle_events") is not idx_small
    assert _index_rows(spark, SF_SMALL) == (1000, 334)
    assert api.event_history(spark, SF_SMALL, since_seconds=40 * 86400).collect() == history_small


def test_first_reads_build_each_copy_once(spark, monkeypatch):
    """Eight threads that make their first reads together after a
    registration build each driver-resident copy and each index once, and
    read what one thread reads alone. Each build is slowed by a sleep, so
    without the build lock every thread would start its own."""
    import threading
    import time
    from collections import Counter
    from concurrent.futures import ThreadPoolExecutor

    def reads():
        return (
            [tuple(r) for r in api.describe_pipeline(spark, SF_SMALL, "p-3").collect()],
            sorted(tuple(r) for r in api.incubation_state(spark, SF_SMALL).collect()),
            [tuple(r) for r in api.event_history(spark, SF_SMALL, since_seconds=86400).collect()],
            [tuple(r) for r in api.running_pipelines(spark, SF_SMALL, "p-4").collect()],
        )

    catalog.register(spark, SF_SMALL)
    alone = reads()
    builds: Counter = Counter()
    counted = threading.Lock()

    def slowed(build):
        def wrapper(spark, name):
            with counted:
                builds[name] += 1
            time.sleep(0.5)
            return build(spark, name)

        return wrapper

    monkeypatch.setattr(catalog, "_make_resident", slowed(catalog._make_resident))
    monkeypatch.setattr(catalog, "_build_index", slowed(catalog._build_index))
    catalog.register(spark, SF_ORACLE)
    catalog.register(spark, SF_SMALL)
    together = threading.Barrier(8)

    def first_reads(_):
        together.wait()
        return reads()

    with ThreadPoolExecutor(8) as pool:
        results = list(pool.map(first_reads, range(8)))
    assert builds == dict.fromkeys((*catalog.RESIDENT_VIEWS, *catalog.INDEXED_VIEWS), 1)
    assert all(r == alone for r in results)


def test_register_raises_when_unpersist_fails(spark, monkeypatch):
    """A domain cache that fails to unpersist on an sf switch makes
    register raise instead of passing over it; the failed switch leaves the
    session unregistered, so the next register starts afresh."""
    catalog.register(spark, SF_SMALL)
    last = catalog._CACHED_DFS[catalog._session_id(spark)][-1]

    def fail():
        raise RuntimeError("unpersist failed")

    monkeypatch.setattr(last, "unpersist", fail)
    with pytest.raises(RuntimeError, match="unpersist failed"):
        catalog.register(spark, SF_ORACLE)
    monkeypatch.undo()
    last.unpersist()
    catalog.register(spark, SF_SMALL)
    assert catalog.table(spark, SF_SMALL, "pipeline_defs_full").count() == 10


def test_sf_switch_evicts_three_tuple_memos(spark):
    """evict_other_sf_memos drops every memo keyed (app, sf_dir, ...), not
    only 2-tuple keys: the 3-tuple memos of ann_verify and kmeans_ivf must
    release their cached blocks for the sf_dir a session switched away from."""
    import numpy as np

    from kalytical_spark.operators import ann_verify, kmeans_ivf
    from kalytical_spark.operators.common import app_key, evict_other_sf_memos

    app = app_key(spark)
    stale_summary = spark.range(3).cache()
    stale_fit = spark.range(3).cache()
    kept = spark.range(3).cache()
    stale_summary.count(), stale_fit.count(), kept.count()
    old, new = "/nonexistent/old-sf", "/nonexistent/new-sf"
    ann_verify._SUMMARY_CACHE[app, old, "twin"] = stale_summary
    kmeans_ivf._FIT_CACHE[app, old, None] = (stale_fit, np.zeros(2))
    kmeans_ivf._FIT_CACHE[app, new, None] = (kept, np.zeros(2))
    try:
        evict_other_sf_memos(spark, new)
        assert (app, old, "twin") not in ann_verify._SUMMARY_CACHE
        assert (app, old, None) not in kmeans_ivf._FIT_CACHE
        assert not stale_summary.is_cached and not stale_fit.is_cached
        assert kmeans_ivf._FIT_CACHE[app, new, None][0] is kept and kept.is_cached
    finally:
        ann_verify._SUMMARY_CACHE.pop((app, old, "twin"), None)
        kmeans_ivf._FIT_CACHE.pop((app, old, None), None)
        kmeans_ivf._FIT_CACHE.pop((app, new, None), None)
        kept.unpersist()


def test_sf_switch_raises_when_a_memo_unpersist_fails(spark, monkeypatch):
    """An operator memo that fails to unpersist on an sf switch raises out
    of evict_other_sf_memos instead of being passed over."""
    from kalytical_spark.operators import common

    stale = spark.range(3)

    def fail():
        raise RuntimeError("unpersist failed")

    monkeypatch.setattr(stale, "unpersist", fail)
    memo = {(common.app_key(spark), "/nonexistent/old-sf", None): (stale, None)}
    monkeypatch.setattr(common, "SESSION_MEMOS", [memo])
    with pytest.raises(RuntimeError, match="unpersist failed"):
        common.evict_other_sf_memos(spark, "/nonexistent/new-sf")


def test_materialize_session_caches_raises_when_a_count_fails(spark, monkeypatch):
    """A memoized frame that fails to materialize raises out of
    materialize_session_caches instead of leaving a cold cache behind."""
    from kalytical_spark.operators import common

    broken = spark.range(3)

    def fail():
        raise RuntimeError("count failed")

    monkeypatch.setattr(broken, "count", fail)
    monkeypatch.setattr(catalog, "_CACHED_DFS", {})
    monkeypatch.setattr(common, "SESSION_MEMOS", [{("app", "sf"): (broken, None)}])
    with pytest.raises(RuntimeError, match="count failed"):
        common.materialize_session_caches(spark)
