"""Catalog regression tests: one session must be able to switch between
scale-factor directories without stale temp views (the driver runs the
sf0.001 smoke and the sf0.01 oracle gate on one session)."""

from __future__ import annotations

from kalytical_spark import catalog
from tests.conftest import SF_ORACLE, SF_SMALL


def test_sf_switch_rebinds_views(spark):
    catalog.register(spark, SF_SMALL)
    n_small = spark.table("lifecycle_events").count()
    sup_small = spark.table("pipeline_defs").count()
    full_small = catalog.table(spark, SF_SMALL, "pipeline_defs_full").count()
    inc_small = catalog.table(spark, SF_SMALL, "incubation_state").count()
    catalog.register(spark, SF_ORACLE)
    n_oracle = spark.table("lifecycle_events").count()
    sup_oracle = spark.table("pipeline_defs").count()
    full_oracle = catalog.table(spark, SF_ORACLE, "pipeline_defs_full").count()
    inc_oracle = catalog.table(spark, SF_ORACLE, "incubation_state").count()
    assert (n_small, sup_small, full_small, inc_small) == (1000, 10, 10, 200)
    assert (n_oracle, sup_oracle, full_oracle, inc_oracle) == (10000, 100, 100, 2000)
    # and back again — the first registration must not be sticky, and the
    # driver-resident copies must be rebuilt from the new sf_dir
    catalog.register(spark, SF_SMALL)
    assert spark.table("lifecycle_events").count() == 1000
    assert spark.table("pipeline_defs").count() == 10
    assert catalog.table(spark, SF_SMALL, "pipeline_defs_full").count() == 10
    assert catalog.table(spark, SF_SMALL, "incubation_state").count() == 200


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
