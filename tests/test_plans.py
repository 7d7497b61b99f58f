"""Physical-plan assertions (SURVEY.md section 4): the plans we designed for
must actually materialize — broadcast hash joins for dim lookups, predicate
pushdown into parquet scans, TakeOrderedAndProject for top-k, no cartesian
products anywhere. These are the properties that keep the operators viable
at 1000-executor scale, pinned as tests so regressions surface in CI."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from kalytical_spark import catalog
from kalytical_spark.operators import dag, events, relational
from tests.conftest import SF_ORACLE, SF_SMALL


def _final_plan(df) -> str:
    """Execute, then render the AQE final physical plan. collect() runs this
    DataFrame's own QueryExecution (a write would clone it and leave the
    original un-finalized)."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _n_shuffles(plan: str) -> int:
    # count real shuffles only — "BroadcastExchange" also contains "Exchange";
    # an executed AQE plan prints Final AND Initial plans: keep the final one
    plan = plan.split("== Initial Plan ==")[0]
    return plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    )


def test_point_lookup_pushes_filter_to_parquet(spark):
    """S2/F1: the key predicate must reach the parquet scan (PushedFilters),
    and only referenced columns are read (ReadSchema pruning)."""
    catalog.register(spark, SF_ORACLE)
    li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
    q = li.filter(F.col("l_orderkey") == 42).select("l_orderkey", "l_quantity")
    plan = _formatted(q)
    assert "EqualTo(l_orderkey,42)" in plan, plan
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "l_extendedprice" not in read_schema
    assert "l_quantity" in read_schema


def test_dag_fire_uses_broadcast_joins(spark):
    """J1: the edge/defs sides must broadcast — no shuffle of the event side
    until the final aggregate."""
    plan = _final_plan(dag.dag_fire_decisions(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_topk_is_take_ordered(spark):
    """O1/A5: orderBy+limit must plan as TakeOrderedAndProject, not a global
    sort."""
    plan = _final_plan(events.events_recent_topk(spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in plan


def test_q3_broadcasts_dims(spark):
    plan = _final_plan(relational.q3_shipping_priority(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q1_whole_stage_codegen(spark):
    """The hot aggregate must stay inside whole-stage codegen (starred
    operators in the final plan) with no Python evaluation nodes."""
    plan = _final_plan(relational.q1_pricing_summary(spark, SF_ORACLE))
    assert "*(" in plan, plan  # WholeStageCodegen stage markers
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_shuffle_counts_bounded(spark):
    """dag_fire_decisions: broadcast joins keep the event side unshuffled;
    the only shuffles are the countDistinct two-phase aggregate (2) plus the
    O(pipelines) n_deps rollup on the broadcast build side (1)."""
    plan = _final_plan(dag.dag_fire_decisions(spark, SF_ORACLE))
    assert _n_shuffles(plan) <= 3, f"too many shuffles:\n{plan}"


def test_tfidf_never_broadcasts_vocab_dim(spark):
    """Ranking family: the per-TERM statistics table is the VOCABULARY —
    unbounded at web scale (10^8+ terms with ngrams) — so it must ride a
    shuffled hash join on term, never a forced broadcast that ignores
    size. The only broadcast in the plan is the 1-row corpus scalar
    (BroadcastNestedLoopJoin); no equi-join may broadcast. Whole plan
    stays JVM-side."""
    from kalytical_spark.operators import ranking

    plan = _final_plan(ranking.text_tfidf_topk(spark, SF_ORACLE))
    final = plan.split("== Initial Plan ==")[0]
    assert "ShuffledHashJoin" in final, final
    assert "BroadcastHashJoin" not in final, final  # vocab dim never broadcast
    assert "CartesianProduct" not in final
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_surprisal_and_lift_never_broadcast_vocab_dim(spark):
    """Same contract for the other two vocabulary-dim joins: the unigram
    model (text_unigram_surprisal) and the df-floored token table
    (text_token_lift_topk) join shuffle_hash, never forced broadcast."""
    from kalytical_spark.operators import text

    for fn in (
        text.text_unigram_surprisal,
        text.text_token_lift_topk,
        text.text_bigram_surprisal,
    ):
        plan = _final_plan(fn(spark, SF_ORACLE))
        final = plan.split("== Initial Plan ==")[0]
        assert "ShuffledHashJoin" in final, (fn.__name__, final)
        # match the JOIN KEYS (first bracket group), not post-join filters:
        # auto-broadcasts on doc_id are adaptive/size-based and fine
        vocab_broadcasts = [
            ln
            for ln in final.splitlines()
            if any(
                f"BroadcastHashJoin [{key}" in ln
                for key in ("tok", "term", "w1", "w2")
            )
        ]
        assert not vocab_broadcasts, (fn.__name__, vocab_broadcasts)


def test_bm25_scalar_stats_broadcast_no_python(spark):
    from kalytical_spark.operators import ranking

    plan = _final_plan(ranking.text_bm25_topk(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" in plan or "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pii_scrub_stays_jvm_side_and_fires(spark):
    """Scrub family: regex redaction must be pure regexp_replace/count in
    whole-stage codegen (no Python anywhere — at 100 TB this is one map
    pass), and the planted-PII rows must actually fire (non-vacuous)."""
    from kalytical_spark.operators import scrub

    df = scrub.pii_scrub_docs(spark, SF_ORACLE)
    plan = _final_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert _n_shuffles(plan) == 0, plan  # pure map pass, zero shuffles
    rows = df.collect()
    assert rows and all(r.n_emails == 1 and r.n_phones == 1 and r.n_ipv4 == 1 for r in rows)


def test_mix_sampling_broadcasts_rates_no_python(spark):
    """The per-source rate table (8 rows) must broadcast onto the corpus —
    the big side is never shuffled for the join — and rates stay in [0,1]
    with small sources kept whole (rate == 1 implies kept == docs)."""
    from kalytical_spark.operators import scrub

    df = scrub.mix_temperature_sample(spark, SF_ORACLE)
    plan = _final_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    for r in df.collect():
        assert 0.0 < r.rate <= 1.0
        assert r.n_kept <= r.n_docs
        if r.rate == 1.0:
            assert r.n_kept == r.n_docs


def test_q9_star_join_single_shuffle(spark):
    """Q9: every dim broadcasts; the lineitem fact shuffles exactly once
    (two-phase agg on (nation, year) = one hash exchange)."""
    from kalytical_spark.operators import warehouse

    plan = _formatted(warehouse.q9_product_type_profit(spark, SF_ORACLE))
    tree = plan.split("\n\n")[0]
    assert tree.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    # exactly one real shuffle: the two-phase (nation, year) aggregate
    assert plan.count("Arguments: hashpartitioning") == 1


def test_q19_disjunction_single_join_no_union(spark):
    """Q19: the OR-of-ANDs profile must stay ONE broadcast join + filter,
    not a union of three scans."""
    from kalytical_spark.operators import warehouse

    plan = _formatted(warehouse.q19_disjunctive_revenue(spark, SF_ORACLE))
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree
    assert "Union" not in plan
    # one scan per table only (no per-branch scan duplication)...
    assert tree.count("Scan parquet") == 2  # lineitem + part
    # ...and the per-side OR-decompositions reach both parquet scans
    assert plan.count("PushedFilters: [IsNotNull") == 2 or "Or(" in plan


def test_hll_registers_partial_agg_no_raw_key_shuffle(spark):
    """Sketch family: register construction must be a two-phase hash
    aggregate (map-side partial MAX combine), all nibble arithmetic in
    whole-stage codegen, exactly one shuffle — and that shuffle carries
    (group, bucket) register rows, never raw user keys."""
    from kalytical_spark.operators import sketches

    plan = _final_plan(sketches.sketch_hll_registers(spark, SF_ORACLE))
    assert plan.count("HashAggregate") >= 2, plan  # partial + final
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert _n_shuffles(plan) == 1, plan


def test_audio_window_energy_zero_shuffle_arrow_map(spark):
    """Audio family: window fan-out must be ONE mapInPandas over the scan —
    zero Exchange (the 100 TB shape: feature extraction is a pure map)."""
    from kalytical_spark.operators import audio

    plan = _final_plan(audio.mm_audio_window_energy(spark, SF_ORACLE))
    assert "MapInPandas" in plan
    assert _n_shuffles(plan) == 0, plan


def test_triangle_census_no_cartesian_hub_bound(spark):
    """Graph family: the wedge join must stay an equi-join on the oriented
    edge list — no CartesianProduct / BroadcastNestedLoopJoin anywhere."""
    from kalytical_spark.operators import sketches

    plan = _final_plan(sketches.graph_copurchase_triangles(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rollup_is_single_pass_expand(spark):
    """OLAP family: ROLLUP must plan as ONE scan + Expand + two-phase
    aggregate — never a union of per-level scans (the naive rewrite that
    re-reads the fact table once per subtotal level)."""
    from kalytical_spark.operators import olap

    plan = _final_plan(olap.events_rollup_report(spark, SF_ORACLE))
    assert "Expand" in plan, plan
    assert "Union" not in plan
    assert plan.split("== Initial Plan ==")[0].count("Scan parquet") == 1


def test_range_join_is_equi_join_no_nested_loop(spark):
    """The bucketized range join must plan as a hash equi-join on the time
    bucket — never BroadcastNestedLoopJoin / CartesianProduct (the naive
    no-equi-key plan that dies at scale)."""
    from kalytical_spark.operators import rangejoin

    plan = _formatted(rangejoin.events_during_jobs(spark, SF_ORACLE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    tree = plan.split("\n\n")[0]
    assert "Join" in tree  # an actual equi join on bucket is present


def test_spread_guard_refuses_derived_frames(spark):
    """common.spread() must be a plan-inspection-only helper: a derived
    frame (aggregate/join/window upstream) is returned UNCHANGED — calling
    .rdd on it would execute the upstream stages at DataFrame-build time
    (ADVICE r11: the scan-shape contract is enforced, not just
    documented) — while genuinely scan-shaped frames still get the
    parallelism floor."""
    from pyspark.sql import functions as F

    from kalytical_spark.operators.common import spread, t

    emb = t(spark, SF_ORACLE, "embeddings")
    n = spark.sparkContext.defaultParallelism

    # scan-shaped: projection + filter over a table read still spreads
    # (the sf0.01 embedding file scans as a single split at test size)
    scan = emb.select("vec_id", "embedding").filter(F.col("vec_id") % 2 == 0)
    if scan.rdd.getNumPartitions() < n:
        assert spread(spark, scan).rdd.getNumPartitions() == n

    # derived frames are refused identically (same object back)
    agg = emb.groupBy("label").count()
    assert spread(spark, agg) is agg
    joined = emb.join(
        emb.select(F.col("vec_id").alias("v2")), F.col("vec_id") == F.col("v2")
    )
    assert spread(spark, joined) is joined


def test_spread_over_materialized_cached_join(spark):
    """A scan-shaped projection over a MATERIALIZED cache spreads even when
    the cached frame was built by a join: the join ran when the cache was
    filled, so it is not part of what `.rdd` executes (ADVICE r12: the
    cached physical plan that InMemoryRelation prints, with its
    `BroadcastHashJoin [` and `Sort [`, used to refuse the frame). No job
    runs inside spread()."""
    from pyspark.sql import functions as F

    from kalytical_spark.operators.common import spread, t

    emb = t(spark, SF_ORACLE, "embeddings")
    n = spark.sparkContext.defaultParallelism
    cached = (
        emb.join(emb.select(F.col("vec_id").alias("v2")), F.col("vec_id") == F.col("v2"))
        .coalesce(1)
        .cache()
    )
    try:
        cached.count()
        proj = cached.select("vec_id", "embedding")
        assert proj.rdd.getNumPartitions() < n
        group = "test_spread_over_materialized_cached_join"
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            got = spread(spark, proj)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert got.rdd.getNumPartitions() == n
    finally:
        cached.unpersist()


def test_sf_switch_evicts_stale_memos(spark):
    """catalog.register() on an sf_dir SWITCH must evict this session's
    operator memos keyed on the old sf_dir (ADVICE r11): temp views are
    single-sf_dir per session, so a stale-sf memo can never be read again
    — leaving it cached accumulates dead blocks across the driver's
    smoke+gate flow."""
    from kalytical_spark import catalog
    from kalytical_spark.operators.common import SESSION_MEMOS, app_key

    from kalytical_spark.operators import similarity

    catalog.register(spark, SF_SMALL)
    similarity.exact_topk_memo(spark, SF_SMALL)
    app = app_key(spark)

    def stale_entries():
        return [
            (id(d), k)
            for d in SESSION_MEMOS
            for k in d
            if isinstance(k, tuple)
            and len(k) == 2
            and k[0] == app
            and isinstance(k[1], str)
            and k[1] == SF_SMALL
        ]

    assert stale_entries(), "memo for the first sf_dir should exist"
    catalog.register(spark, SF_ORACLE)
    assert not stale_entries(), "sf switch must evict the old sf_dir's memos"


def test_date_partitioned_events_prune(spark, tmp_path):
    """The event log's at-rest layout: date-partitioned parquet must show
    PartitionFilters in the scan (whole days skipped without reading files)."""
    from kalytical_spark import catalog
    import contextlib, io

    catalog.register(spark, SF_SMALL)
    ev = spark.table("lifecycle_events")
    out = str(tmp_path / "events_by_day")
    ev.withColumn("dt", F.to_date("event_time")).write.mode("overwrite").partitionBy(
        "dt"
    ).parquet(out)
    q = spark.read.parquet(out).filter(F.col("dt") == "2024-01-15")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "isnotnull(dt" in plan or "dt#" in plan.split("PartitionFilters")[1].splitlines()[0]
    # and the filter really prunes: only one partition's rows come back
    days = {r.dt for r in q.select("dt").distinct().collect()}
    assert days == {__import__("datetime").date(2024, 1, 15)}


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """Join-driven pruning: when the partitioned fact joins a dim filtered
    on a NON-partition attribute, the fact scan must carry a dynamicpruning
    subquery in PartitionFilters — at 100 TB this skips whole days' files
    based on the broadcast dim result at runtime, which no static filter
    could express."""
    from kalytical_spark import catalog
    import contextlib, io

    catalog.register(spark, SF_SMALL)
    ev = spark.table("lifecycle_events")
    out = str(tmp_path / "events_by_day_dpp")
    ev.withColumn("dt", F.to_date("event_time")).write.mode("overwrite").partitionBy(
        "dt"
    ).parquet(out)
    fact = spark.read.parquet(out)
    # calendar dim: the is_audit_day flag is NOT derivable from dt statically
    days = fact.select("dt").distinct()
    dim = days.withColumn("is_audit_day", F.dayofmonth("dt") == 15)
    q = fact.join(dim.filter("is_audit_day"), "dt").groupBy("dt").count()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    assert "dynamicpruning" in plan, plan
    got = {r.dt.day for r in q.collect()}
    assert got == {15}
