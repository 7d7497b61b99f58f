"""Plan-fingerprint regression gate (tests/test_plan_fingerprints.py): the
operator MULTISET of each headline query's executed physical plan, pinned
to tests/plan_fingerprints.json. An unintended new Exchange (someone adds a
repartition(), a join flips broadcast->sort-merge, a codegen expression
falls back to Python eval) changes the multiset and fails the test — cheap
insurance across a 180-query registry where a single plan regression would
otherwise hide inside total wall time.

The fingerprint counts only load-bearing operator classes (shuffles,
broadcasts, join strategies, aggregates, Python-eval nodes, windows) —
not expression details — so refactors that keep the execution shape are
fingerprint-stable, while anything that changes shuffle/join/Python
structure is not.

Usage:
    python tools/plan_fingerprint.py            # print current fingerprints
    python tools/plan_fingerprint.py --update   # re-pin the JSON baseline
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Load-bearing operator classes, counted from a STRUCTURAL WALK of the
# static physical plan tree (SparkPlan node classes, one count per node).
# String-scraping the plan was abandoned in r8: the toString/explain
# representations EMBED each cached relation's originally-compiled build
# plan at every InMemoryTableScan site (the same REPARTITION_BY_NUM
# exchange printed 44x in dedup_setsim_prefix), and that embedded text
# varies with cache-compilation context (AQE wrappers, first-run-in-JVM
# artifacts) — the tree walk counts each node exactly once and treats
# InMemoryTableScan as a LEAF, so cache internals can never move a
# fingerprint. The shared cached builds are pinned by their own headline
# entries (memo_lsh_signature_build below) instead.
_OPS: dict[str, str] = {
    "BroadcastExchangeExec": "broadcast_exchange",
    "BroadcastHashJoinExec": "broadcast_hash_join",
    "ShuffledHashJoinExec": "shuffled_hash_join",
    "SortMergeJoinExec": "sort_merge_join",
    "BroadcastNestedLoopJoinExec": "broadcast_nested_loop_join",
    "CartesianProductExec": "cartesian_product",
    "HashAggregateExec": "hash_aggregate",
    "ObjectHashAggregateExec": "object_hash_aggregate",
    "SortAggregateExec": "sort_aggregate",
    "TakeOrderedAndProjectExec": "take_ordered",
    "WindowExec": "window",
    "WindowGroupLimitExec": "window_group_limit",
    "ExpandExec": "expand",
    "GenerateExec": "generate",
    "BatchEvalPythonExec": "python_batch_eval",
    "ArrowEvalPythonExec": "python_arrow_eval",
    "FlatMapGroupsInPandasExec": "python_grouped_map",
    "FlatMapCoGroupsInPandasExec": "python_cogrouped_map",
    "MapInPandasExec": "python_map_in_arrow",
    "PythonMapInArrowExec": "python_map_in_arrow",
    "MapInArrowExec": "python_map_in_arrow",
    "InMemoryTableScanExec": "cached_scan",  # leaf: build plans not entered
    "ReusedExchangeExec": "reused_exchange",
}


def _walk_counts(jnode, out: dict[str, int]) -> None:
    """Count load-bearing node classes of a JVM SparkPlan tree. Descends
    children only — not into InMemoryTableScan cached plans (their
    compilation context is session history, which is exactly the
    nondeterminism this gate must not measure)."""
    cls = jnode.getClass().getSimpleName()
    if cls == "ShuffleExchangeExec":
        part = jnode.outputPartitioning().toString()
        if part.startswith("hashpartitioning"):
            key = "shuffle_hash_exchange"
        elif part.startswith("rangepartitioning"):
            key = "shuffle_range_exchange"
        elif part.startswith("SinglePartition"):
            key = "shuffle_single_exchange"
        else:
            key = "shuffle_roundrobin_exchange"
        out[key] = out.get(key, 0) + 1
    elif cls in _OPS:
        key = _OPS[cls]
        out[key] = out.get(key, 0) + 1
        if cls == "InMemoryTableScanExec":
            return
    kids = jnode.children()
    for i in range(kids.size()):
        _walk_counts(kids.apply(i), out)
    try:  # expression-embedded subquery plans (scalar/IN subqueries)
        subs = jnode.subqueries()
        for i in range(subs.size()):
            _walk_counts(subs.apply(i), out)
    except Exception:
        pass


def fingerprint(df_or_build, spark=None) -> dict[str, int]:
    """Count load-bearing operators of the executed plan — defined as the
    STATIC physical plan: the query runs with AQE DISABLED for exactly
    this execution, from a reset session (caches + module memos cleared,
    then every session-tracked cache force-materialized before the
    measured query so planner statistics are final — see
    common.reset_session_state / materialize_session_caches).

    Why static: the ADAPTIVE executed plan is genuinely not deterministic
    for multi-stage DAGs. AQE re-optimizes at each stage completion, and
    the completion ORDER of independent racing stages is thread-timing-
    dependent — under full-suite load this flipped users_rfm_segments
    between 73 and 75 hash exchanges (r7) and, after the cache
    materialization fix, still flipped one dedup_setsim_prefix broadcast
    join to sort-merge (r8, in-suite only). No amount of cache pinning
    removes a stage-race, so the gate pins what IS deterministic: the
    plan Catalyst compiles from the declared query (hints, partitioning,
    join structure, codegen vs Python fallback) and deterministic size
    estimates. An unintended repartition, a removed broadcast hint, a
    join flip, or an ArrowEval fallback all move this plan; AQE's runtime
    improvements on top are owned by the measured benchmark instead
    (perfbench/).

    Passing a prebuilt DataFrame skips the reset and materialization (only
    safe for memo-free queries, e.g. the injected-repartition teeth test)."""
    from kalytical_spark.operators.common import (
        materialize_session_caches,
        reset_session_state,
    )

    sess = spark if spark is not None else df_or_build.sparkSession
    prev_aqe = sess.conf.get("spark.sql.adaptive.enabled", "true")
    sess.conf.set("spark.sql.adaptive.enabled", "false")
    # pin the scan split sizing (ADVICE r11): common.spread() repartitions
    # only when a scan yields fewer partitions than defaultParallelism, so
    # pins like sim_maxsim_topk's shuffle_roundrobin_exchange:1 depend on
    # the split count. Fixing maxPartitionBytes at the Spark default makes
    # the split count a pure function of the committed test data (the cpu
    # side is already covered: re-pins are cross-checked at a second
    # SPARK_GRAFT_TEST_CPUS, and the fixture scans are single-split at
    # both counts).
    prev_mpb = sess.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    sess.conf.set("spark.sql.files.maxPartitionBytes", "134217728b")
    try:
        if callable(df_or_build):
            reset_session_state(sess)
            df = df_or_build()
            materialize_session_caches(sess)
        else:
            df = df_or_build
            df.sparkSession.catalog.clearCache()
        # re-assert AFTER the build: the reset forces catalog.register to
        # re-run inside the build, and register -> tune_session turns AQE
        # back on (it tunes driver-owned sessions) — without this line
        # every "static" fingerprint silently measured an adaptive plan
        sess.conf.set("spark.sql.adaptive.enabled", "false")
        df.collect()
        root = df._jdf.queryExecution().executedPlan()
        if root.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            raise RuntimeError(
                "fingerprint executed an ADAPTIVE plan (AQE re-enabled "
                "mid-measurement?) — the gate must only pin static plans"
            )
        out: dict[str, int] = {}
        _walk_counts(root, out)
    finally:
        sess.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        sess.conf.set("spark.sql.files.maxPartitionBytes", prev_mpb)
    return out


# Headline set: the plan shapes SURVEY.md section 4 designed for, one per
# load-bearing family (star join, vocab join, LSH mine, top-k, codegen agg,
# grouped-map fold, window prefix-sum, sketch partial-agg).
def headline_queries() -> dict[str, object]:
    from kalytical_spark.registry import all_queries

    qs = all_queries()
    names = [
        "q1_pricing_summary",       # codegen-heavy scan+agg, zero joins
        "q9_product_type_profit",   # star join: single fact shuffle
        "q19_disjunctive_revenue",  # disjunction folded into ONE join
        "dag_fire_decisions",       # flagship: explode + broadcast joins
        "events_recent_topk",       # TakeOrderedAndProject
        "text_tfidf_topk",          # shuffle_hash vocab join (never broadcast)
        "dedup_minhash_lsh",        # banded LSH mine
        "sketch_hll_registers",     # partial-agg register table
        "events_cumulative_users",  # two-level prefix-sum window
        "dag_replay_decisions",     # hybrid window + grouped-map fold
        "sketch_quantile_decades",  # histogram sketch + partitioned exact anchor
        "sketch_cms_join_size",     # sketch inner-product join estimate
        "orders_market_basket",     # one-shuffle array pair expansion + top-k
        "users_rfm_segments",       # digit-partitioned NTILE (no global window)
        "text_rrf_fusion",          # two per-term windows + fused top-k
        "dedup_setsim_prefix",      # prefix postings + array_intersect verify
        "sim_maxsim_topk",          # flat codegen MaxSim: no Python eval node
        "text_maxscore_topk",       # essential-posting prune: bounded dims only
        "text_stupid_backoff",      # three shuffle_hash model joins (never broadcast)
        "graph_link_prediction",    # wedge join + anti-join + TakeOrderedAndProject
        "dedup_minhash_calibration",  # pair-bounded signature rebuild (semi-join prune)
        # r6->r7 bench-regression watch set (VERDICT r6 task 3): pinned so
        # plan drift is ruled in/out of any future wall-time movement
        "decontam_longest_run",     # n-gram hit runs: match-join + window
        "dag_critical_path",        # iterative longest-path fold
        "text_vocab_coverage",      # frequency-ranked coverage curve
    ]
    out = {n: qs[n][0] for n in names if n in qs}

    # the shared cached index builds are LEAVES to every fingerprint above
    # (the walk never enters InMemoryTableScan), so the build plan itself
    # is pinned here as its own uncached entry — a regression in the
    # shingle explode / minhash fold / band stack shows up in this shape
    def _lsh_signature_build(spark, sf_dir):
        from kalytical_spark.operators.dedup import _shingles_df, banded_signatures

        return banded_signatures(_shingles_df(spark, sf_dir))

    out["memo_lsh_signature_build"] = _lsh_signature_build

    # MEMOIZED headline queries execute as one cached scan after their
    # first call, which would pin `{"cached_scan": 1}` — gate-blind. Each
    # is replaced by its module's UNCACHED *_plan twin (the single
    # construction the memo materializes), so the full mine/verify/fold
    # structure stays pinned.
    def _lsh_pairs_build(spark, sf_dir):
        from kalytical_spark.operators.dedup import lsh_pairs_plan

        return lsh_pairs_plan(spark, sf_dir)

    def _setsim_build(spark, sf_dir):
        from kalytical_spark.operators.setsim import setsim_pairs_plan

        return setsim_pairs_plan(spark, sf_dir)

    def _replay_build(spark, sf_dir):
        from kalytical_spark.operators.replay import replay_decisions_plan

        return replay_decisions_plan(spark, sf_dir)

    out["dedup_minhash_lsh"] = _lsh_pairs_build
    out["dedup_setsim_prefix"] = _setsim_build
    out["dag_replay_decisions"] = _replay_build
    return out


_PIN = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests",
    "plan_fingerprints.json",
)


def stable(name: str, fp: dict[str, int]) -> dict[str, int]:
    """Kept as the comparison seam (fingerprints are already hermetic —
    fingerprint() clears the session cache, so the cold plan is the
    definition and no per-query volatility carve-outs are needed)."""
    return fp


def compute_all(spark, sf_dir: str) -> dict[str, dict[str, int]]:
    return {
        name: stable(
            name,
            fingerprint(lambda fn=fn: fn(spark, sf_dir), spark),
        )
        for name, fn in headline_queries().items()
    }


def main() -> None:
    from kalytical_spark.session import get_spark
    from tests.conftest import SF_ORACLE

    # same parallelism as the pytest session (conftest.py): the static
    # plan must not depend on it — setsim's unhinted semi-join once
    # flipped BHJ<->SMJ between cpus=4 and cpus=8 because cached-size
    # estimates move with partition count; every load-bearing join is now
    # explicitly hinted, and re-pins are cross-checked at a second cpu
    # count before being trusted (r8)
    spark = get_spark(
        "plan_fingerprint", cpus=int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "4"))
    )
    fps = compute_all(spark, SF_ORACLE)
    print(json.dumps(fps, indent=1, sort_keys=True))
    if "--update" in sys.argv:
        with open(_PIN, "w") as fh:
            json.dump(fps, fh, indent=1, sort_keys=True)
        print(f"pinned -> {_PIN}", file=sys.stderr)


if __name__ == "__main__":
    main()
