"""Property-based tests (hypothesis) for the trigger state machine and
determinism helpers — SURVEY.md section 5.2 item 5: any/all monotonicity,
fire-count bounds, batch-split invariance."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from kalytical_spark.streaming.transitions import TriggerState, apply_delivery

upstreams = st.lists(
    st.sampled_from([f"u{i}" for i in range(5)]), min_size=1, max_size=60
)


def _run(operator: str, n_deps: int, seq: list[str]):
    st_ = TriggerState(operator=operator, n_deps=n_deps)
    fires = []
    for i, u in enumerate(seq):
        f = apply_delivery(st_, u, f"e{i}", i)
        if f is not None:
            fires.append(f)
    return fires, st_


@given(seq=upstreams)
@settings(max_examples=200, deadline=None)
def test_any_fires_exactly_per_delivery(seq):
    fires, state = _run("any", 3, seq)
    assert len(fires) == len(seq)
    assert state.seen == {}


@given(seq=upstreams, n_deps=st.integers(min_value=2, max_value=5))
@settings(max_examples=200, deadline=None)
def test_all_fire_count_bounded_by_min_upstream(seq, n_deps):
    """'all' can never fire more often than the scarcest required upstream
    delivered, and each fire consumes a full trigger set."""
    deps = [f"u{i}" for i in range(n_deps)]
    filtered = [u for u in seq if u in deps]
    fires, state = _run("all", n_deps, filtered)
    from collections import Counter

    counts = Counter(filtered)
    min_deliveries = min((counts.get(d, 0) for d in deps), default=0)
    assert len(fires) <= min_deliveries
    for f in fires:
        assert len(f.sources) == n_deps
        assert {u for u, _ in f.sources} == set(deps)
    # leftover partial state is strictly smaller than a full set
    assert len(state.seen) < n_deps


@given(seq=upstreams, n_deps=st.integers(min_value=2, max_value=4),
       split=st.integers(min_value=0, max_value=60))
@settings(max_examples=200, deadline=None)
def test_fold_is_split_invariant(seq, n_deps, split):
    """Folding a delivery sequence in one pass equals folding it as two
    chunks with carried state — the micro-batch boundary can land anywhere
    (the streaming/batch equivalence in miniature)."""
    deps = [f"u{i}" for i in range(n_deps)]
    filtered = [u for u in seq if u in deps]
    one_shot, _ = _run("all", n_deps, filtered)

    cut = min(split, len(filtered))
    state = TriggerState(operator="all", n_deps=n_deps)
    fires = []
    for i, u in enumerate(filtered[:cut]):
        f = apply_delivery(state, u, f"e{i}", i)
        if f:
            fires.append(f)
    for j, u in enumerate(filtered[cut:]):
        i = cut + j
        f = apply_delivery(state, u, f"e{i}", i)
        if f:
            fires.append(f)
    assert [f.sources for f in fires] == [f.sources for f in one_shot]


@given(
    st.lists(st.integers(min_value=0, max_value=10), min_size=1, max_size=30),
    st.integers(min_value=0, max_value=3),
)
@settings(max_examples=100, deadline=None)
def test_retry_never_exceeds_cap(retries, retry_max):
    """dispatcher.py:51-55 semantics: a failure requeues iff below
    retry_max; the requeued count never exceeds retry_max."""
    for rc in retries:
        decision = "exhausted" if rc >= retry_max else "requeue"
        if decision == "requeue":
            assert rc + 1 <= retry_max


@given(st.binary(min_size=0, max_size=512))
@settings(max_examples=200, deadline=None)
def test_wav_codec_roundtrips_any_bytes(payload):
    """The RIFF/WAVE codec (audio.py) round-trips EVERY byte string
    exactly — u8 -> s16 PCM -> container -> chunk-walk parse -> u8 — and
    the parsed fmt fields always match what the writer stamped."""
    import numpy as np

    from kalytical_spark.operators import audio

    src = np.frombuffer(payload, dtype=np.uint8)
    n_ch, sr, bits, samples = audio._parse_wav(audio._encode_wav(src))
    assert (n_ch, sr, bits) == (1, audio._WAV_SR, 16)
    assert np.array_equal(((samples.astype(np.int64) >> 8) + 128), src)


@given(st.lists(st.integers(min_value=0, max_value=1000), min_size=1, max_size=60))
@settings(max_examples=200, deadline=None)
def test_cusum_statistic_telescopes_to_zero(counts):
    """The n-scaled CUSUM statistic (timeseries.py) telescopes: S_n =
    n_days * total - n_days * total == 0 at the end of every series, and
    S_t is translation-covariant (adding a constant to every day shifts
    nothing)."""
    n = len(counts)
    total = sum(counts)
    cum = 0
    s_vals = []
    for t_idx, c in enumerate(counts, start=1):
        cum += c
        s_vals.append(n * cum - t_idx * total)
    assert s_vals[-1] == 0
    shifted = [c + 7 for c in counts]
    tot2 = sum(shifted)
    cum = 0
    s2 = []
    for t_idx, c in enumerate(shifted, start=1):
        cum += c
        s2.append(n * cum - t_idx * tot2)
    assert s2 == s_vals


# --- cron grammar: Python twin vs the Spark SQL compilation ---------------

_cron_field = st.one_of(
    st.just("*"),
    st.integers(0, 59).map(str),
    st.tuples(st.integers(0, 30), st.integers(0, 29)).map(
        lambda ab: f"{ab[0]}-{ab[0] + ab[1]}"
    ),
    st.tuples(st.integers(0, 30), st.integers(0, 29), st.integers(1, 15)).map(
        lambda abs_: f"{abs_[0]}-{abs_[0] + abs_[1]}/{abs_[2]}"
    ),
    st.integers(1, 15).map(lambda s: f"*/{s}"),
)
_cron_token = st.lists(_cron_field, min_size=1, max_size=3).map(",".join)


@settings(max_examples=60, deadline=None)
@given(tok=_cron_token, val=st.integers(0, 59), first=st.integers(0, 1))
def test_cron_field_python_equals_sql(spark, tok, val, first):
    """The pure-Python field matcher (tests/cron_model.py) and the SQL
    compilation (_cron_field_match_sql) must agree on ANY grammar-legal
    token — fuzzed, not just the fixture schedules."""
    from kalytical_spark.operators.scheduling import _cron_field_match_sql
    from tests.cron_model import cron_field_match

    sql = _cron_field_match_sql(f"'{tok}'", str(val), duck=False, first=first)
    got_sql = spark.sql(f"SELECT {sql} AS ok").collect()[0].ok
    assert got_sql == cron_field_match(tok, val, first)


_dow_field = st.one_of(
    st.just("*"),
    st.integers(0, 7).map(str),
    st.tuples(st.integers(0, 6), st.integers(0, 7)).map(
        lambda ab: f"{ab[0]}-{min(ab[0] + ab[1], 7)}"
    ),
    st.integers(1, 7).map(lambda s: f"*/{s}"),
)
_dow_token = st.lists(_dow_field, min_size=1, max_size=3).map(",".join)


@settings(max_examples=40, deadline=None)
@given(tok=_dow_token, val=st.integers(0, 6))
def test_cron_dow_alias_python_equals_sql(spark, tok, val):
    """dow mode (vixie 7==Sunday alias): Python twin vs SQL compilation on
    tokens that may spell Sunday as 7 — including ranges like '5-7' and
    mixed element lists like '*/3,7'."""
    from kalytical_spark.operators.scheduling import _cron_field_match_sql
    from tests.cron_model import cron_field_match

    sql = _cron_field_match_sql(f"'{tok}'", str(val), duck=False, first=0, dow=True)
    got_sql = spark.sql(f"SELECT {sql} AS ok").collect()[0].ok
    assert got_sql == cron_field_match(tok, val, 0, dow=True)


def test_cron_dow_seven_is_sunday():
    """Pinned vixie cases: '7' and ranges reaching 7 admit Sunday (0);
    the alias must not widen star-step elements ('*/3' still excludes 2)."""
    from tests.cron_model import cron_field_match

    assert cron_field_match("7", 0, 0, dow=True)
    assert cron_field_match("5-7", 0, 0, dow=True)
    assert cron_field_match("5-7", 5, 0, dow=True)
    assert cron_field_match("5-7", 6, 0, dow=True)
    assert not cron_field_match("5-7", 4, 0, dow=True)
    assert cron_field_match("*/3,7", 0, 0, dow=True)
    assert not cron_field_match("*/3", 2, 0, dow=True)
    assert cron_field_match("*/3", 0, 0, dow=True)
    # without dow mode the alias must stay off (dom/month/minute fields)
    assert not cron_field_match("7", 0, 0)


# --- NTILE closed form vs Spark's ntile over random sizes -----------------


@settings(max_examples=30, deadline=None)
@given(n=st.integers(1, 200), k=st.just(5))  # n < k: every row its own bucket
def test_ntile_closed_form_matches_spark(spark, n, k):
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from kalytical_spark.operators.segments import _ntile_expr

    df = (
        spark.range(1, n + 1)
        .withColumnRenamed("id", "rank")
        .crossJoin(spark.range(1).select(F.lit(n).alias("n")))
    )
    got = df.select(
        "rank",
        _ntile_expr(k).alias("closed"),
        F.ntile(k).over(W.orderBy("rank")).alias("direct"),
    ).collect()
    for r in got:
        assert r.closed == r.direct, (n, r.rank)
