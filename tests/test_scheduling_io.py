"""Tests for scheduling (cron origination) and SimHash dedup."""

from __future__ import annotations

import hashlib

from kalytical_spark.operators import scheduling, simhash
from tests.conftest import SF_SMALL


def test_cron_due_originations(spark):
    rows = scheduling.cron_due_originations(spark, SF_SMALL).collect()
    assert rows
    assert all(r.due_time.second == 0 for r in rows)
    assert len({r.exec_uuid for r in rows}) == len(rows)


def _py_cron_next(schedule: str, now):
    """Independent brute-force cron-next (vixie semantics incl. the dom/dow
    OR quirk), used only as a differential twin for the Spark evaluator."""
    import datetime

    def field_ok(tok: str, v: int, first: int = 0) -> bool:
        if tok == "*":
            return True
        for e in tok.split(","):
            base, _, step_s = e.partition("/")
            step = int(step_s) if step_s else 1
            if base == "*":
                # vixie/K8s: */step counts from the field's FIRST value
                # (1 for dom/month), not from 0
                if (v - first) % step == 0:
                    return True
            elif "-" in base:
                lo, hi = map(int, base.split("-"))
                if lo <= v <= hi and (v - lo) % step == 0:
                    return True
            elif v == int(base):
                return True
        return False

    toks = schedule.split()
    ts = now.replace(second=0, microsecond=0)
    for _ in range(scheduling.CRON_HORIZON_MINUTES):
        ts += datetime.timedelta(minutes=1)
        cron_dow = (ts.weekday() + 1) % 7  # cron: 0=Sunday
        dom_ok = field_ok(toks[2], ts.day, first=1)
        dow_ok = field_ok(toks[4], cron_dow)
        # vixie star FLAG: a field beginning with '*' (plain or */n) is
        # unrestricted for the dom/dow OR quirk
        day_ok = (
            (dom_ok or dow_ok)
            if (not toks[2].startswith("*") and not toks[4].startswith("*"))
            else (dom_ok and dow_ok)
        )
        if (
            field_ok(toks[0], ts.minute)
            and field_ok(toks[1], ts.hour)
            and field_ok(toks[3], ts.month, first=1)
            and day_ok
        ):
            return ts
    raise AssertionError(f"no fire within horizon for {schedule}")


def test_cron_next_due_matches_brute_force(spark):
    """Differential check of the general 5-field evaluator over every
    grammar shape (steps, ranges, lists, range-steps, the vixie dom/dow OR
    quirk) at an awkward 'now' (mid-minute, Saturday, end of month)."""
    import datetime

    from pyspark.sql import functions as F

    shapes = [
        "* * * * *",
        "0 * * * *",
        "*/15 * * * *",
        "30 2 * * *",
        "5,35 */3 * * *",
        "0 9-17/2 * * 1-5",
        "0 0 1 * 1",  # vixie OR: 1st of month OR every Monday
        "45 23 28-31 * *",
        "0 12 13 * 5",  # vixie OR: 13th OR Fridays, at noon
        "0 0 */2 * *",  # 1-based step phase: days 1,3,5,... (K8s), not 2,4,...
        "0 12 * */3 *",  # month step from month 1: Jan/Apr/Jul/Oct
        "0 0 */2 * 1",  # star-FLAGGED dom (*/2): quirk is AND, not OR
    ]
    now = datetime.datetime(2026, 3, 28, 22, 47, 23)  # Saturday, late, mid-minute
    sdf = spark.createDataFrame([(s,) for s in shapes], "schedule string")
    got = {
        r.schedule: r.due_time
        for r in scheduling.cron_next_due(spark, sdf, F.lit(now)).collect()
    }
    assert set(got) == set(shapes)
    for s in shapes:
        assert got[s] == _py_cron_next(s, now), s


def _py_simhash64(text: str) -> int:
    """64-bit SimHash over whitespace tokens (md5-seeded bit votes): the
    pure-Python reference for simhash's vectorized batch UDF."""
    votes = [0] * 64
    for tok in text.split(" "):
        h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
        for b in range(64):
            votes[b] += 1 if (h >> b) & 1 else -1
    fp = 0
    for b in range(64):
        if votes[b] > 0:
            fp |= 1 << b
    return fp


def test_simhash_matches_pure_python(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(20).collect()
    got = {
        r.doc_id: r.simhash for r in simhash.doc_simhashes(spark, SF_SMALL).collect()
    }
    for d in docs:
        expect = _py_simhash64(d.text)
        if expect >= 1 << 63:
            expect -= 1 << 64
        assert got[d.doc_id] == expect


def test_simhash_banding_finds_near_dups(spark):
    """Within Hamming distance 3, at least one of the four 16-bit bands must
    match (pigeonhole) — so the banded candidate set loses no true pair.
    Verify against brute force over the full fingerprint set."""
    fps = {r.doc_id: r.simhash for r in simhash.doc_simhashes(spark, SF_SMALL).collect()}
    ids = sorted(fps)
    brute = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1") <= simhash.HAMMING_THRESHOLD:
                brute.add((a, b))
    got = {(r.doc_a, r.doc_b) for r in simhash.dedup_simhash(spark, SF_SMALL).collect()}
    assert got == brute


def test_cron_preview_udtf_matches_jvm_grid(spark):
    """The pure-Python cron model (tests/cron_model.py), run as the
    ``cron_preview`` UDTF, and the JVM SQL grid are independent
    implementations of the same vixie grammar — their fire sets over the
    fixture schedules and a multi-day horizon must be identical."""
    from pyspark.sql import functions as F

    from kalytical_spark import catalog
    from tests.conftest import SF_SMALL as SF
    from tests.cron_model import register_cron_preview

    catalog.register(spark, SF)
    register_cron_preview(spark)
    horizon = 3 * 24 * 60  # 3 days of minutes: crosses dom/dow boundaries
    base = spark.table("events_ms").selectExpr("max(ts) AS m").collect()[0].m
    scheds = (
        spark.table("pipeline_defs")
        .filter(F.col("schedule").isNotNull())
        .select("schedule")
        .distinct()
    )
    scheds.createOrReplaceTempView("sched_dim")
    jvm = {
        (r.schedule, r.cand_ts)
        for r in scheduling.cron_matched_minutes(
            spark, scheds, F.lit(base), 1, horizon + 1
        ).collect()
    }
    py = {
        (r.schedule, r.fire_ts)
        for r in spark.sql(
            f"""
            SELECT s.schedule, p.fire_ts
            FROM sched_dim s,
                 LATERAL cron_preview(s.schedule, TIMESTAMP '{base}', {horizon}) p
            """
        ).collect()
    }
    assert py == jvm and jvm, (len(py), len(jvm))
