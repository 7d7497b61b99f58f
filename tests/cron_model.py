"""A pure-Python model of the vixie 5-field cron grammar that
operators/scheduling.py compiles to SQL. It shares no code with the SQL
compilation, so the tests that compare the two catch a grammar regression
in either."""

from __future__ import annotations


def cron_field_match(tok: str, val: int, first: int, dow: bool = False) -> bool:
    """Python twin of scheduling._cron_field_match_sql — same grammar, same
    */step phase anchored at the field's first legal value, same vixie
    7==Sunday dow alias (value 0 also matches whenever 7 would)."""
    if dow and val == 0 and cron_field_match(tok, 7, first):
        return True
    if tok == "*":
        return True
    for e in tok.split(","):
        base, _, steps = e.partition("/")
        step = int(steps) if steps else 1
        if base == "*":
            if (val - first) % step == 0:
                return True
        elif "-" in base:
            lo, hi = (int(x) for x in base.split("-"))
            if lo <= val <= hi and (val - lo) % step == 0:
                return True
        elif val == int(base):
            return True
    return False


def cron_matches(schedule: str, ts) -> bool:
    """Does this minute match the 5-field schedule? Includes the vixie
    dom/dow quirk: when BOTH day fields are restricted (token not
    star-flagged), either matching suffices."""
    mi, hr, dom, mon, dow = schedule.split(" ")
    checks = {
        "minute": cron_field_match(mi, ts.minute, 0),
        "hour": cron_field_match(hr, ts.hour, 0),
        "dom": cron_field_match(dom, ts.day, 1),
        "month": cron_field_match(mon, ts.month, 1),
        # Python weekday(): Mon=0..Sun=6; cron: Sun=0..Sat=6 (7 aliases 0)
        "dow": cron_field_match(dow, (ts.weekday() + 1) % 7, 0, dow=True),
    }
    if not dom.startswith("*") and not dow.startswith("*"):
        day_ok = checks["dom"] or checks["dow"]
    else:
        day_ok = checks["dom"] and checks["dow"]
    return checks["minute"] and checks["hour"] and checks["month"] and day_ok


class CronPreviewUDTF:
    """`cron_preview(schedule, base_ts, horizon_minutes)` -> one row per
    minute in (base, base + horizon] that ``cron_matches``: the model as a
    Spark Python table function, consumed with a LATERAL join."""

    def eval(self, schedule: str, base_ts, horizon_minutes: int):
        import datetime

        if schedule is None or base_ts is None:
            return
        base = base_ts.replace(second=0, microsecond=0)
        for m in range(1, int(horizon_minutes) + 1):
            cand = base + datetime.timedelta(minutes=m)
            if cron_matches(schedule, cand):
                yield (cand,)


def register_cron_preview(spark) -> None:
    from pyspark.sql.functions import udtf

    spark.udtf.register(
        "cron_preview", udtf(CronPreviewUDTF, returnType="fire_ts timestamp")
    )
