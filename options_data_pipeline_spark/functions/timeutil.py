"""Time/calendar expression library.

Session anchors F7-F9 from SURVEY.md §2.8, implemented as pure Catalyst
column expressions (no UDFs) so they stay inside whole-stage codegen and
push through partition pruning.

Reference semantics:

- Daily session (F7): 08:00 UTC of day D -> D+1 08:00, half-open
  (/root/reference/src/pipeline/aggregators/daily_sessions.py:61-68).
- Weekly session (F8): Friday 08:00 UTC, 7 days
  (/root/reference/src/pipeline/aggregators/weekly_sessions.py:51-66;
  ``days_since_friday = (weekday - 4) % 7`` with Python's Monday=0).
- Monthly session (F9): last Friday of month M 08:00 -> last Friday of
  M+1 08:00 (/root/reference/src/pipeline/aggregators/monthly_sessions.py:51-95).
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import Column
from pyspark.sql import functions as F

EIGHT_HOURS = "INTERVAL 8 HOURS"


def utc_now() -> datetime:
    """The current UTC time as a naive datetime: the jobs' default
    ``now``, in the same convention as the naive-UTC watermarks."""
    return datetime.now(timezone.utc).replace(tzinfo=None)


def ms_to_timestamp(col: Column) -> Column:
    """F2: epoch-milliseconds -> TimestampType (UTC)."""
    return F.timestamp_millis(col)


def timestamp_to_ms(col: Column) -> Column:
    """F3: TimestampType -> epoch milliseconds."""
    return F.unix_millis(col)


def daily_session_start(ts: Column) -> Column:
    """F7: the 08:00-anchored daily session containing ``ts``."""
    return F.date_trunc("day", ts - F.expr(EIGHT_HOURS)) + F.expr(EIGHT_HOURS)


def weekly_session_start(ts: Column) -> Column:
    """F8: the Friday-08:00-anchored weekly session containing ``ts``.

    ``F.weekday`` is Monday=0 (same convention as Python's ``weekday()``),
    so Friday == 4 and ``(weekday - 4) % 7`` counts days since Friday.
    """
    day8 = daily_session_start(ts)  # 08:00 of the (shifted) calendar day
    days_since_friday = F.pmod(F.weekday(day8) - F.lit(4), F.lit(7))
    return day8 - days_since_friday * F.expr("INTERVAL 1 DAY")


def _last_friday_ts(any_day: Column) -> Column:
    """Last Friday of ``any_day``'s month, at 08:00, as a timestamp."""
    ld = F.last_day(any_day.cast("date"))
    lf = F.date_sub(ld, F.pmod(F.weekday(ld) - F.lit(4), F.lit(7)))
    return lf.cast("timestamp") + F.expr(EIGHT_HOURS)


def monthly_session_start(ts: Column) -> Column:
    """F9: the last-Friday-anchored monthly session containing ``ts``."""
    lf_this = _last_friday_ts(ts)
    prev_month_day = F.date_sub(F.date_trunc("month", ts).cast("date"), 1)
    lf_prev = _last_friday_ts(prev_month_day.cast("timestamp"))
    return F.when(ts >= lf_this, lf_this).otherwise(lf_prev)


def monthly_session_end(session_start: Column) -> Column:
    """Last Friday of the month after ``session_start``'s month, 08:00."""
    nxt = F.add_months(session_start.cast("date"), 1)
    return _last_friday_ts(nxt.cast("timestamp"))


# ---------------------------------------------------------------------------
# DuckDB-side twins (oracle SQL fragments). DuckDB's weekday() does not
# exist; isodow() is Monday=1..Sunday=7, so Python-weekday == isodow - 1.
# ---------------------------------------------------------------------------

def sql_daily_session_start(ts: str) -> str:
    return f"(date_trunc('day', {ts} - INTERVAL 8 HOUR) + INTERVAL 8 HOUR)"


def sql_days_since_friday(d: str) -> str:
    return f"((((isodow({d}) - 1 - 4) % 7) + 7) % 7)"


def sql_weekly_session_start(ts: str) -> str:
    day8 = sql_daily_session_start(ts)
    return f"({day8} - to_days({sql_days_since_friday(day8)}::int))"


def sql_last_friday_ts(any_day: str) -> str:
    ld = f"last_day(CAST({any_day} AS DATE))"
    return (
        f"(CAST(({ld} - to_days({sql_days_since_friday(ld)}::int)) AS TIMESTAMP)"
        f" + INTERVAL 8 HOUR)"
    )


def sql_monthly_session_start(ts: str) -> str:
    lf_this = sql_last_friday_ts(ts)
    prev_day = f"(date_trunc('month', {ts}) - INTERVAL 1 DAY)"
    lf_prev = sql_last_friday_ts(prev_day)
    return f"(CASE WHEN {ts} >= {lf_this} THEN {lf_this} ELSE {lf_prev} END)"


def sql_monthly_session_end(session_start: str) -> str:
    nxt = f"(CAST({session_start} AS DATE) + INTERVAL 1 MONTH)"
    return sql_last_friday_ts(nxt)
