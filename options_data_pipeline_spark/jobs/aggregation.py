"""Aggregation job lifecycles (reference flows §3.2/§3.3, Spark-shaped).

- :func:`daily_sessions_job` mirrors ``DailySessionAggregator.run``
  (reference src/pipeline/aggregators/daily_sessions.py:134-226): resume
  from the last processed session date, re-read the hourly table for the
  open span in ONE bulk scan, roll up sessions with the >=20h guard, and
  upsert keyed on (instrument, datetime). The per-instrument thread
  fan-out of the reference (flows/aggregation.py:68-71) disappears —
  instrument is a grouping column, one DataFrame covers all symbols.

- :func:`option_ohlc_job` mirrors ``OptionOHLCAggregator.run``
  (aggregators/option_ohlc.py:144-190): stats probe, aggregate the
  trailing ``hours_back`` window, upsert on (hour_timestamp,
  instrument_name), re-probe and report the delta. The stats dict uses
  the *aliased* names (total_records/instruments/latest_hour) — the
  reference reads unaliased keys and crashes (defect D2); we implement
  the intent.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import timeutil as T
from ..operators.option_ohlc import option_ohlc_hourly
from ..operators.session_ohlc import session_ohlc
from ..sinks.upsert import merge_upsert
from .incremental import high_watermark

DAILY_MIN_HOURS = 20  # reference daily_sessions.py:183


def daily_sessions_job(
    spark: SparkSession,
    hourly: DataFrame,
    target_path: str,
    time_col: str = "bucket_ts",
    keys: tuple[str, ...] = ("instrument",),
    min_rows: int = DAILY_MIN_HOURS,
    cold_start: timedelta = timedelta(days=365),
    now: datetime | None = None,
) -> dict[str, int]:
    """One incremental daily-session run over an hourly-candle DataFrame.

    Resumes AT the last processed session start (not after it): that
    session may have been aggregated while still partial, and re-reading
    its full span converges it — the T2 lookback semantic. Returns
    {"sessions", "inserted", "updated"}; ``sessions`` is inserted +
    updated, counted during the MERGE's write, and a run with no session
    in scope commits nothing.
    """
    now = now or T.utc_now()
    wm = high_watermark(spark, target_path, "datetime")
    start = wm if wm is not None else (now - cold_start)
    in_scope = hourly.where(F.col(time_col) >= F.lit(start))
    sessions = session_ohlc(
        in_scope,
        session_start=T.daily_session_start(F.col(time_col)),
        keys=keys,
        time_col=time_col,
        min_rows=min_rows,
    ).withColumnRenamed("session_start", "datetime")
    m = merge_upsert(
        spark, target_path, sessions, keys=[*keys, "datetime"],
        audit_col="updated_at",
    )
    return {"sessions": m["inserted"] + m["updated"], **m}


def option_ohlc_stats(spark: SparkSession, target_path: str) -> dict:
    """A6 probe with the ALIASED output names (intent of defect D2)."""
    import os

    if not os.path.exists(target_path):
        return {"total_records": 0, "instruments": 0, "latest_hour": None}
    row = (
        spark.read.parquet(target_path)
        .agg(
            F.count(F.lit(1)).alias("total_records"),
            F.countDistinct("instrument_name").alias("instruments"),
            F.max("hour_timestamp").alias("latest_hour"),
        )
        .first()
    )
    return row.asDict()


def option_ohlc_job(
    spark: SparkSession,
    trades: DataFrame,
    target_path: str,
    hours_back: int = 3,
    now: datetime | None = None,
) -> dict:
    """One incremental trade->hourly-OHLC run (reference §3.3).

    Aggregates the trailing ``hours_back`` hours of trades and MERGEs on
    (hour_timestamp, instrument_name); reports before/after stats deltas
    like the reference's before/after row-count diff
    (option_ohlc.py:156-175).
    """
    now = now or T.utc_now()
    before = option_ohlc_stats(spark, target_path)
    cutoff = now - timedelta(hours=hours_back)
    window = trades.where(F.col("timestamp") >= F.lit(cutoff))
    agg = option_ohlc_hourly(window)
    m = merge_upsert(
        spark, target_path, agg, keys=["hour_timestamp", "instrument_name"]
    )
    after = option_ohlc_stats(spark, target_path)
    return {
        "aggregated_rows": m["inserted"] + m["updated"],
        "before": before,
        "after": after,
        "new_records": after["total_records"] - before["total_records"],
    }


WEEKLY_MIN_DAYS = 5    # reference weekly_sessions.py:123
MONTHLY_MIN_DAYS = 20  # reference monthly_sessions.py:153


def _chained_sessions_job(
    spark: SparkSession,
    daily: DataFrame,
    target_path: str,
    session_start_col,
    min_rows: int,
    cold_start: timedelta,
    now: datetime | None,
) -> dict[str, int]:
    """Weekly/monthly lifecycle over the DAILY sessions table (the
    reference chains granularities through the stored daily output,
    weekly_sessions.py:84-166). Same resume-at-watermark convergence as
    the daily job."""
    now = now or T.utc_now()
    wm = high_watermark(spark, target_path, "datetime")
    start = wm if wm is not None else (now - cold_start)
    in_scope = daily.where(F.col("datetime") >= F.lit(start))
    sessions = session_ohlc(
        in_scope,
        session_start=session_start_col,
        keys=("instrument",),
        time_col="datetime",
        min_rows=min_rows,
    )
    sessions = sessions.drop("datetime").withColumnRenamed("session_start", "datetime")
    m = merge_upsert(
        spark, target_path, sessions, keys=["instrument", "datetime"],
        audit_col="updated_at",
    )
    return {"sessions": m["inserted"] + m["updated"], **m}


def weekly_sessions_job(
    spark: SparkSession,
    daily: DataFrame,
    target_path: str,
    cold_start: timedelta = timedelta(days=60),
    now: datetime | None = None,
) -> dict[str, int]:
    return _chained_sessions_job(
        spark, daily, target_path,
        T.weekly_session_start(F.col("datetime")), WEEKLY_MIN_DAYS,
        cold_start, now,
    )


def monthly_sessions_job(
    spark: SparkSession,
    daily: DataFrame,
    target_path: str,
    cold_start: timedelta = timedelta(days=400),
    now: datetime | None = None,
) -> dict[str, int]:
    return _chained_sessions_job(
        spark, daily, target_path,
        T.monthly_session_start(F.col("datetime")), MONTHLY_MIN_DAYS,
        cold_start, now,
    )
