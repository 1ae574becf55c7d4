"""Incremental micro-batch harness: watermark resume, lookback re-sync,
gap repair, backfill (SURVEY §2.9 T1/T2/T6/T7).

The reference's lifecycle for every collector/aggregator is:

    watermark = MAX(ts) in target            (T1, binance.py:147-151)
    start     = watermark - lookback         (T2, candles mutate until closed)
    rows      = fetch(start, now)
    upsert -> reruns converge                (T5)

with a gap-detection/repair audit (T6, binance_1m.py:354-507) and a
bounded historical backfill (T7, binance_1m.py:191-273). This module is
that lifecycle with Spark DataFrames as the batch currency and the
keyed-upsert sink providing convergence. The deliberate divergence from
the reference: the Deribit resume bug (D4, `max(last - days_back, last)`
— the lookback never engaged) is implemented as *intended*: the
lookback always applies.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.timeutil import utc_now
from ..operators.gaps import detect_gaps
from ..sinks import commit
from ..sinks.upsert import (
    _read_target,
    first_occurrences,
    insert_if_absent,
    merge_upsert,
    upsert_partitioned,
)

FetchRange = Callable[[datetime, datetime], DataFrame]

# The day-partition column of a table keyed on a timestamp.
DAY_COL = "bucket_date"


def high_watermark(spark: SparkSession, target_path: str, ts_col: str):
    """S7 probe: MAX(ts) of the target table, or None when absent.

    A swap a crashed writer left journaled is rolled forward first, so
    the probe sees the table the next sink call would.  Free when the
    table's commit record is current and holds the max (the merge took
    it while writing); otherwise one scan, read as the sinks read the
    table, whose result is kept in the record for the next probe."""
    commit.recover(target_path)
    if not os.path.exists(target_path):
        return None
    rec = commit.read_record(target_path)
    if rec is not None and commit.record_max(rec, ts_col) is not None:
        return commit.record_max(rec, ts_col)
    current = _read_target(spark, target_path)
    if current is None:
        return None
    wm = current.agg(F.max(ts_col)).first()[0]
    if rec is not None:
        commit.remember_max(target_path, rec, ts_col, wm)
    return wm


def _upsert(
    spark: SparkSession,
    target_path: str,
    batch: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    days: list | None = None,
) -> dict[str, int]:
    """Keyed upsert of a fetched batch.  When ``ts_col`` is a key, the
    table is partitioned by day (``bucket_date = to_date(ts_col)``, the
    candle table's layout), so a batch rewrites its days, not the table;
    ``days`` may name them (a superset is fine).  A table some other
    writer laid out flat stays flat."""
    if ts_col not in keys or commit.partition_columns(target_path) == []:
        return merge_upsert(spark, target_path, batch, keys=list(keys))
    return upsert_partitioned(
        spark, target_path, batch.withColumn(DAY_COL, F.to_date(ts_col)),
        keys=list(keys), partition_col=DAY_COL,
        allow_cross_partition_keys=True, _touched=days,
    )


def _with_day(target_path: str, page: DataFrame, keys: Sequence[str]) -> DataFrame:
    """A page bound for a table :func:`_upsert` lays out by day gains the
    table's ``bucket_date``, derived from the page's time key: a table
    partitioned on it, or a fresh table whose keys hold one time column."""
    layout = commit.partition_columns(target_path)
    if layout not in ([DAY_COL], None) or DAY_COL in page.columns:
        return page
    times = [c for c, t in page.dtypes if c in keys and t in ("timestamp", "timestamp_ntz", "date")]
    if len(times) != 1:
        if layout is None:
            return page  # a fresh table with no one time key stays flat
        raise ValueError(
            f"{target_path} is partitioned on {DAY_COL}, but keys {list(keys)} "
            f"hold {len(times)} time columns to derive it from, not one"
        )
    return page.withColumn(DAY_COL, F.to_date(times[0]))


def incremental_sync(
    spark: SparkSession,
    fetch_range: FetchRange,
    target_path: str,
    keys: Sequence[str],
    ts_col: str = "open_time",
    lookback: timedelta = timedelta(hours=2),
    cold_start: timedelta = timedelta(hours=24),
    now: datetime | None = None,
) -> dict[str, int]:
    """One T1/T2 micro-batch: resume from the watermark minus ``lookback``
    (open candles mutate until closed — re-fetching the trailing window
    and upserting repairs them), cold-start ``cold_start`` back. Returns
    {"fetched", "inserted", "updated"} like the reference collectors
    (binance.py:174-180).  ``fetched`` is the distinct keys the sink took
    from the batch, counted during its write; an empty fetch commits
    nothing."""
    now = now or utc_now()
    wm = high_watermark(spark, target_path, ts_col)
    start = (wm - lookback) if wm is not None else (now - cold_start)
    batch = fetch_range(start, now)
    # the window's days: the partitions this batch should touch
    first, last = (t.date() if isinstance(t, datetime) else t for t in (start, now))
    days = [first + timedelta(days=d) for d in range((last - first).days + 1)]
    metrics = _upsert(spark, target_path, batch, keys, ts_col, days)
    return {"fetched": metrics["inserted"] + metrics["updated"], **metrics}


def repair_gaps(
    spark: SparkSession,
    target_path: str,
    fetch_range: FetchRange,
    keys: Sequence[str],
    series_keys: Sequence[str],
    ts_col: str = "open_time",
    min_gap_minutes: float = 5.0,
    window: timedelta | None = timedelta(days=7),
    now: datetime | None = None,
) -> dict:
    """T6 audit + self-heal: find gaps > ``min_gap_minutes`` in the last
    ``window`` via the lag-window operator, re-fetch each gap's open
    interval from the source, and upsert. The gap list is collected to
    the driver deliberately — gaps are the *anomaly*, bounded and small;
    the detection itself is fully distributed."""
    now = now or utc_now()
    df = spark.read.parquet(target_path)
    if window is not None:
        df = df.where(F.col(ts_col) >= F.lit(now - window))
    gaps = detect_gaps(df, keys=list(series_keys), time_col=ts_col,
                       min_gap_minutes=min_gap_minutes).collect()
    repaired = 0
    for g in gaps:
        m = _upsert(spark, target_path, fetch_range(g["prev_ts"], g["ts"]), keys, ts_col)
        repaired += m["inserted"] + m["updated"]
    return {"gaps_found": len(gaps), "rows_repaired": repaired}


def backfill(
    spark: SparkSession,
    fetch_page: Callable[[datetime, datetime], tuple[DataFrame, datetime | None]],
    target_path: str,
    keys: Sequence[str],
    start: datetime,
    end: datetime,
    max_pages: int = 10_000,
) -> dict[str, int]:
    """T7 bounded historical walk: ``fetch_page(cursor, end)`` returns a
    page and the next cursor (None when exhausted); pages append via
    insert-if-absent so an interrupted backfill resumes idempotently.  A
    fresh table is laid out as the sync lays it out (by day when its keys
    hold one time column), and a table the sync has laid out keeps that
    layout, so later syncs rewrite only the days they fetch."""
    # a crashed swap decides whether the table is fresh: finish it first
    commit.recover(target_path)
    cursor, pages, inserted = start, 0, 0
    while cursor is not None and cursor < end and pages < max_pages:
        page, next_cursor = fetch_page(cursor, end)
        if page.count():
            fresh = commit.partition_columns(target_path) is None
            page = _with_day(target_path, page, keys)
            if fresh and DAY_COL in page.columns:
                # the first page creates the table by day (the sink's cold
                # start would write it flat); the first occurrence of a
                # key wins, as insert-if-absent keeps it
                m = upsert_partitioned(
                    spark, target_path, first_occurrences(page, list(keys)), list(keys),
                    DAY_COL, allow_cross_partition_keys=True,
                )
            else:
                m = insert_if_absent(spark, target_path, page, keys=list(keys))
            inserted += m["inserted"]
        pages += 1
        cursor = next_cursor
    return {"pages": pages, "inserted": inserted}
