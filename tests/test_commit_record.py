"""The merge core's commit record (``sinks/commit.py``).

The record lets watermark probes and target reads skip their Spark
jobs.  It may go stale — another writer, a crash before it is written —
but it must never be believed when stale: these tests pin that the
recorded watermark equals a scan, that every kind of staleness falls
back to the scan, and that a crash between the data commit and the
record write leaves readers the old or the new table and the next sync
converges.
"""

from __future__ import annotations

import itertools
import json
import os
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from options_data_pipeline_spark.jobs.incremental import (
    backfill,
    high_watermark,
    incremental_sync,
)
from options_data_pipeline_spark.sinks import commit
from options_data_pipeline_spark.sinks.upsert import (
    _read_target,
    merge_upsert,
    upsert_partitioned,
    upsert_partitioned_moving,
)

T0 = datetime(2024, 3, 1, 20)
_GROUPS = itertools.count()
SCHEMA = "instrument string, bucket_ts timestamp, close double"


def _rows(spark, hours, price=1.0, instruments=("A", "B")):
    return spark.createDataFrame(
        [(i, T0 + timedelta(hours=h), float(price + h)) for i in instruments for h in hours],
        SCHEMA,
    )


def _scanned_max(spark, path, col="bucket_ts"):
    return spark.read.parquet(path).agg(F.max(col)).first()[0]


def _jobs(spark, fn):
    """(result, Spark jobs ``fn`` launched)."""
    sc = spark.sparkContext
    group = f"commit-record-{next(_GROUPS)}"
    sc.setJobGroup(group, "commit record test")
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()  # noqa: SLF001 - no pyspark wrapper
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)  # noqa: SLF001
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _day_upsert(spark, path, df):
    return upsert_partitioned(
        spark, path, df.withColumn("bucket_date", F.to_date("bucket_ts")),
        keys=["instrument", "bucket_ts"], partition_col="bucket_date",
        allow_cross_partition_keys=True,
    )


@pytest.mark.parametrize("layout", ["whole", "by_day"])
def test_recorded_watermark_equals_scanned_max(spark, tmp_path, layout):
    t = str(tmp_path / "t")
    write = (
        (lambda df: merge_upsert(spark, t, df, ["instrument", "bucket_ts"]))
        if layout == "whole" else (lambda df: _day_upsert(spark, t, df))
    )
    # inserts across midnight, an update-only batch, a late insert, a new day
    for hours in ([0, 1, 2], [3, 4, 5], [1, 2], [-5], [30, 31]):
        write(_rows(spark, hours, price=len(hours)))
        rec = commit.read_record(t)
        assert rec is not None
        wm, jobs = _jobs(spark, lambda: high_watermark(spark, t, "bucket_ts"))
        assert wm == _scanned_max(spark, t)
        assert jobs == 0
    # the recorded schema reads the table as inference does
    assert _read_target(spark, t).schema == spark.read.parquet(t).schema


def test_record_counts_match_the_merge(spark, tmp_path):
    t = str(tmp_path / "t")
    _day_upsert(spark, t, _rows(spark, [0, 1]))
    m = _day_upsert(spark, t, _rows(spark, [1, 2, 3]))
    assert m == {"inserted": 4, "updated": 2}
    assert commit.read_record(t)["counts"] == m


def _stale_by_append(spark, t):
    extra = _rows(spark, [50], instruments=("Z",))
    extra.withColumn("bucket_date", F.to_date("bucket_ts")).write.mode(
        "append").partitionBy("bucket_date").parquet(t)


def _stale_by_delete(spark, t):
    day = sorted(n for n in os.listdir(t) if n.startswith("bucket_date="))[-1]
    part = os.path.join(t, day)
    for name in os.listdir(part):
        os.remove(os.path.join(part, name))
    os.rmdir(part)


def _missing(spark, t):
    os.remove(os.path.join(t, commit.RECORD))


def _corrupt(spark, t):
    with open(os.path.join(t, commit.RECORD), "w") as fh:
        fh.write('{"schema": ')


@pytest.mark.parametrize(
    "spoil", [_missing, _corrupt, _stale_by_append, _stale_by_delete],
    ids=["missing", "corrupt", "appended", "file_deleted"],
)
def test_readers_fall_back_when_record_is_not_current(spark, tmp_path, spoil):
    t = str(tmp_path / "t")
    _day_upsert(spark, t, _rows(spark, [0, 1, 2]))
    _day_upsert(spark, t, _rows(spark, [28, 29]))
    spoil(spark, t)
    assert commit.read_record(t) is None
    assert high_watermark(spark, t, "bucket_ts") == _scanned_max(spark, t)
    want = sorted(spark.read.parquet(t).collect())
    assert sorted(_read_target(spark, t).collect()) == want
    # the next merge commits a current record again, and stays correct
    _day_upsert(spark, t, _rows(spark, [2, 3]))
    assert commit.read_record(t) is not None
    assert high_watermark(spark, t, "bucket_ts") == _scanned_max(spark, t)
    got = {(r.instrument, r.bucket_ts) for r in spark.read.parquet(t).collect()}
    assert len(got) == spark.read.parquet(t).count()


def test_record_goes_stale_when_another_writer_lands_mid_merge(spark, tmp_path, monkeypatch):
    """The record's token is the files the merge read plus the ones it
    wrote, so a file appended during the merge is not vouched for."""
    t = str(tmp_path / "t")
    _day_upsert(spark, t, _rows(spark, [0, 1]))
    real = commit.swap_partitions

    def racing(staging, path, base):
        _stale_by_append(spark, path)
        return real(staging, path, base)

    monkeypatch.setattr(commit, "swap_partitions", racing)
    _day_upsert(spark, t, _rows(spark, [2]))
    assert commit.read_record(t) is None
    assert high_watermark(spark, t, "bucket_ts") == T0 + timedelta(hours=50)


def test_fallback_scan_is_remembered(spark, tmp_path):
    """A record written without a watermark (the merge before it found
    no current record) learns it from the first fallback scan."""
    t = str(tmp_path / "t")
    _day_upsert(spark, t, _rows(spark, [0, 1]))
    _missing(spark, t)
    _day_upsert(spark, t, _rows(spark, [2]))
    rec = commit.read_record(t)
    assert rec is not None and commit.record_max(rec, "bucket_ts") is None
    first, jobs1 = _jobs(spark, lambda: high_watermark(spark, t, "bucket_ts"))
    second, jobs2 = _jobs(spark, lambda: high_watermark(spark, t, "bucket_ts"))
    assert first == second == _scanned_max(spark, t)
    assert jobs1 > 0 and jobs2 == 0


def _fetcher(spark, hours_by_call):
    """Fake source: each call returns candles for the listed hours."""
    calls = []

    def fetch(start, now):
        calls.append(start)
        return _rows(spark, hours_by_call[len(calls) - 1], price=len(calls))

    return fetch


def _sync(spark, t, fetch, i):
    return incremental_sync(
        spark, fetch, t, keys=["instrument", "bucket_ts"], ts_col="bucket_ts",
        lookback=timedelta(hours=2), now=T0 + timedelta(hours=6 * (i + 1)),
    )


def _table(spark, t):
    return sorted(
        tuple(r) for r in spark.read.parquet(t).select(
            "instrument", "bucket_ts", "close", "bucket_date").collect()
    )


def test_crash_between_data_commit_and_record(spark, tmp_path, monkeypatch):
    hours = [[0, 1, 2, 3], [2, 3, 4, 5, 6], [5, 6, 7, 30]]
    clean, crashed = str(tmp_path / "clean"), str(tmp_path / "crashed")
    fetch = _fetcher(spark, hours)
    for i in range(3):
        _sync(spark, clean, fetch, i)

    fetch = _fetcher(spark, hours)
    _sync(spark, crashed, fetch, 0)
    before = _table(spark, crashed)
    real = commit.write_record

    def crash(*a, **kw):
        raise OSError("injected: crash before the commit record")

    monkeypatch.setattr(commit, "write_record", crash)
    with pytest.raises(OSError, match="injected"):
        _sync(spark, crashed, fetch, 1)
    monkeypatch.setattr(commit, "write_record", real)
    after = _table(spark, crashed)
    assert after != before  # the partition swap had committed the data
    # readers see that table whole, and no reader believes the old record
    assert commit.read_record(crashed) is None
    assert high_watermark(spark, crashed, "bucket_ts") == _scanned_max(spark, crashed)
    assert sorted(tuple(r) for r in _read_target(spark, crashed).select(
        "instrument", "bucket_ts", "close", "bucket_date").collect()) == after
    # the next sync converges to the table a clean run leaves
    _sync(spark, crashed, fetch, 2)
    assert _table(spark, crashed) == _table(spark, clean)
    assert commit.read_record(crashed) is not None


def test_backfill_after_sync_keeps_the_day_layout(spark, tmp_path):
    """The sync lays its table out by day; a backfill into the same table
    appends into day partitions, and the next sync still converges."""
    t = str(tmp_path / "t")
    fetch = _fetcher(spark, [[4, 5, 6], [6, 7, 30]])
    _sync(spark, t, fetch, 0)

    def fetch_page(cursor, end):  # history that overlaps the synced hours
        return _rows(spark, range(-20, 6), price=9.0), None

    m = backfill(spark, fetch_page, t, keys=["instrument", "bucket_ts"],
                 start=T0 - timedelta(days=1), end=T0)
    assert m == {"pages": 1, "inserted": 2 * 24}  # hours -20..3; 4 and 5 kept
    _sync(spark, t, fetch, 1)

    want = {(i, h): 9.0 + h for i in "AB" for h in range(-20, 4)}
    want.update({(i, h): 1.0 + h for i in "AB" for h in (4, 5)})
    want.update({(i, h): 2.0 + h for i in "AB" for h in (6, 7, 30)})
    assert _table(spark, t) == sorted(
        (i, T0 + timedelta(hours=h), c, (T0 + timedelta(hours=h)).date())
        for (i, h), c in want.items()
    )
    names = [n for n in os.listdir(t) if not n.startswith(("_", "."))]
    assert names and all(n.startswith("bucket_date=") for n in names), names
    assert high_watermark(spark, t, "bucket_ts") == T0 + timedelta(hours=30)


def test_crash_in_whole_table_commit_keeps_old_table(spark, tmp_path, monkeypatch):
    """A whole-table merge writes its record inside the staged table, so
    a crash before the swap leaves the old table and its record."""
    t = str(tmp_path / "t")
    merge_upsert(spark, t, _rows(spark, [0, 1]), ["instrument", "bucket_ts"])
    before = sorted(spark.read.parquet(t).collect())

    def crash(*a, **kw):
        raise OSError("injected")

    monkeypatch.setattr(commit, "write_record", crash)
    with pytest.raises(OSError):
        merge_upsert(spark, t, _rows(spark, [1, 2], price=9.0), ["instrument", "bucket_ts"])
    monkeypatch.undo()
    assert sorted(spark.read.parquet(t).collect()) == before
    assert commit.read_record(t) is not None
    assert high_watermark(spark, t, "bucket_ts") == _scanned_max(spark, t)


def test_empty_batch_is_a_noop_commit(spark, tmp_path):
    t = str(tmp_path / "t")
    _day_upsert(spark, t, _rows(spark, [0, 1]))
    token = commit.snapshot(t)
    with open(os.path.join(t, commit.RECORD)) as fh:
        rec = json.load(fh)
    assert _day_upsert(spark, t, _rows(spark, [])) == {"inserted": 0, "updated": 0}
    assert commit.snapshot(t) == token
    with open(os.path.join(t, commit.RECORD)) as fh:
        assert json.load(fh) == rec
    fetch = _fetcher(spark, [[]])
    assert _sync(spark, str(tmp_path / "fresh"), fetch, 0) == {
        "fetched": 0, "inserted": 0, "updated": 0,
    }
    assert not os.path.exists(tmp_path / "fresh")


def test_sinks_leave_session_partition_overwrite_mode_alone(spark, tmp_path):
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "STATIC")
    try:
        df = spark.createDataFrame(
            [(1, "a", "d1"), (2, "b", "d2")], "k long, v string, d string")
        for _ in range(2):
            upsert_partitioned(spark, str(tmp_path / "p"), df, ["k", "d"], "d")
            upsert_partitioned_moving(spark, str(tmp_path / "m"), df, ["k"], "d")
            assert spark.conf.get(key) == "STATIC"
    finally:
        spark.conf.set(key, prev)
