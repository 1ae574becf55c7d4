"""Guard: one micro-batch through the gold tables costs O(batch).

One tiny batch goes candles_apply_batch -> incremental_sync ->
daily_sessions_job, as each 5 s sync does, over 1 day and over 3 days of
history.  The partitioned tables (candles, hourly) must write the same
rows whatever the history length, and the whole batch must stay within
a fixed Spark-job budget: per-job overhead, not data, is what a small
batch pays for.  The daily table is rewritten whole by design (one row
per instrument and day), so its rows are left out of the comparison.
"""

from __future__ import annotations

import itertools
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from options_data_pipeline_spark.jobs.aggregation import daily_sessions_job
from options_data_pipeline_spark.jobs.incremental import incremental_sync
from options_data_pipeline_spark.streaming.candles import candles_apply_batch

JOB_BUDGET = 15
INSTRUMENTS = ("BTC-PERP", "ETH-PERP", "SOL-PERP")
START = datetime(2024, 5, 1, 5)  # 05:00 UTC: the 08:00 session has 21 h
TICKS_PER_HOUR = 4
_GROUPS = itertools.count()


def _write_ticks(path, ts, first_id, rng):
    n = len(ts)
    micros = [int((t - datetime(1970, 1, 1)).total_seconds() * 1_000_000) for t in ts]
    pq.write_table(pa.table({
        "event_id": pa.array(range(first_id, first_id + n), pa.int64()),
        "ts": pa.array(micros, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
        "event_type": pa.array([INSTRUMENTS[i % len(INSTRUMENTS)] for i in range(n)]),
        "value": pa.array(100 + rng.standard_normal(n).cumsum(), pa.float64()),
    }), path)
    return first_id + n


def _parquet_rows(path):
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                full = os.path.join(root, f)
                out[full] = pq.ParquetFile(full).metadata.num_rows
    return out


def _one_batch(spark, base, days):
    """(Spark jobs, rows written per table) of one batch after ``days``
    of history."""
    rng = np.random.default_rng(7)
    src = os.path.join(base, "source")
    os.makedirs(src)
    tables = {name: os.path.join(base, name) for name in ("candles", "hourly", "daily")}
    hist_end = START + timedelta(days=days)
    step = timedelta(hours=1) / (TICKS_PER_HOUR * len(INSTRUMENTS))
    n_hist = int((hist_end - START) / step)
    next_id = _write_ticks(
        os.path.join(src, "hist.parquet"), [START + i * step for i in range(n_hist)], 0, rng
    )

    def fetch(lo, hi):
        return (
            spark.read.parquet(tables["candles"])
            .where((F.col("bucket_ts") >= F.lit(lo)) & (F.col("bucket_ts") <= F.lit(hi)))
            .drop("bucket_date")
        )

    def apply(batch, now):
        candles_apply_batch(spark, src, tables["candles"], batch)
        incremental_sync(
            spark, fetch, tables["hourly"], keys=["instrument", "bucket_ts"],
            ts_col="bucket_ts", lookback=timedelta(hours=2),
            cold_start=timedelta(days=days, hours=1), now=now,
        )
        daily_sessions_job(
            spark, spark.read.parquet(tables["hourly"]), tables["daily"],
            time_col="bucket_ts", now=now,
        )

    apply(spark.read.parquet(os.path.join(src, "hist.parquet")), hist_end)
    # the batch: a few ticks at the sync time and one 3 h late
    ts = [hist_end + timedelta(seconds=s) for s in range(3)] + [hist_end - timedelta(hours=3)]
    _write_ticks(os.path.join(src, "b1.parquet"), ts, next_id, rng)
    before = {name: _parquet_rows(path) for name, path in tables.items()}
    sc = spark.sparkContext
    group = f"write-path-{next(_GROUPS)}"
    sc.setJobGroup(group, "one micro-batch")
    try:
        apply(spark.read.parquet(os.path.join(src, "b1.parquet")), hist_end + timedelta(seconds=5))
    finally:
        sc._jsc.clearJobGroup()  # noqa: SLF001 - no pyspark wrapper
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)  # noqa: SLF001
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    written = {
        name: sum(n for f, n in _parquet_rows(path).items() if f not in before[name])
        for name, path in tables.items()
    }
    return jobs, written


def test_one_batch_costs_o_batch(spark, tmp_path):
    short_jobs, short = _one_batch(spark, str(tmp_path / "d1"), days=1)
    long_jobs, long = _one_batch(spark, str(tmp_path / "d3"), days=3)
    assert short["candles"] > 0 and short["hourly"] > 0
    assert (short["candles"], short["hourly"]) == (long["candles"], long["hourly"])
    assert short_jobs <= JOB_BUDGET, short_jobs
    assert long_jobs <= JOB_BUDGET, long_jobs
