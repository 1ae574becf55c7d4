"""Sink (MERGE emulation) and Structured Streaming tests.

Covers SURVEY §2.2 K1-K4 metric semantics, §2.9 T1 (checkpoint resume),
T2 (late-data lookback repair), T5 (idempotent reruns).
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from options_data_pipeline_spark.operators.session_ohlc import ticks_to_ohlc
from options_data_pipeline_spark.sinks.upsert import (
    insert_if_absent,
    merge_upsert,
    upsert_partitioned,
)
from options_data_pipeline_spark.streaming.candles import (
    dedup_append_stream,
    incremental_candles_stream,
)


@pytest.fixture()
def tmp(tmp_path):
    yield str(tmp_path)
    shutil.rmtree(tmp_path, ignore_errors=True)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def test_merge_upsert_counts_and_content(spark, tmp):
    t = f"{tmp}/t"
    m1 = merge_upsert(spark, t, _df(spark, [(1, "a"), (2, "b")]), ["k"])
    assert m1 == {"inserted": 2, "updated": 0}
    m2 = merge_upsert(spark, t, _df(spark, [(2, "B"), (3, "c")]), ["k"])
    assert m2 == {"inserted": 1, "updated": 1}
    got = {(r.k, r.v) for r in spark.read.parquet(t).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_merge_upsert_idempotent(spark, tmp):
    t = f"{tmp}/t"
    batch = _df(spark, [(1, "a"), (2, "b")])
    merge_upsert(spark, t, batch, ["k"])
    m = merge_upsert(spark, t, batch, ["k"])
    assert m == {"inserted": 0, "updated": 2}
    assert spark.read.parquet(t).count() == 2


def test_merge_upsert_last_wins_within_batch(spark, tmp):
    t = f"{tmp}/t"
    merge_upsert(spark, t, _df(spark, [(1, "old"), (1, "new")]), ["k"])
    assert [r.v for r in spark.read.parquet(t).collect()] == ["new"]


def test_insert_if_absent(spark, tmp):
    t = f"{tmp}/t"
    r1 = insert_if_absent(spark, t, _df(spark, [(1, "a"), (1, "dup"), (2, "b")]), ["k"])
    assert r1 == {"inserted": 2, "skipped": 1}
    r2 = insert_if_absent(spark, t, _df(spark, [(2, "CHANGED"), (3, "c")]), ["k"])
    assert r2 == {"inserted": 1, "skipped": 1}
    got = {(r.k, r.v) for r in spark.read.parquet(t).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}  # existing row NOT changed


def _jobs(spark, group, fn):
    """``fn()`` and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()  # noqa: SLF001 - no pyspark wrapper
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)  # noqa: SLF001
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_insert_if_absent_counts_ride_its_one_write(spark, tmp):
    """The counts come from the write itself: a schema read plus the
    write's stages, no count jobs (they took 12 jobs with them).  A
    batch whose keys are all stored commits nothing."""
    t = f"{tmp}/t"
    insert_if_absent(spark, t, _df(spark, [(1, "a"), (2, "b")]), ["k"])
    batch = _df(spark, [(2, "x"), (3, "c"), (3, "c2"), (4, "d"), (1, "y")])
    r, jobs = _jobs(spark, "insert-if-absent-mixed", lambda: insert_if_absent(spark, t, batch, ["k"]))
    assert r == {"inserted": 2, "skipped": 3}
    assert jobs <= 4, jobs
    files = sorted(os.listdir(t))
    stale = _df(spark, [(4, "z"), (1, "z"), (1, "zz")])
    r, jobs = _jobs(spark, "insert-if-absent-stale", lambda: insert_if_absent(spark, t, stale, ["k"]))
    assert r == {"inserted": 0, "skipped": 3}
    assert jobs <= 4, jobs
    assert sorted(os.listdir(t)) == files
    assert not [n for n in os.listdir(tmp) if n != "t"]  # no staging left behind
    got = {(r.k, r.v) for r in spark.read.parquet(t).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c"), (4, "d")}


def test_upsert_partitioned(spark, tmp):
    t = f"{tmp}/t"
    df = spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", "d1"), (3, "c", "d2")], "k long, v string, d string"
    )
    m1 = upsert_partitioned(spark, t, df, ["k"], "d", allow_cross_partition_keys=True)
    assert m1 == {"inserted": 3, "updated": 0}
    up = spark.createDataFrame([(2, "B", "d1"), (4, "e", "d3")], "k long, v string, d string")
    m2 = upsert_partitioned(spark, t, up, ["k"], "d", allow_cross_partition_keys=True)
    assert m2 == {"inserted": 1, "updated": 1}
    got = {(r.k, r.v, r.d) for r in spark.read.parquet(t).collect()}
    assert got == {(1, "a", "d1"), (2, "B", "d1"), (3, "c", "d2"), (4, "e", "d3")}


def test_upsert_partitioned_durable_staging_identical(spark, tmp):
    """VERDICT r14 ask #8: the durable-staging opt-in (recomputable
    staging parquet instead of the executor-block localCheckpoint) of
    the move-aware variant must produce a store IDENTICAL to the default
    path, leave no staging directory behind, and report the same
    metrics.  The in-place MERGE always stages its slice in parquet: its
    one run must report the metrics and leave no staging directory."""
    import os

    from options_data_pipeline_spark.sinks.upsert import (
        upsert_partitioned_moving,
    )

    t = f"{tmp}/t"
    rows = [(1, "a", "d1"), (2, "b", "d1"), (3, "c", "d2")]
    df = spark.createDataFrame(rows, "k long, v string, d string")
    upsert_partitioned(spark, t, df, ["k"], "d", allow_cross_partition_keys=True)
    up = spark.createDataFrame([(2, "B", "d1"), (4, "e", "d3")], "k long, v string, d string")
    m = upsert_partitioned(spark, t, up, ["k"], "d", allow_cross_partition_keys=True)
    assert m == {"inserted": 1, "updated": 1}
    assert {(r.k, r.v, r.d) for r in spark.read.parquet(t).collect()} == {
        (1, "a", "d1"), (2, "B", "d1"), (3, "c", "d2"), (4, "e", "d3"),
    }
    assert not [e for e in os.listdir(tmp) if ".staging-" in e]

    mv_rows = [(1, "a", "c0"), (2, "b", "c1")]
    mv_up = [(2, "B", "c2"), (3, "c", "c0")]  # k=2 moves, draining c1
    mstores = {}
    for tag, durable in (("fast", False), ("durable", True)):
        t = f"{tmp}/m_{tag}"
        base = spark.createDataFrame(mv_rows, "k long, v string, cell string")
        upsert_partitioned_moving(spark, t, base, ["k"], "cell")
        up = spark.createDataFrame(mv_up, "k long, v string, cell string")
        m = upsert_partitioned_moving(
            spark, t, up, ["k"], "cell", durable_staging=durable
        )
        assert m == {"inserted": 1, "updated": 1, "moved": 1}
        mstores[tag] = {
            (r.k, r.v, r.cell) for r in spark.read.parquet(t).collect()
        }
        parent = os.path.dirname(t)
        assert not [e for e in os.listdir(parent) if ".staging-" in e]
    assert mstores["fast"] == mstores["durable"]


def test_upsert_partitioned_rejects_movable_keys(spark, tmp):
    df = spark.createDataFrame([(1, "a", "d1")], "k long, v string, d string")
    with pytest.raises(ValueError, match="partition_col"):
        upsert_partitioned(spark, f"{tmp}/t", df, ["k"], "d")


def test_upsert_partitioned_key_includes_partition(spark, tmp):
    # partition_col in keys: the safe default — no flag needed
    t = f"{tmp}/t"
    df = spark.createDataFrame([(1, "a", "d1"), (2, "b", "d2")], "k long, v string, d string")
    m1 = upsert_partitioned(spark, t, df, ["k", "d"], "d")
    assert m1 == {"inserted": 2, "updated": 0}
    up = spark.createDataFrame([(1, "A", "d1")], "k long, v string, d string")
    m2 = upsert_partitioned(spark, t, up, ["k", "d"], "d")
    assert m2 == {"inserted": 0, "updated": 1}
    got = {(r.k, r.v, r.d) for r in spark.read.parquet(t).collect()}
    assert got == {(1, "A", "d1"), (2, "b", "d2")}


def test_upsert_partitioned_moving_evicts_stale_rows(spark, tmp):
    """Index-maintenance MERGE: a key whose partition value changes must
    be evicted from its OLD partition, including the drained-partition
    edge where the moved key was its old partition's only row (dynamic
    overwrite alone would never touch that partition)."""
    from options_data_pipeline_spark.sinks.upsert import (
        upsert_partitioned_moving,
    )

    t = f"{tmp}/idx"
    base = spark.createDataFrame(
        [(1, "a", "c0"), (2, "b", "c0"), (3, "c", "c1")],
        "k long, v string, cell string",
    )
    m1 = upsert_partitioned_moving(spark, t, base, ["k"], "cell")
    assert m1 == {"inserted": 3, "updated": 0, "moved": 0}
    # k=2 moves c0 -> c2; k=3 moves c1 -> c0 (draining c1 entirely);
    # k=4 is new; k=1 updates in place
    up = spark.createDataFrame(
        [(2, "B", "c2"), (3, "C", "c0"), (4, "d", "c2"), (1, "A", "c0")],
        "k long, v string, cell string",
    )
    m2 = upsert_partitioned_moving(spark, t, up, ["k"], "cell")
    assert m2 == {"inserted": 1, "updated": 3, "moved": 2}
    got = {(r.k, r.v, r.cell) for r in spark.read.parquet(t).collect()}
    assert got == {(1, "A", "c0"), (2, "B", "c2"), (3, "C", "c0"), (4, "d", "c2")}
    # re-running the same batch converges (T5 idempotence for the index)
    m3 = upsert_partitioned_moving(spark, t, up, ["k"], "cell")
    assert m3 == {"inserted": 0, "updated": 4, "moved": 0}
    assert {(r.k, r.v, r.cell) for r in spark.read.parquet(t).collect()} == got


def test_upsert_partitioned_moving_rejects_partition_in_keys(spark, tmp):
    from options_data_pipeline_spark.sinks.upsert import (
        upsert_partitioned_moving,
    )

    df = spark.createDataFrame([(1, "a", "c0")], "k long, v string, cell string")
    with pytest.raises(ValueError, match="cannot move"):
        upsert_partitioned_moving(spark, f"{tmp}/t", df, ["k", "cell"], "cell")


def test_merge_upsert_explicit_order_by(spark, tmp):
    # a multi-partition, shuffled batch with an explicit logical order:
    # the row with the highest seq must win regardless of physical layout
    t = f"{tmp}/t"
    rows = [(1, "v%d" % s, s) for s in range(20)]
    batch = (
        spark.createDataFrame(rows, "k long, v string, seq long")
        .repartition(8)  # scramble physical order
    )
    merge_upsert(spark, t, batch, ["k"], order_by=["seq"])
    got = [(r.k, r.v, r.seq) for r in spark.read.parquet(t).collect()]
    assert got == [(1, "v19", 19)]


# --- streaming ---------------------------------------------------------------

EVENTS = "event_id long, ts string, event_type string, value double"


def _events(spark, rows):
    return spark.createDataFrame(list(rows), EVENTS).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


def _slice1(spark):
    return _events(spark, [
        (0, "2024-01-01 10:00:05", "btc", 100.0),
        (1, "2024-01-01 10:20:00", "btc", 105.0),
        (2, "2024-01-01 10:40:00", "btc", 95.0),
        (3, "2024-01-01 11:10:00", "btc", 99.0),
        (4, "2024-01-01 10:15:00", "eth", 10.0),
    ])


def _slice2(spark):
    # late row for hour 10 (repairs the closed candle) + new hour 12
    return _events(spark, [
        (5, "2024-01-01 10:55:00", "btc", 120.0),
        (6, "2024-01-01 12:05:00", "btc", 101.0),
    ])


def _expected(spark, src):
    full = spark.read.parquet(src).withColumnRenamed("event_type", "instrument")
    exp = ticks_to_ohlc(
        full, bucket=F.date_trunc("hour", F.col("ts")), keys=("instrument",),
        time_col="ts", price_col="value", tiebreak_cols=("event_id",),
    )
    return {tuple(r) for r in exp.collect()}


def _gold(spark, path):
    return {tuple(r) for r in spark.read.parquet(path)
            .select("instrument", "bucket_ts", "open", "high", "low", "close", "n_ticks")
            .collect()}


def test_incremental_candles_stream_with_late_data(spark, tmp):
    src, gold, ckpt = f"{tmp}/src", f"{tmp}/gold", f"{tmp}/ckpt"
    _slice1(spark).coalesce(1).write.mode("append").parquet(src)
    q = incremental_candles_stream(spark, src, gold, ckpt)
    q.awaitTermination(120)
    g1 = _gold(spark, gold)
    assert g1 == _expected(spark, src)
    btc10 = next(r for r in g1 if r[0] == "btc" and r[1].hour == 10)
    assert btc10[2:6] == (100.0, 105.0, 95.0, 95.0)  # open/high/low/close

    # second batch arrives: late row mutates hour 10, new hour 12 appears
    _slice2(spark).coalesce(1).write.mode("append").parquet(src)
    q2 = incremental_candles_stream(spark, src, gold, ckpt)
    q2.awaitTermination(120)
    g2 = _gold(spark, gold)
    assert g2 == _expected(spark, src)
    btc10 = next(r for r in g2 if r[0] == "btc" and r[1].hour == 10)
    assert btc10[2:6] == (100.0, 120.0, 95.0, 120.0)  # repaired by late row

    # T1/T5: restart with no new data -> no change
    q3 = incremental_candles_stream(spark, src, gold, ckpt)
    q3.awaitTermination(120)
    assert _gold(spark, gold) == g2


def test_dedup_append_stream(spark, tmp):
    src, bronze, ckpt = f"{tmp}/src", f"{tmp}/bronze", f"{tmp}/ckpt"
    _events(spark, [
        (0, "2024-01-01 10:00:00", "btc", 1.0),
        (0, "2024-01-01 10:00:00", "btc", 1.0),  # duplicate key
        (1, "2024-01-01 10:01:00", "btc", 2.0),
    ]).coalesce(1).write.mode("append").parquet(src)
    q = dedup_append_stream(spark, src, bronze, ckpt)
    q.awaitTermination(120)
    out = spark.read.parquet(bronze)
    assert out.count() == 2
    assert {r.event_id for r in out.collect()} == {0, 1}
    # observed per-batch metrics rode inside the plan (no second pass);
    # the last progress entry may be the trailing empty batch, so find
    # the data-carrying one
    metrics = [
        p["observedMetrics"]["ingest"]
        for p in q.recentProgress
        if p.get("observedMetrics", {}).get("ingest")
        and p["observedMetrics"]["ingest"]["rows"] > 0
    ]
    assert len(metrics) == 1
    obs = metrics[0]
    assert obs["rows"] == 2
    assert str(obs["min_ts"]).startswith("2024-01-01 10:00")
    assert str(obs["max_ts"]).startswith("2024-01-01 10:01")


def test_watermarked_window_aggregation_stream(spark, tmp):
    """T4 in pure Structured Streaming form: tumbling 1h window + 2h
    watermark, complete-mode memory sink (commutative aggregates only —
    order statistics use the foreachBatch MERGE job instead)."""
    src = f"{tmp}/src"
    _slice1(spark).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wagg")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {(r["window"].start.hour, r.event_type): (r.high, r.low, r.n_ticks)
            for r in spark.sql("SELECT * FROM wagg").collect()}
    assert rows[(10, "btc")] == (105.0, 95.0, 3)
    assert rows[(11, "btc")] == (99.0, 99.0, 1)
    assert rows[(10, "eth")] == (10.0, 10.0, 1)


def test_stateful_running_candles_across_batches(spark, tmp):
    """applyInPandasWithState: state persists across micro-batches and
    late rows update highs/lows without clobbering the close."""
    from options_data_pipeline_spark.streaming.stateful import running_candles

    src = f"{tmp}/src"
    _slice1(spark).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    updates = f"{tmp}/updates"

    def run_wave():
        stream = spark.readStream.schema(schema).parquet(src)

        def sink(bdf, bid):  # memory sink can't recover a checkpoint
            bdf.withColumn("batch_id", F.lit(bid)).write.mode("append").parquet(updates)

        q = (
            running_candles(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(120):
            q.stop()  # never leave a live query holding the tmp dirs
        # latest update per key = current state
        rows = spark.read.parquet(updates).collect()
        latest = {}
        for r in rows:
            k = (r.instrument, r.bucket_ts.hour)
            if k not in latest or (r.batch_id, r.n_ticks) > (
                latest[k].batch_id, latest[k].n_ticks
            ):
                latest[k] = r
        return {
            k: (r.open, r.high, r.low, r.close, r.n_ticks)
            for k, r in latest.items()
        }

    g1 = run_wave()
    assert g1[("btc", 10)] == (100.0, 105.0, 95.0, 95.0, 3)
    _slice2(spark).coalesce(1).write.mode("append").parquet(src)
    g2 = run_wave()
    # late 10:55 row folded into existing state: high & close move
    assert g2[("btc", 10)] == (100.0, 120.0, 95.0, 120.0, 4)
    assert g2[("btc", 12)] == (101.0, 101.0, 101.0, 101.0, 1)

    # a late row EARLIER than the recorded first: open must move too
    # (first-by-(ts,id) guard, symmetric with the close guard)
    _events(spark, [(7, "2024-01-01 10:00:01", "btc", 111.0)]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    g3 = run_wave()
    assert g3[("btc", 10)] == (111.0, 120.0, 95.0, 120.0, 5)


def test_stateful_running_candles_processing_time_trigger(spark, tmp):
    """T3's continuous cadence: the same stateful operator under a
    processingTime trigger (with state-eviction timeout armed), stopped
    once the first micro-batch lands — pins the wiring the availableNow
    tests can't exercise."""
    import time as _time

    from options_data_pipeline_spark.streaming.stateful import running_candles

    src, out = f"{tmp}/src", f"{tmp}/out"
    _slice1(spark).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)

    def sink(bdf, bid):
        bdf.write.mode("append").parquet(out)

    q = (
        running_candles(stream, timeout_minutes=60)
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = _time.time() + 120
        rows = []
        while _time.time() < deadline:
            try:
                rows = spark.read.parquet(out).collect()
            except Exception:
                rows = []
            if rows:
                break
            _time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination(30)
    got = {(r.instrument, r.bucket_ts.hour): (r.open, r.high, r.low, r.close, r.n_ticks)
           for r in rows}
    assert got[("btc", 10)] == (100.0, 105.0, 95.0, 95.0, 3)
    assert got[("btc", 11)] == (99.0, 99.0, 99.0, 99.0, 1)
    assert got[("eth", 10)] == (10.0, 10.0, 10.0, 10.0, 1)


def test_dedup_within_watermark_stream(spark, tmp):
    # at-least-once re-delivery: same event_id arrives again with a LATER
    # event time. Plain dropDuplicates would keep both (event-time differs);
    # dropDuplicatesWithinWatermark recognizes the key alone.
    src, bronze, ckpt = f"{tmp}/src", f"{tmp}/bronze", f"{tmp}/ckpt"
    _events(spark, [
        (0, "2024-01-01 10:00:00", "btc", 1.0),
        (0, "2024-01-01 10:03:00", "btc", 1.0),  # re-delivery, new ts
        (1, "2024-01-01 10:01:00", "btc", 2.0),
    ]).coalesce(1).write.mode("append").parquet(src)
    q = dedup_append_stream(spark, src, bronze, ckpt, within_watermark=True)
    q.awaitTermination(120)
    out = spark.read.parquet(bronze)
    assert out.count() == 2
    assert {r.event_id for r in out.collect()} == {0, 1}


def test_interval_join_streams(spark, tmp):
    from options_data_pipeline_spark.streaming.joins import interval_join_streams

    # purchases attribute to views by the same user within the prior hour
    views_src, buys_src = f"{tmp}/views", f"{tmp}/buys"
    _events(spark, [
        (10, "2024-01-01 09:30:00", "u1", 0.0),   # in window for buy@10:00
        (11, "2024-01-01 08:30:00", "u1", 0.0),   # too old (>1h before)
        (12, "2024-01-01 09:55:00", "u2", 0.0),   # other user
        (13, "2024-01-01 10:10:00", "u1", 0.0),   # after the buy
    ]).coalesce(1).write.mode("append").parquet(views_src)
    _events(spark, [
        (20, "2024-01-01 10:00:00", "u1", 42.0),
    ]).coalesce(1).write.mode("append").parquet(buys_src)

    from options_data_pipeline_spark.streaming.candles import read_event_stream

    joined = interval_join_streams(
        read_event_stream(spark, buys_src),
        read_event_stream(spark, views_src),
        key="event_type",  # the per-user key in this fixture
        lookback="1 hour",
    )
    out_path, ckpt = f"{tmp}/out", f"{tmp}/jckpt"
    q = (
        joined.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.l_event_id, r.r_event_id) for r in spark.read.parquet(out_path).collect()}
    assert got == {(20, 10)}  # only the in-window same-user view

    # the batch twin: identical semantics on tables at rest
    batch = interval_join_streams(
        spark.read.parquet(buys_src), spark.read.parquet(views_src),
        key="event_type", lookback="1 hour",
    )
    assert {(r.l_event_id, r.r_event_id) for r in batch.collect()} == {(20, 10)}


def test_scd2_upsert_history_chain(spark, tmp):
    from options_data_pipeline_spark.sinks.upsert import scd2_upsert

    t = f"{tmp}/dim"
    b1 = spark.createDataFrame(
        [(1, "bronze", "2024-01-01 00:00:00"), (2, "gold", "2024-01-01 00:00:00")],
        "k long, tier string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    m1 = scd2_upsert(spark, t, b1, ["k"])
    assert m1 == {"opened": 2, "closed": 0}

    # key 1 changes twice within one batch (versions must chain); key 3 is new
    b2 = spark.createDataFrame(
        [
            (1, "silver", "2024-02-01 00:00:00"),
            (1, "gold", "2024-03-01 00:00:00"),
            (3, "bronze", "2024-02-15 00:00:00"),
        ],
        "k long, tier string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    m2 = scd2_upsert(spark, t, b2, ["k"])
    assert m2 == {"opened": 3, "closed": 1}

    rows = {
        (r.k, r.tier, str(r.valid_from), str(r.valid_to), r.is_current)
        for r in spark.read.parquet(t).collect()
    }
    assert rows == {
        (1, "bronze", "2024-01-01 00:00:00", "2024-02-01 00:00:00", False),
        (1, "silver", "2024-02-01 00:00:00", "2024-03-01 00:00:00", False),
        (1, "gold", "2024-03-01 00:00:00", "None", True),
        (2, "gold", "2024-01-01 00:00:00", "None", True),
        (3, "bronze", "2024-02-15 00:00:00", "None", True),
    }

    # idempotence-of-history: an unrelated third batch leaves closed rows alone
    b3 = spark.createDataFrame(
        [(2, "platinum", "2024-04-01 00:00:00")], "k long, tier string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    m3 = scd2_upsert(spark, t, b3, ["k"])
    assert m3 == {"opened": 1, "closed": 1}
    out = spark.read.parquet(t)
    assert out.count() == 6
    assert out.where(F.col("is_current")).count() == 3


def test_streaming_session_windows(spark, tmp):
    """Native session_window sessionization: two sessions for user A
    (gap > 30 min between event 2 and 3), one for user B; a second
    micro-batch EXTENDS user B's open session before the watermark
    seals it. Complete-mode memory sink so sealed and open sessions are
    both visible to the assertion."""
    from options_data_pipeline_spark.streaming.sessions import (
        streaming_user_sessions,
    )

    src = f"{tmp}/src"
    _events(spark, [
        (0, "2024-01-01 10:00:00", "A", 1.0),
        (1, "2024-01-01 10:10:00", "A", 1.0),
        (2, "2024-01-01 11:30:00", "A", 1.0),   # > 30 min gap: new session
        (3, "2024-01-01 10:05:00", "B", 1.0),
    ]).coalesce(1).write.mode("append").parquet(src)
    _events(spark, [
        (4, "2024-01-01 10:20:00", "B", 1.0),   # extends B's session
    ]).coalesce(1).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    sessions = streaming_user_sessions(
        stream, key_col="event_type", gap="30 minutes", watermark="1 hour"
    )
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r.event_type, r.session_start.isoformat()): (
            r.n_events,
            r.first_ts.isoformat(),
            r.last_ts.isoformat(),
        )
        for r in spark.sql("SELECT * FROM sess").collect()
    }
    assert rows[("A", "2024-01-01T10:00:00")] == (
        2, "2024-01-01T10:00:00", "2024-01-01T10:10:00",
    )
    assert rows[("A", "2024-01-01T11:30:00")] == (
        1, "2024-01-01T11:30:00", "2024-01-01T11:30:00",
    )
    # B's two micro-batches merged into ONE session spanning both events
    assert rows[("B", "2024-01-01T10:05:00")] == (
        2, "2024-01-01T10:05:00", "2024-01-01T10:20:00",
    )
    assert len(rows) == 3


def test_streaming_incremental_dedup_matches_batch(spark, tmp):
    """Stream/batch equivalence: feeding the planted mirror/scrape docs
    through the foreachBatch incremental dedup stream (one file per
    micro-batch) yields exactly the batch `incremental_dedup` query's
    verdicts."""
    from options_data_pipeline_spark.plans.text import (
        planted_corpus,
        q_incremental_dedup,
    )
    from options_data_pipeline_spark.streaming.corpus_dedup import (
        incremental_dedup_stream,
    )
    from tests.conftest import SF_DIR

    corpus = planted_corpus(spark, SF_DIR)
    is_new = F.col("source").isin("mirror", "scrape")
    base = corpus.where(~is_new)
    newb = corpus.where(is_new)

    src, out, ckpt = f"{tmp}/src", f"{tmp}/out", f"{tmp}/ckpt"
    # two micro-batches: the mirrors, then the scrapes
    newb.where(F.col("source") == "mirror").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    newb.where(F.col("source") == "scrape").coalesce(1).write.mode(
        "append"
    ).parquet(src)

    q = incremental_dedup_stream(spark, src, base, out, ckpt)
    q.awaitTermination(180)

    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    want = {tuple(r) for r in q_incremental_dedup(spark, SF_DIR).collect()}
    assert got == want and len(got) > 0


def test_upsert_partitioned_moving_escaped_partition_values(spark, tmp):
    """ADVICE r8: drained-partition eviction must address the directory
    Spark ACTUALLY wrote. Partition values containing ':', '=', '/' are
    percent-escaped in dir names; a raw str() rmtree misses them and the
    stale rows silently survive."""
    from options_data_pipeline_spark.sinks.upsert import (
        upsert_partitioned_moving,
    )

    t = f"{tmp}/idx"
    base = spark.createDataFrame(
        [(1, "a", "c:0"), (2, "b", "c=1")],
        "k long, v string, cell string",
    )
    upsert_partitioned_moving(spark, t, base, ["k"], "cell")
    # k=1 moves c:0 -> c=1, draining the escaped-name partition c:0
    up = spark.createDataFrame(
        [(1, "A", "c=1")], "k long, v string, cell string"
    )
    m = upsert_partitioned_moving(spark, t, up, ["k"], "cell")
    assert m == {"inserted": 0, "updated": 1, "moved": 1}
    got = {(r.k, r.v, r.cell) for r in spark.read.parquet(t).collect()}
    assert got == {(1, "A", "c=1"), (2, "b", "c=1")}  # no stale c:0 row
    import os

    assert "cell=c%3A0" not in os.listdir(t)


def test_pending_drops_sidecar_heals_on_next_read(spark, tmp):
    """A crash between the dynamic-overwrite commit and the drained-dir
    drops leaves the journaled intent on disk; the next _read_target
    completes the drops before reading, so stale drained rows cannot
    survive a crash window."""
    import json
    import os

    from options_data_pipeline_spark.sinks.upsert import (
        _PENDING_DROPS,
        _read_target,
    )

    t = f"{tmp}/t"
    df = spark.createDataFrame(
        [(1, "live", "d1"), (2, "stale", "d0")], "k long, v string, d string"
    )
    df.write.partitionBy("d").parquet(t)
    # simulate the post-commit crash: the drop intent exists, the dir too
    with open(os.path.join(t, _PENDING_DROPS), "w") as fh:
        json.dump(["d=d0"], fh)
    healed = _read_target(spark, t)
    assert {(r.k, r.v) for r in healed.collect()} == {(1, "live")}
    assert not os.path.exists(os.path.join(t, _PENDING_DROPS))
    assert "d=d0" not in os.listdir(t)


def test_upsert_partitioned_additive_schema_evolution(spark, tmp):
    """A column the batch carries but the stored table predates surfaces
    as NULL on surviving rows (the Delta mergeSchema contract) — the
    sketch store's _bid replay marker rides on this."""
    t = f"{tmp}/t"
    v1 = spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", "d2")], "k long, v string, d string"
    )
    upsert_partitioned(spark, t, v1, ["k", "d"], "d")
    v2 = spark.createDataFrame(
        [(3, "c", "d1", 7)], "k long, v string, d string, extra long"
    )
    m = upsert_partitioned(spark, t, v2, ["k", "d"], "d")
    assert m == {"inserted": 1, "updated": 0}
    got = {
        (r.k, r.v, r.extra)
        for r in spark.read.parquet(f"{t}/d=d1").collect()
    }
    assert got == {(1, "a", None), (3, "c", 7)}
