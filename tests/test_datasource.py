"""Python Data Source (Spark 4): the klines custom source.

Pins the production properties, not just "it returns rows": the
partition plan is (symbol x chunk), executor-side reads respect chunk
boundaries exactly (no duplicated or dropped klines at the seams), and
the synthetic offline feed is deterministic across partitionings — the
property that makes Spark task retries safe for an ingest source.
"""

from __future__ import annotations

import pytest

from options_data_pipeline_spark.sources.datasource import (
    KlinesDataSource,
    KlinesReader,
)

START = 1_700_000_000_000
HOUR = 3_600_000


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(KlinesDataSource)
    return spark


def _read(spark, **overrides):
    opts = {
        "symbols": "BTCUSDT,ETHUSDT",
        "start_ms": str(START),
        "end_ms": str(START + 2 * HOUR),
        "transport": "synthetic",
    }
    opts.update({k: str(v) for k, v in overrides.items()})
    reader = spark.read.format("klines")
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.load()


def test_reads_full_window_once(registered):
    df = _read(registered)
    # 2 symbols x 120 minutes, one kline per minute, no seam dups
    assert df.count() == 240
    per_sym = {
        r.symbol: (r.n, r.nd)
        for r in registered.sql(
            "SELECT symbol, count(*) AS n, count(DISTINCT open_time) AS nd"
            " FROM {df} GROUP BY symbol",
            df=df,
        ).collect()
    }
    assert per_sym == {"BTCUSDT": (120, 120), "ETHUSDT": (120, 120)}


def test_partition_plan_is_symbol_x_chunk(registered):
    df = _read(registered, chunk_ms=30 * 60_000)  # 4 chunks x 2 symbols
    assert df.rdd.getNumPartitions() == 8
    assert df.count() == 240
    plan = KlinesReader(
        {
            "symbols": "A,B",
            "start_ms": "0",
            "end_ms": str(90 * 60_000),
            "chunk_ms": str(HOUR),
        }
    ).partitions()
    # ragged tail chunk: [0,60) and [60,90) per symbol
    assert [(p.symbol, p.start_ms, p.end_ms) for p in plan] == [
        ("A", 0, HOUR), ("A", HOUR, 90 * 60_000),
        ("B", 0, HOUR), ("B", HOUR, 90 * 60_000),
    ]


def test_deterministic_across_chunkings(registered):
    a = sorted(map(tuple, _read(registered).collect()))
    b = sorted(map(tuple, _read(registered, chunk_ms=15 * 60_000).collect()))
    assert a == b


def test_day_chunks_of_minute_klines_are_paged(registered):
    """A 1-day chunk holds 1440 one-minute klines, more than the
    1000-row page the exchange returns: each partition pages through
    its chunk instead of keeping the first page."""
    day = 24 * HOUR
    df = _read(registered, symbols="BTCUSDT,ETHUSDT,SOLUSDT",
               end_ms=START + 7 * day, chunk_ms=day, interval="1m")
    n, keys = registered.sql(
        "SELECT count(*), count(DISTINCT symbol, open_time) FROM {df}", df=df
    ).first()
    assert (n, keys) == (30_240, 30_240)


def test_fetch_range_resumes_after_the_last_open_time():
    from options_data_pipeline_spark.sources.datasource import synthetic_transport
    from options_data_pipeline_spark.sources.rest import KlinesSource

    urls = []

    def transport(url, payload):
        urls.append(url)
        return synthetic_transport(url, payload)

    t0 = START // 60_000 * 60_000  # on the minute grid
    src = KlinesSource(interval="1m", transport=transport, limit=50)
    rows = src.fetch_range("BTCUSDT", t0, t0 + 120 * 60_000)
    assert [r["open_time"] for r in rows] == sorted({r["open_time"] for r in rows})
    assert len(rows) == 120
    # pages of 50, 50 and a short 20
    assert [u.split("startTime=")[1].split("&")[0] for u in urls] == [
        str(t0), str(t0 + 49 * 60_000 + 1), str(t0 + 99 * 60_000 + 1),
    ]


def test_fetch_range_refuses_a_page_that_does_not_advance():
    from options_data_pipeline_spark.sources.rest import KlinesSource

    stuck = [[START, "1", "1", "1", "1", "1", 0, 0, 0, 0, 0, 0]] * 2
    src = KlinesSource(transport=lambda url, payload: stuck, limit=2)
    with pytest.raises(RuntimeError, match="did not advance"):
        src.fetch_range("BTCUSDT", START + 1, START + HOUR)


def test_values_follow_synthetic_contract(registered):
    df = _read(registered, symbols="BTCUSDT", end_ms=START + HOUR)
    rows = df.orderBy("open_time").collect()
    seed = sum(b"BTCUSDT")
    assert all(r.volume == float(seed % 97) for r in rows)
    assert all(r.high == r.open + 1.0 and r.close == r.open + 0.5 for r in rows)


def test_streaming_reader_equals_batch_and_resumes(registered, tmp_path):
    """Each query start processes one max_batch_ms micro-batch (Python
    micro-batch sources run single-batch under availableNow), so a LOOP
    of restarts on the same checkpoint walks the offset to the horizon —
    the T1 high-watermark resume living in the WAL: every restart
    continues exactly where the last stopped, and a drained source
    appends nothing. The union of all restarts must equal the batch read
    bit-for-bit."""
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run():
        stream = (
            registered.readStream.format("klines")
            .option("symbols", "BTCUSDT,ETHUSDT")
            .option("start_ms", str(START))
            .option("end_ms", str(START + 2 * HOUR))
            .option("max_batch_ms", str(30 * 60_000))
            .option("transport", "synthetic")
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return registered.read.parquet(out).count()

    counts = [run()]
    assert counts[0] == 60  # 30 min x 2 symbols x 1 row/min
    for _ in range(6):  # horizon needs 4 restarts; extras must add 0
        n = run()
        if n == counts[-1]:
            break
        counts.append(n)
    assert counts == [60, 120, 180, 240]

    streamed = sorted(map(tuple, registered.read.parquet(out).collect()))
    batch = sorted(map(tuple, _read(registered).collect()))
    assert streamed == batch
