"""Spark Python Data Source (Spark 4 API) for the kline REST feed:
``spark.read.format("klines")`` with executor-parallel fetching.

The reference fans ingestion out with Prefect task futures, one per
instrument (SURVEY §2.11 X1). The Spark-native form of that fan-out is
a *data source partition plan*: each (symbol, time-chunk) becomes an
``InputPartition``, so a 1000-executor cluster fetches 1000 windows
concurrently, retries ride on Spark task retries (X2), and the result
is a normal DataFrame feeding the same keyed sinks.

Transport selection: the data-source plan is (re)materialized inside
separate Python worker processes, so a driver-side injected callable
does not survive — the transport is chosen by the ``transport`` OPTION
instead: ``http`` (stdlib, the default) or ``synthetic`` (an in-module
deterministic offline feed, the same honestly-labeled-fake pattern as
the multimodal codec kernels — it exercises every real layer of the
source: option parsing, partition planning, executor-side fetch loops,
schema projection). Executors must be able to import this package
(standard production deployment: ship the wheel via ``--py-files``/
images), exactly like any package-defined UDF module.

Options:

- ``symbols``: comma-separated symbol list (required)
- ``start_ms`` / ``end_ms``: window in epoch milliseconds (required)
- ``chunk_ms``: partition granularity (default 1h = 3_600_000); a chunk
  wider than one page (1000 intervals) is fetched in several pages
- ``interval``: kline interval string (default "1h")
- ``base_url``: endpoint (default Binance shape)
- ``transport``: ``http`` | ``synthetic`` (offline deterministic feed)
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from .rest import KLINE_SCHEMA

_FIELDS = [f.name for f in KLINE_SCHEMA.fields]


def synthetic_transport(url: str, payload: dict | None = None) -> list:
    """Deterministic offline kline feed: one positional-array kline per
    minute of the requested window, values derived from (symbol,
    open_time) alone — identical on every executor and every re-run, so
    task retries and repartitioned reads stay consistent.  Open times sit
    on the minute grid and a page holds at most ``limit`` klines, as the
    exchange returns them, so a cursor resuming from the last open_time
    + 1 gets the next minute."""
    import urllib.parse as _up

    q = dict(_up.parse_qsl(url.split("?", 1)[1]))
    start = int(q["startTime"])
    end = int(q.get("endTime", start + 3_600_000))
    sym = q["symbol"]
    seed = sum(sym.encode())
    out = []
    t = -(-start // 60_000) * 60_000
    while t < end and len(out) < int(q.get("limit", 1000)):
        base = ((t // 60_000) + seed) % 1000 / 10.0
        out.append(
            [t, str(base), str(base + 1), str(max(base - 1, 0.0)),
             str(base + 0.5), str(float(seed % 97)), 0, 0, 0, 0, 0, 0]
        )
        t += 60_000
    return out


_TRANSPORTS = {"synthetic": synthetic_transport}


class KlinesDataSource(DataSource):
    """``spark.read.format("klines")`` — registrable kline source."""

    @classmethod
    def name(cls) -> str:
        return "klines"

    def schema(self):
        return KLINE_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return KlinesReader(self.options)

    def simpleStreamReader(self, schema) -> "KlinesStreamReader":
        return KlinesStreamReader(self.options)


class _Chunk(InputPartition):
    def __init__(self, symbol: str, start_ms: int, end_ms: int) -> None:
        self.symbol = symbol
        self.start_ms = start_ms
        self.end_ms = end_ms


class KlinesReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.symbols = [
            s.strip() for s in options["symbols"].split(",") if s.strip()
        ]
        self.start_ms = int(options["start_ms"])
        self.end_ms = int(options["end_ms"])
        self.chunk_ms = int(options.get("chunk_ms", 3_600_000))
        self.interval = options.get("interval", "1h")
        self.base_url = options.get(
            "base_url", "https://api.binance.com/api/v3/klines"
        )
        self.transport_name = options.get("transport", "http")

    def partitions(self) -> list[InputPartition]:
        """One InputPartition per (symbol, chunk): the unit of executor
        parallelism AND of task retry — a failed fetch re-runs only its
        own window."""
        out: list[InputPartition] = []
        for sym in self.symbols:
            lo = self.start_ms
            while lo < self.end_ms:
                hi = min(lo + self.chunk_ms, self.end_ms)
                out.append(_Chunk(sym, lo, hi))
                lo = hi
        return out

    def read(self, partition: _Chunk):
        # executor-side: build the same adapter rest.py exposes, fetch
        # this partition's window, emit schema-ordered tuples
        from .rest import KlinesSource, default_transport

        src = KlinesSource(
            base_url=self.base_url,
            interval=self.interval,
            transport=_TRANSPORTS.get(self.transport_name, default_transport),
        )
        for row in src.fetch_range(
            partition.symbol, partition.start_ms, partition.end_ms
        ):
            yield tuple(row[f] for f in _FIELDS)


class KlinesStreamReader(SimpleDataSourceStreamReader):
    """Streaming form of the kline source: the reference's high-watermark
    resume (SURVEY §2.9 T1 — `last open_time + 1` as the next fetch
    start) expressed as Structured Streaming OFFSETS, so the resume
    position lives in the checkpoint log instead of an application
    table, and a restarted query continues exactly where it stopped.

    Offsets are ``{"ms": epoch_millis}``. Each micro-batch advances the
    watermark by at most ``max_batch_ms`` toward ``end_ms`` (the horizon
    option; production would use wall-clock now). ``read(start)``
    fetches (start, next) and returns the NEXT offset — Spark persists
    it to the WAL before the batch commits, giving exactly-once replay
    into idempotent sinks.
    """

    def __init__(self, options: dict) -> None:
        self.symbols = [
            s.strip() for s in options["symbols"].split(",") if s.strip()
        ]
        self.start_ms = int(options["start_ms"])
        self.end_ms = int(options["end_ms"])
        self.max_batch_ms = int(options.get("max_batch_ms", 3_600_000))
        self.interval = options.get("interval", "1h")
        self.base_url = options.get(
            "base_url", "https://api.binance.com/api/v3/klines"
        )
        self.transport_name = options.get("transport", "http")

    def initialOffset(self) -> dict:
        return {"ms": self.start_ms}

    def read(self, start: dict):
        from .rest import KlinesSource, default_transport

        lo = int(start["ms"])
        hi = min(lo + self.max_batch_ms, self.end_ms)
        if hi <= lo:
            return iter([]), {"ms": lo}
        src = KlinesSource(
            base_url=self.base_url,
            interval=self.interval,
            transport=_TRANSPORTS.get(self.transport_name, default_transport),
        )
        rows = [
            tuple(row[f] for f in _FIELDS)
            for sym in self.symbols
            for row in src.fetch_range(sym, lo, hi)
        ]
        return iter(rows), {"ms": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        """Deterministic replay of a committed range (failure recovery):
        fetch exactly [start, end), independent of max_batch_ms."""
        from .rest import KlinesSource, default_transport

        lo, hi = int(start["ms"]), int(end["ms"])
        if hi <= lo:
            return iter([])
        src = KlinesSource(
            base_url=self.base_url,
            interval=self.interval,
            transport=_TRANSPORTS.get(self.transport_name, default_transport),
        )
        return iter(
            tuple(row[f] for f in _FIELDS)
            for sym in self.symbols
            for row in src.fetch_range(sym, lo, hi)
        )

    def commit(self, end: dict) -> None:
        pass
