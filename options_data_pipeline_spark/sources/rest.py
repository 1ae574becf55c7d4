"""REST ingestion adapters (reference collectors S1-S4, re-shaped for Spark).

The reference's collectors poll exchange REST APIs row-by-row into
PostgreSQL (src/pipeline/collectors/{binance,binance_1m,hyperliquid,
deribit}.py). In a Spark engine, ingestion is a *driver-side* concern:
fetch bounded batches over HTTP, parse to rows, ``createDataFrame`` with
an explicit schema, and hand the DataFrame to a keyed sink
(:mod:`..sinks.upsert`). Pagination, retry, and rate limiting live here;
nothing below this layer touches the network.

Every adapter takes an injectable ``transport`` callable
(``transport(url, payload-or-None) -> parsed JSON``) so tests (and
air-gapped environments) run against fakes; the default transport uses
stdlib ``urllib`` and is only imported when actually used.

Shapes mirrored from the reference:

- Binance klines (S1/S2): GET returning positional arrays
  ``[open_time_ms, open, high, low, close, volume, ...]``
  (collectors/binance.py:30-64).
- Hyperliquid candleSnapshot (S3): POST returning dict rows
  ``{"t": ms, "o", "h", "l", "c", "v"}`` with a backward chunked
  full-history walk (collectors/hyperliquid.py:28-49,135-156).
- Deribit option trades (S4): cursor pagination
  ``last_ts = trades[-1].timestamp + 1`` with ``has_more``, 3 retries,
  and a history/live endpoint switch (collectors/deribit.py:54-80,
  151-179).
"""

from __future__ import annotations

import time
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

Transport = Callable[[str, dict | None], object]


def default_transport(url: str, payload: dict | None = None) -> object:
    """Stdlib HTTP JSON transport (GET when payload is None, else POST)."""
    import json
    import urllib.request

    if payload is None:
        req = urllib.request.Request(url)
    else:
        req = urllib.request.Request(
            url,
            data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"},
        )
    with urllib.request.urlopen(req, timeout=30) as resp:  # noqa: S310
        return json.loads(resp.read())


KLINE_SCHEMA = T.StructType(
    [
        T.StructField("open_time", T.TimestampType()),
        T.StructField("open", T.DoubleType()),
        T.StructField("high", T.DoubleType()),
        T.StructField("low", T.DoubleType()),
        T.StructField("close", T.DoubleType()),
        T.StructField("volume", T.DoubleType()),
        T.StructField("symbol", T.StringType()),
    ]
)

TRADE_SCHEMA = T.StructType(
    [
        T.StructField("trade_id", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("instrument_name", T.StringType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("iv", T.DoubleType()),
        T.StructField("mark_price", T.DoubleType()),
        T.StructField("index_price", T.DoubleType()),
        T.StructField("direction", T.StringType()),
        T.StructField("tick_direction", T.IntegerType()),
    ]
)


def _ms_to_dt(ms: int):
    from datetime import datetime, timezone

    return datetime.fromtimestamp(ms / 1000.0, tz=timezone.utc).replace(tzinfo=None)


def _dt_to_ms(dt) -> int:
    """Inverse of :func:`_ms_to_dt`.  The naive datetime is UTC: tzinfo is
    pinned before ``.timestamp()``, so a cursor built from it does not
    shift by the host's UTC offset (re-fetching forever west of UTC,
    skipping rows east of it)."""
    from datetime import timezone

    return round(dt.replace(tzinfo=timezone.utc).timestamp() * 1000)


class KlinesSource:
    """Binance-shape kline source (positional-array rows)."""

    def __init__(
        self,
        base_url: str = "https://api.binance.com/api/v3/klines",
        interval: str = "1h",
        transport: Transport = default_transport,
        limit: int = 1000,
    ) -> None:
        self.base_url = base_url
        self.interval = interval
        self.transport = transport
        self.limit = limit

    def fetch(self, symbol: str, start_ms: int, end_ms: int | None = None) -> list[dict]:
        url = (
            f"{self.base_url}?symbol={symbol}&interval={self.interval}"
            f"&startTime={start_ms}&limit={self.limit}"
        )
        if end_ms is not None:
            url += f"&endTime={end_ms}"
        raw = self.transport(url, None)
        return [
            {
                "open_time": _ms_to_dt(int(k[0])),
                "open": float(k[1]),
                "high": float(k[2]),
                "low": float(k[3]),
                "close": float(k[4]),
                "volume": float(k[5]),
                "symbol": symbol,
            }
            for k in raw
        ]

    def fetch_range(self, symbol: str, start_ms: int, end_ms: int) -> list[dict]:
        """Every kline of ``[start_ms, end_ms)``: a window wider than
        ``limit`` intervals takes several pages, each resuming from the
        last open_time + 1 (the reference's cursor, binance.py:30-64),
        until a short page or ``end_ms``."""
        out: list[dict] = []
        cursor = start_ms
        while cursor < end_ms:
            page = self.fetch(symbol, cursor, end_ms)
            out.extend(page)
            if len(page) < self.limit:
                break
            nxt = _dt_to_ms(page[-1]["open_time"]) + 1
            if nxt <= cursor:  # a misbehaving feed would page forever
                raise RuntimeError(f"{symbol}: a full page from {cursor} did not advance the cursor")
            cursor = nxt
        return out

    def to_df(self, spark: SparkSession, rows: Sequence[dict]) -> DataFrame:
        return spark.createDataFrame(list(rows), KLINE_SCHEMA)


class CandleSnapshotSource:
    """Hyperliquid-shape candle source (POST candleSnapshot, dict rows)."""

    def __init__(
        self,
        base_url: str = "https://api.hyperliquid.xyz/info",
        coin: str = "BTC",
        interval: str = "1h",
        transport: Transport = default_transport,
        max_candles: int = 5000,
        rate_limit_s: float = 0.0,
    ) -> None:
        self.base_url = base_url
        self.coin = coin
        self.interval = interval
        self.transport = transport
        self.max_candles = max_candles
        self.rate_limit_s = rate_limit_s

    def fetch(self, start_ms: int, end_ms: int) -> list[dict]:
        payload = {
            "type": "candleSnapshot",
            "req": {
                "coin": self.coin,
                "interval": self.interval,
                "startTime": start_ms,
                "endTime": end_ms,
            },
        }
        raw = self.transport(self.base_url, payload)
        return [
            {
                "open_time": _ms_to_dt(int(c["t"])),
                "open": float(c["o"]),
                "high": float(c["h"]),
                "low": float(c["l"]),
                "close": float(c["c"]),
                "volume": float(c.get("v", 0.0)),
                "symbol": self.coin,
            }
            for c in raw
        ]

    def fetch_full_history(self, start_ms: int, end_ms: int, step_ms: int) -> list[dict]:
        """Backward chunked walk (reference hyperliquid.py:135-156): fetch
        [max(start, end-step), end), step the window back, dedup by time
        (O5 — the chunks may overlap at boundaries)."""
        if step_ms <= 0:
            raise ValueError("step_ms must be positive")
        out: dict = {}
        hi = end_ms
        while hi > start_ms:
            lo = max(start_ms, hi - step_ms)
            for row in self.fetch(lo, hi):
                out[row["open_time"]] = row
            hi = lo
            if self.rate_limit_s:
                time.sleep(self.rate_limit_s)
        return [out[k] for k in sorted(out)]

    to_df = KlinesSource.to_df


class OptionTradesSource:
    """Deribit-shape paginated trade source with retry + cursor resume."""

    def __init__(
        self,
        base_url: str = "https://history.deribit.com/api/v2/public",
        currency: str = "BTC",
        transport: Transport = default_transport,
        batch_size: int = 10000,
        retries: int = 3,
        retry_delay_s: float = 0.0,
        rate_limit_s: float = 0.0,
        use_history: bool = True,
    ) -> None:
        self.base_url = base_url
        self.currency = currency
        self.transport = transport
        self.batch_size = batch_size
        self.retries = retries
        self.retry_delay_s = retry_delay_s
        self.rate_limit_s = rate_limit_s
        self.use_history = use_history

    def _endpoint(self) -> str:
        # history vs live endpoint switch (deribit.py:157)
        kind = "get_last_trades_by_currency_and_time"
        return f"{self.base_url}/{kind}"

    def fetch_page(self, start_ms: int, end_ms: int) -> tuple[list[dict], bool]:
        url = (
            f"{self._endpoint()}?currency={self.currency}&kind=option"
            f"&start_timestamp={start_ms}&end_timestamp={end_ms}"
            f"&count={self.batch_size}&sorting=asc"
        )
        last_err: Exception | None = None
        for _ in range(self.retries):
            try:
                raw = self.transport(url, None)
                break
            except Exception as e:  # noqa: BLE001 — retry any transport error
                last_err = e
                if self.retry_delay_s:
                    time.sleep(self.retry_delay_s)
        else:
            raise RuntimeError(f"fetch failed after {self.retries} retries") from last_err
        result = raw["result"] if isinstance(raw, dict) else raw
        trades = [
            {
                "trade_id": str(t["trade_id"]),
                "ts": _ms_to_dt(int(t["timestamp"])),
                "instrument_name": t["instrument_name"],
                "price": float(t["price"]),
                "amount": float(t["amount"]),
                # nullable metrics via .get (deribit.py:107-110)
                "iv": None if t.get("iv") is None else float(t["iv"]),
                "mark_price": None if t.get("mark_price") is None else float(t["mark_price"]),
                "index_price": None if t.get("index_price") is None else float(t["index_price"]),
                "direction": t.get("direction"),
                "tick_direction": t.get("tick_direction"),
            }
            for t in result["trades"]
        ]
        return trades, bool(result.get("has_more"))

    def fetch_range(self, start_ms: int, end_ms: int) -> list[dict]:
        """Cursor pagination: resume from last trade's timestamp + 1
        (deribit.py:172)."""
        out: list[dict] = []
        cursor = start_ms
        while True:
            trades, has_more = self.fetch_page(cursor, end_ms)
            out.extend(trades)
            if not has_more or not trades:
                return out
            cursor = _dt_to_ms(trades[-1]["ts"]) + 1
            if self.rate_limit_s:
                time.sleep(self.rate_limit_s)

    def to_df(self, spark: SparkSession, rows: Sequence[dict]) -> DataFrame:
        return spark.createDataFrame(list(rows), TRADE_SCHEMA)


def with_parsed_instrument(trades: DataFrame) -> DataFrame:
    """Attach expiry/strike/type parsed from instrument_name (F1), keeping
    unparseable rows NULL (P8 filters them downstream)."""
    from ..functions import instruments as I

    return I.with_parsed_instrument(trades)
