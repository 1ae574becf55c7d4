"""Seeded input generator for the pipeline benchmark.

Everything the package reads during a run is written here, from the
workload seed alone: the same seed gives byte-identical parquet files and
a different seed gives different ones.  Tick tables have the columns of
the benchmark ``events`` table (``event_id, ts, user_id, event_type,
value, props``); ``event_type`` is the instrument, ``value`` the price.

Timestamps are written as UTC-adjusted microseconds, so Spark reads them
as ``TIMESTAMP`` on every path (``load_table`` and plain
``spark.read.parquet`` alike).  DuckDB sees ``TIMESTAMPTZ``; the oracle
views in :mod:`checks` cast them back to naive UTC.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HOUR_US = 3_600_000_000
EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)

# The first two instruments double as the event kinds the as-of
# attribution query joins (purchases pick up the latest click).
_NAMED = ("click", "purchase")

# Zipf exponent of the instrument distribution: the i-th instrument gets
# weight 1 / (i + 1) ** SKEW, so a few instruments carry most ticks.  No
# source in the repository gives a distribution; this is an assumption.
SKEW = 1.1
# User ids drive the synthetic option chain (expiry from user_id % 4,
# strike from user_id % 20, plans/options.py); 1500 ids cover every
# (expiry, strike) pair many times over.
USERS = 1500

TICK_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


@dataclass(frozen=True)
class TickSpec:
    """Shape of a generated tick table."""

    instruments: int
    hours: int
    ticks_per_instrument_hour: float

    @property
    def rows(self) -> int:
        return int(round(self.instruments * self.hours * self.ticks_per_instrument_hour))


def instrument_names(n: int) -> list[str]:
    return [*_NAMED[:n], *(f"sym{i:02d}" for i in range(len(_NAMED), n))]


def start_time(seed: int) -> datetime:
    """Seeded, hour-aligned start of the generated history in January 2024
    (the synthetic option chain expires in February 2024), as a naive UTC
    datetime: the form Spark literals and collected timestamps take."""
    rng = np.random.default_rng([seed, 0])
    return datetime(2024, 1, 1) + timedelta(hours=int(rng.integers(0, 72)))


def to_us(dt: datetime) -> int:
    """Epoch microseconds; a naive ``dt`` is taken as UTC."""
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return (dt - EPOCH) // timedelta(microseconds=1)


def _instrument_weights(spec: TickSpec) -> np.ndarray:
    w = 1.0 / np.arange(1, spec.instruments + 1) ** SKEW
    return w / w.sum()


def tick_columns(
    rng: np.random.Generator,
    n: int,
    spec: TickSpec,
    ts_us: np.ndarray,
    first_id: int,
) -> dict[str, np.ndarray]:
    """``n`` ticks at the given timestamps; ids follow ``first_id``."""
    names = np.array(instrument_names(spec.instruments), dtype=object)
    inst = rng.choice(spec.instruments, size=n, p=_instrument_weights(spec))
    # Prices follow the benchmark events table: exponential, cent-rounded,
    # bounded away from zero so log-return queries stay finite.
    value = np.maximum(np.round(rng.exponential(50.0, size=n), 2), 0.01)
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": ts_us.astype(np.int64),
        "user_id": rng.integers(0, USERS, size=n, dtype=np.int64),
        "event_type": names[inst],
        "value": value,
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)], dtype=object),
    }


def history_ticks(seed: int, spec: TickSpec, start: datetime) -> dict[str, np.ndarray]:
    """``spec.rows`` ticks spread uniformly over ``spec.hours`` from
    ``start``, in time order, ids ``0..rows-1``."""
    rng = np.random.default_rng([seed, 1])
    n = spec.rows
    lo = to_us(start)
    ts = np.sort(rng.integers(lo, lo + spec.hours * HOUR_US, size=n))
    return tick_columns(rng, n, spec, ts, first_id=0)


def late_batch(
    seed: int,
    spec: TickSpec,
    index: int,
    start: datetime,
    batch_ticks: int,
    step: timedelta,
    n_late: int,
    late_hours: tuple[int, int],
    first_id: int,
) -> dict[str, np.ndarray]:
    """Micro-batch ``index`` of new ticks for the incremental workload.

    The batch covers ``[start + index * step, start + (index + 1) * step)``.
    ``n_late`` of its ``batch_ticks`` ticks are late: they are stamped
    ``late_hours`` (lo, hi) hours before the batch, so they land in hours
    a lookback re-sync no longer covers and only the bucket-repair path
    fixes them.  Ticks are out of order within the batch.  Ids continue
    from ``first_id + index * batch_ticks``.
    """
    rng = np.random.default_rng([seed, 2, index])
    lo = to_us(start + index * step)
    hi = lo + step // timedelta(microseconds=1)
    fresh = rng.integers(lo, hi, size=batch_ticks - n_late)
    late = lo - rng.integers(late_hours[0] * HOUR_US, late_hours[1] * HOUR_US, size=n_late)
    ts = rng.permutation(np.concatenate([fresh, late]))
    return tick_columns(rng, batch_ticks, spec, ts, first_id=first_id + index * batch_ticks)


def write_ticks(cols: dict[str, np.ndarray], path: str, row_group_rows: int | None = None) -> int:
    """Write one tick table as a single parquet file; returns its rows.

    Fixed writer settings (row groups of ``row_group_rows``, one by
    default; snappy; no pandas metadata) make the bytes a function of the
    columns alone.  Time-ordered ticks in small row groups let a
    time-range scan skip most of the file."""
    table = pa.table(
        {
            "event_id": pa.array(cols["event_id"], pa.int64()),
            "ts": pa.array(cols["ts"], pa.int64()).cast(pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(cols["user_id"], pa.int64()),
            "event_type": pa.array(cols["event_type"], pa.string()),
            "value": pa.array(cols["value"], pa.float64()),
            "props": pa.array(cols["props"], pa.string()),
        },
        schema=TICK_SCHEMA,
    )
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pq.write_table(
        table, path, compression="snappy", row_group_size=max(row_group_rows or len(table), 1),
        write_statistics=True,
    )
    return len(table)


def kline_symbols(seed: int, n: int) -> list[str]:
    """Seeded symbol names for the klines source (the synthetic feed
    derives prices from the symbol, so names change the data)."""
    rng = np.random.default_rng([seed, 3])
    letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
    return [f"{''.join(rng.choice(letters, size=3))}{i:02d}USDT" for i in range(n)]
