"""Output checks against the registry's DuckDB oracles.

Spark results and gold tables are compared with the oracle SQL of
``registry.oracle_sql()`` run by DuckDB over the same generated parquet
files, through ``tests/_compare.canonical_hash`` (name-sorted columns,
sorted rows, exact values).  Audit columns are ignored, and a gold table
is compared on the columns it shares with its oracle query.  Nothing here
runs inside a timed loop.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from options_data_pipeline_spark.plans import registry, sessions
from tests._compare import canonical_hash

AUDIT_COLUMNS = frozenset({"updated_at"})


def connect(events: str | list[str]) -> duckdb.DuckDBPyConnection:
    """DuckDB with an ``events`` view over generated tick files (a path,
    a glob or a list of paths).  The files carry UTC-adjusted timestamps;
    the view casts them to naive UTC ``TIMESTAMP``, the type the oracle
    SQL is written for."""
    files = [events] if isinstance(events, str) else events
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(
        "CREATE VIEW events AS SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, "
        "user_id, event_type, value, props FROM read_parquet(["
        + ", ".join(f"'{f}'" for f in files) + "])"
    )
    return con


def oracle(con: duckdb.DuckDBPyConnection, query: str) -> pd.DataFrame:
    return con.execute(registry.oracle_sql()[query]).fetchdf()


def daily_over_hourly(hourly: pd.DataFrame) -> pd.DataFrame:
    """The registry's daily-session oracle, rolled up over a gold hourly
    table (columns ``instrument, hour_ts, open, high, low, close,
    n_ticks``) instead of over the ticks."""
    sql = registry.oracle_sql()["daily_sessions"]
    if sessions.HOURLY_CTE not in sql:
        raise RuntimeError("daily_sessions oracle no longer starts from the hourly CTE")
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.register("hourly_gold", hourly)
    gold = ("hourly AS (SELECT instrument, hour_ts AS h, open, high, low, close, n_ticks "
            "FROM hourly_gold)")
    df = con.execute(sql.replace(sessions.HOURLY_CTE, gold)).fetchdf()
    con.close()
    return df


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame, partial: bool = False) -> str | None:
    """None when ``got`` hash-equals ``want``, else a one-line reason.

    With ``partial`` the frames are compared on their shared columns
    (a gold table keeps bookkeeping columns its oracle query lacks, and
    the reverse); otherwise the column sets must be equal."""
    g_cols = set(got.columns) - AUDIT_COLUMNS
    w_cols = set(want.columns) - AUDIT_COLUMNS
    if partial:
        g_cols = w_cols = g_cols & w_cols
    if g_cols != w_cols or not g_cols:
        return f"{name}: columns {sorted(g_cols)} vs oracle {sorted(w_cols)}"
    cols = sorted(g_cols)
    if len(got) != len(want):
        return f"{name}: {len(got)} rows vs oracle {len(want)}"
    if canonical_hash(got[cols]) != canonical_hash(want[cols]):
        return f"{name}: values differ from the oracle ({len(got)} rows)"
    return None
