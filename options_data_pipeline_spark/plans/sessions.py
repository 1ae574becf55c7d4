"""Session-OHLC query family over the benchmark ``events`` table.

``events`` (event_id, ts, user_id, event_type, value) stands in for the
reference's candle stream: ``event_type`` is the instrument, ``value`` the
price. The chain mirrors the reference lifecycle exactly:

    ticks -> hourly candles -> daily sessions (08:00 anchor, >=20h guard)
          -> weekly sessions (Friday anchor, >=5d guard)
          -> monthly sessions (last-Friday anchor, >=20d guard, extras)

Every query has a DuckDB oracle built from the same CTE pipeline; ordering
ties are broken by (ts, event_id) in both engines so results are
deterministic bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import timeutil as T
from ..functions.rounding import sql_round_half_away
from ..operators.session_ohlc import session_ohlc, ticks_to_ohlc
from ..sources.tables import load_table

DAILY_MIN_HOURS = 20   # daily_sessions.py:183
WEEKLY_MIN_DAYS = 5    # weekly_sessions.py:123
MONTHLY_MIN_DAYS = 20  # monthly_sessions.py:153

SESSION_COLS = [
    "instrument", "datetime", "open", "high", "low", "close", "move",
    "chhigh", "chlow", "chclose", "chmax", "chhightime", "chlowtime",
    "firstextremumtype",
]


def hourly_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events ticks -> per-(event_type, hour) OHLC candles."""
    ev = load_table(spark, sf_dir, "events")
    return ticks_to_ohlc(
        ev.withColumnRenamed("event_type", "instrument"),
        bucket=F.date_trunc("hour", F.col("ts")),
        keys=("instrument",),
        time_col="ts",
        price_col="value",
        tiebreak_cols=("event_id",),
    )


def q_hourly_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hourly_candles(spark, sf_dir).select(
        "instrument", F.col("bucket_ts").alias("hour_ts"),
        "open", "high", "low", "close", "n_ticks",
    )


def q_stream_candles_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the STREAMING gold job (VERDICT r4 ask #7): the
    events table is staged as three parquet files, replayed through the
    real Structured Streaming path — ``incremental_candles_stream``'s
    file source, ``maxFilesPerTrigger=1`` (three micro-batches under
    availableNow), foreachBatch bucket-recompute + MERGE — and the
    CONVERGED gold table is returned. The oracle recomputes hourly
    candles from the raw events in SQL, so the hash adjudicates the
    stream-equals-batch identity (pinned so far only in pytest by
    tests/test_interval_stream_parity.py) end-to-end: watermarkless
    bucket repair across batch boundaries must land exactly on the
    one-shot batch aggregate, regardless of how the schedule sliced the
    data."""
    import shutil
    import tempfile

    from ..operators.materialize import materialize
    from ..streaming.candles import incremental_candles_stream

    base = tempfile.mkdtemp(prefix="stream_twin_")
    try:
        src, gold, ckpt = f"{base}/events", f"{base}/gold", f"{base}/ckpt"
        # range-split on ts: files arrive in time order (the realistic
        # replay), so each micro-batch repairs a near-disjoint bucket
        # slice instead of recomputing every bucket thrice
        load_table(spark, sf_dir, "events").repartitionByRange(
            3, "ts"
        ).write.parquet(src)
        q = incremental_candles_stream(
            spark, src, gold, ckpt, max_files_per_trigger=1
        )
        q.awaitTermination()
        out = spark.read.parquet(gold).select(
            "instrument", F.col("bucket_ts").alias("hour_ts"),
            "open", "high", "low", "close", "n_ticks",
        )
        # pin the result in the session before the staging dir vanishes
        return materialize(out)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def oracle_stream_candles_twin() -> str:
    # identical to the batch hourly-candle oracle: the stream must
    # converge to exactly the one-shot aggregate
    return oracle_hourly_candles()


def q_stream_candles_replay_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once REPLAY through the candles MERGE sink (VERDICT r9
    ask #6): drain the real three-micro-batch stream to convergence,
    then RE-deliver two batches through the exact foreachBatch unit
    (:func:`..streaming.candles.candles_apply_batch`) — the trailing
    time slice (the "committed final batch whose checkpoint write died"
    retry) and a STALE early slice delivered after later data landed.
    The gold table must still hash-equal the one-shot batch aggregate.

    Unlike the additive sketch stores (`cms_store_replay_twin`, whose
    counter ADD needs the per-day ``_bid`` marker), this sink is
    idempotent BY CONSTRUCTION: every touched bucket recomputes from
    source truth and MERGEs by key.  The twin is what turns that
    argument into a driver-adjudicated fact: an append-shaped sink would
    duplicate keys on the retry, and a batch-local (non-source-truth)
    recompute would corrupt the stale slice's trailing buckets — either
    fails the hash.  The replay slices are exact thirds of the event
    time span (two 1-row bound probes, no data-dependent sampling)."""
    import shutil
    import tempfile

    from ..operators.materialize import materialize
    from ..streaming.candles import (
        candles_apply_batch,
        incremental_candles_stream,
    )

    base = tempfile.mkdtemp(prefix="stream_replay_")
    try:
        src, gold, ckpt = f"{base}/events", f"{base}/gold", f"{base}/ckpt"
        ev = load_table(spark, sf_dir, "events")
        ev.repartitionByRange(3, "ts").write.parquet(src)
        q = incremental_candles_stream(
            spark, src, gold, ckpt, max_files_per_trigger=1
        )
        q.awaitTermination()

        staged = spark.read.parquet(src)
        b = staged.agg(
            F.min("ts").alias("lo"), F.max("ts").alias("hi")
        ).first()
        span = b["hi"] - b["lo"]
        t1 = b["lo"] + span / 3
        t2 = b["lo"] + 2 * span / 3
        # retry of the trailing batch (same data, post-commit redelivery)
        candles_apply_batch(spark, src, gold, staged.where(F.col("ts") >= t2))
        # stale out-of-order replay of an early batch after later data
        candles_apply_batch(spark, src, gold, staged.where(F.col("ts") < t1))

        out = spark.read.parquet(gold).select(
            "instrument", F.col("bucket_ts").alias("hour_ts"),
            "open", "high", "low", "close", "n_ticks",
        )
        return materialize(out)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def oracle_stream_candles_replay_twin() -> str:
    # the replayed store must equal exactly-once convergence, which is
    # the one-shot batch aggregate
    return oracle_hourly_candles()


def q_collection_lifecycle_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-adjudicated twin of the SURVEY §3.1 collection lifecycle
    (VERDICT r6 ask #5): run the REAL ``jobs.incremental.incremental_sync``
    — watermark probe → lookback fetch → K1 keyed upsert → metrics
    (mirroring reference src/pipeline/collectors/binance.py:128-180) —
    over two waves against a staged parquet target.

    Wave 1 ("first sync") runs with a wall clock frozen at the final
    tick of the LAST (instrument, hour) candle cell holding >= 2 ticks,
    so that trailing candle is PROVISIONAL — its last tick hasn't
    happened yet and close/n_ticks genuinely mutate between waves (the
    events table is too sparse at small SFs for a fixed mid-hour clock
    to guarantee that, and a multi-event HOUR may still be all
    single-tick cells). Wave 2 runs at end-of-data: the T1 watermark
    resumes from MAX(bucket_ts), the T2 lookback re-fetches the trailing
    2 h window (repairing the mutated open candle exactly as reference
    binance.py:153 intends), and new hours insert. The result
    is the CONVERGED candle table with both waves' collector metrics as
    constant columns, so the driver hash adjudicates the lifecycle's
    convergence AND its inserted/updated accounting in one row set. The
    oracle replays the two waves declaratively: provisional candles from
    the truncated event stream, final candles overlaid last-write-wins,
    counts from the same key joins.

    Scale shape: each wave is one candle aggregate + one keyed MERGE; the
    only driver-side values are the two 1-row clock probes and the
    metric dict (same bounded collects the reference collector logs)."""
    import shutil
    import tempfile
    from datetime import timedelta

    from ..jobs.incremental import incremental_sync
    from ..operators.materialize import materialize

    base = tempfile.mkdtemp(prefix="lifecycle_twin_")
    try:
        target = f"{base}/candles"
        ev = load_table(spark, sf_dir, "events")
        # wave-1 clock: the final tick of the last >=2-tick candle cell —
        # a strict `ts < t_split` fetch then misses that tick, making the
        # trailing candle provisional by construction (1-row collect)
        t_split = (
            ev.groupBy(
                F.date_trunc("hour", F.col("ts")).alias("h"), "event_type"
            )
            .agg(F.count(F.lit(1)).alias("c"), F.max("ts").alias("mx"))
            .where(F.col("c") >= 2)
            .orderBy(F.col("h").desc(), F.col("event_type").desc())
            .limit(1)
            .first()["mx"]
        )
        t_end = ev.agg(
            (F.max("ts") + F.expr("INTERVAL 1 SECOND")).alias("t")
        ).first()["t"]

        def fetch_range(start, now):
            # the "exchange": candles visible at wall-clock `now` are
            # built from only the events that have happened (ts < now) —
            # the trailing candle genuinely mutates between waves
            return ticks_to_ohlc(
                ev.where(F.col("ts") < F.lit(now)).withColumnRenamed(
                    "event_type", "instrument"
                ),
                bucket=F.date_trunc("hour", F.col("ts")),
                keys=("instrument",),
                time_col="ts",
                price_col="value",
                tiebreak_cols=("event_id",),
            ).where(F.col("bucket_ts") >= F.lit(start))

        kw = dict(
            keys=["instrument", "bucket_ts"],
            ts_col="bucket_ts",
            lookback=timedelta(hours=2),
            cold_start=timedelta(days=36500),
        )
        m1 = incremental_sync(spark, fetch_range, target, now=t_split, **kw)
        m2 = incremental_sync(spark, fetch_range, target, now=t_end, **kw)
        out = spark.read.parquet(target).select(
            "instrument",
            F.col("bucket_ts").alias("hour_ts"),
            "open", "high", "low", "close", "n_ticks",
            F.lit(m1["fetched"]).cast("long").alias("w1_fetched"),
            F.lit(m1["inserted"]).cast("long").alias("w1_inserted"),
            F.lit(m1["updated"]).cast("long").alias("w1_updated"),
            F.lit(m2["fetched"]).cast("long").alias("w2_fetched"),
            F.lit(m2["inserted"]).cast("long").alias("w2_inserted"),
            F.lit(m2["updated"]).cast("long").alias("w2_updated"),
        )
        # pin the result in the session before the staging dir vanishes
        return materialize(out)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _hourly_cte_sql(prefix: str, where: str = "") -> str:
    """The hourly-candle CTE pair under caller-chosen names, optionally
    over a truncated event stream (the wave-1 'visible so far' view)."""
    return f"""
{prefix}ranked AS (
    SELECT event_type AS instrument, date_trunc('hour', ts) AS h, value,
           row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                              ORDER BY ts, event_id) AS ra,
           row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                              ORDER BY ts DESC, event_id DESC) AS rd
    FROM events {where}
),
{prefix}hourly AS (
    SELECT instrument, h,
           max(CASE WHEN ra = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rd = 1 THEN value END) AS close,
           count(*) AS n_ticks
    FROM {prefix}ranked GROUP BY 1, 2
)"""


def oracle_collection_lifecycle_twin() -> str:
    return f"""
WITH clock AS (
    SELECT mx AS t_split
    FROM (
        SELECT date_trunc('hour', ts) AS h, event_type, max(ts) AS mx
        FROM events
        GROUP BY 1, 2 HAVING count(*) >= 2
        ORDER BY h DESC, event_type DESC LIMIT 1
    )
),
{_hourly_cte_sql("w1", "WHERE ts < (SELECT t_split FROM clock)")},
{_hourly_cte_sql("f")},
wm AS (SELECT max(h) - INTERVAL 2 HOUR AS start FROM w1hourly),
w2 AS (SELECT * FROM fhourly WHERE h >= (SELECT start FROM wm)),
conv AS (
    SELECT * FROM w2
    UNION ALL
    SELECT w1.* FROM w1hourly w1
    WHERE NOT EXISTS (
        SELECT 1 FROM w2
        WHERE w2.instrument = w1.instrument AND w2.h = w1.h
    )
),
m AS (
    SELECT
        (SELECT count(*) FROM w1hourly) AS w1_fetched,
        (SELECT count(*) FROM w2) AS w2_fetched,
        (SELECT count(*) FROM w2 JOIN w1hourly w1
         ON w2.instrument = w1.instrument AND w2.h = w1.h) AS w2_updated
)
SELECT instrument, h AS hour_ts, open, high, low, close, n_ticks,
       CAST(w1_fetched AS BIGINT) AS w1_fetched,
       CAST(w1_fetched AS BIGINT) AS w1_inserted,
       CAST(0 AS BIGINT) AS w1_updated,
       CAST(w2_fetched AS BIGINT) AS w2_fetched,
       CAST(w2_fetched - w2_updated AS BIGINT) AS w2_inserted,
       CAST(w2_updated AS BIGINT) AS w2_updated
FROM conv, m
"""


def _finalize(sessions: DataFrame) -> DataFrame:
    return sessions.select(
        *[
            F.col(c).cast("long").alias(c)
            if c in ("chhightime", "chlowtime")
            else F.col(c)
            for c in SESSION_COLS
        ]
    )


def daily_sessions(spark: SparkSession, sf_dir: str, min_rows: int = DAILY_MIN_HOURS) -> DataFrame:
    hourly = hourly_candles(spark, sf_dir)
    out = session_ohlc(
        hourly,
        session_start=T.daily_session_start(F.col("bucket_ts")),
        keys=("instrument",),
        time_col="bucket_ts",
        min_rows=min_rows,
    )
    return out.withColumnRenamed("session_start", "datetime")


def q_daily_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _finalize(daily_sessions(spark, sf_dir)).withColumn(
        "session_hours", F.lit(24)
    )


def q_weekly_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_sessions(spark, sf_dir)
    out = session_ohlc(
        daily,
        session_start=T.weekly_session_start(F.col("datetime")),
        keys=("instrument",),
        time_col="datetime",
        min_rows=WEEKLY_MIN_DAYS,
    )
    return _finalize(out.drop("datetime").withColumnRenamed("session_start", "datetime")).withColumn(
        "session_hours", F.lit(168)
    )


def q_monthly_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_sessions(spark, sf_dir)
    out = session_ohlc(
        daily,
        session_start=T.monthly_session_start(F.col("datetime")),
        keys=("instrument",),
        time_col="datetime",
        min_rows=MONTHLY_MIN_DAYS,
    )
    out = out.drop("datetime").withColumnRenamed("session_start", "datetime")
    end = T.monthly_session_end(F.col("datetime"))
    secs = F.unix_timestamp(end) - F.unix_timestamp(F.col("datetime"))
    return (
        _finalize(out)
        .withColumn("session_end", end)
        .withColumn("counthours", (secs / 3600).cast("long"))
        .withColumn("countdays", (secs / 86400).cast("long"))
        .withColumn("year", F.year(F.col("datetime")))
        .withColumn("month", F.month(F.col("datetime")))
    )


# ---------------------------------------------------------------------------
# DuckDB oracles — same pipeline, windowed-SQL formulation.
# ---------------------------------------------------------------------------

HOURLY_CTE = """
ranked AS (
    SELECT event_type AS instrument, date_trunc('hour', ts) AS h, value,
           row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                              ORDER BY ts, event_id) AS ra,
           row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                              ORDER BY ts DESC, event_id DESC) AS rd
    FROM events
),
hourly AS (
    SELECT instrument, h,
           max(CASE WHEN ra = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rd = 1 THEN value END) AS close,
           count(*) AS n_ticks
    FROM ranked GROUP BY 1, 2
)
"""


def _session_agg_sql(src: str, start_expr: str, time_col: str, min_rows: int) -> str:
    """CTE chain: assign session_start, index rows, aggregate A1 metrics.

    Produces columns: instrument, datetime, open/high/low/close, move,
    chhigh/chlow/chclose, chmax, chhightime, chlowtime, firstextremumtype.
    """
    pct = lambda target: (  # noqa: E731
        f"CASE WHEN open = 0 THEN 0.0 ELSE "
        f"{sql_round_half_away(f'(({target} - open) / open * 100.0)', 4)} END"
    )
    return f"""
sess AS (
    SELECT instrument, {start_expr.format(ts=time_col)} AS session_start, {time_col} AS t,
           open, high, low, close
    FROM {src}
),
idxed AS (
    SELECT *,
           row_number() OVER (PARTITION BY instrument, session_start ORDER BY t) - 1 AS idx,
           row_number() OVER (PARTITION BY instrument, session_start ORDER BY t DESC) AS rdx,
           max(high) OVER (PARTITION BY instrument, session_start) AS shigh,
           min(low)  OVER (PARTITION BY instrument, session_start) AS slow
    FROM sess
),
rolled AS (
    SELECT instrument, session_start AS datetime,
           max(CASE WHEN idx = 0 THEN open END) AS open,
           max(high) AS high,
           min(low) AS low,
           max(CASE WHEN rdx = 1 THEN close END) AS close,
           min(CASE WHEN high = shigh THEN idx END) AS chhightime,
           min(CASE WHEN low = slow THEN idx END) AS chlowtime,
           count(*) AS n
    FROM idxed
    GROUP BY 1, 2
    HAVING count(*) >= {min_rows}
),
metrics AS (
    SELECT instrument, datetime, open, high, low, close,
           high - low AS move,
           {pct('high')} AS chhigh,
           {pct('low')} AS chlow,
           {pct('close')} AS chclose,
           chhightime, chlowtime
    FROM rolled
),
final AS (
    SELECT instrument, datetime, open, high, low, close, move,
           chhigh, chlow, chclose,
           CASE WHEN abs(chhigh) > abs(chlow) THEN chhigh ELSE chlow END AS chmax,
           chhightime, chlowtime,
           CASE WHEN chhightime < chlowtime THEN 'HIGH'
                WHEN chlowtime < chhightime THEN 'LOW'
                WHEN abs(chhigh) >= abs(chlow) THEN 'HIGH'
                ELSE 'LOW' END AS firstextremumtype
    FROM metrics
)
"""


_FINAL_COLS = ("instrument, datetime, open, high, low, close, move, chhigh, "
               "chlow, chclose, chmax, chhightime, chlowtime, firstextremumtype")


def oracle_hourly_candles() -> str:
    return (
        f"WITH {HOURLY_CTE} "
        "SELECT instrument, h AS hour_ts, open, high, low, close, n_ticks FROM hourly"
    )


def oracle_daily_sessions() -> str:
    daily = _session_agg_sql(
        "hourly", T.sql_daily_session_start("{ts}"), "h", DAILY_MIN_HOURS
    )
    return (
        f"WITH {HOURLY_CTE}, {daily} "
        f"SELECT {_FINAL_COLS}, 24 AS session_hours FROM final"
    )


def _daily_base_cte() -> str:
    """hourly + daily rollup renamed so a second rollup can stack on top."""
    daily = _session_agg_sql(
        "hourly", T.sql_daily_session_start("{ts}"), "h", DAILY_MIN_HOURS
    )
    return (
        f"{HOURLY_CTE}, {daily}, "
        "daily AS (SELECT instrument, datetime, open, high, low, close FROM final)"
    )


def oracle_weekly_sessions() -> str:
    weekly = _session_agg_sql(
        "daily", T.sql_weekly_session_start("{ts}"), "datetime", WEEKLY_MIN_DAYS
    )
    # rename the inner CTEs to avoid collision with the daily-level ones
    weekly = (
        weekly.replace("sess AS", "wsess AS")
        .replace("idxed", "widxed")
        .replace("rolled", "wrolled")
        .replace("metrics", "wmetrics")
        .replace("final AS", "wfinal AS")
        .replace("FROM wsess", "FROM wsess")
        .replace("FROM final", "FROM wfinal")
    )
    weekly = weekly.replace("FROM sess", "FROM wsess").replace(
        "FROM metrics", "FROM wmetrics"
    )
    return (
        f"WITH {_daily_base_cte()}, {weekly} "
        f"SELECT {_FINAL_COLS}, 168 AS session_hours FROM wfinal"
    )


def oracle_monthly_sessions() -> str:
    monthly = _session_agg_sql(
        "daily", T.sql_monthly_session_start("{ts}"), "datetime", MONTHLY_MIN_DAYS
    )
    monthly = (
        monthly.replace("sess AS", "msess AS")
        .replace("idxed", "midxed")
        .replace("rolled", "mrolled")
        .replace("metrics", "mmetrics")
        .replace("final AS", "mfinal AS")
    )
    monthly = monthly.replace("FROM sess", "FROM msess").replace(
        "FROM metrics", "FROM mmetrics"
    )
    end = T.sql_monthly_session_end("datetime")
    return f"""
WITH {_daily_base_cte()}, {monthly}
SELECT {_FINAL_COLS},
       {end} AS session_end,
       CAST((epoch({end}) - epoch(datetime)) / 3600 AS BIGINT) AS counthours,
       CAST((epoch({end}) - epoch(datetime)) / 86400 AS BIGINT) AS countdays,
       CAST(year(datetime) AS INTEGER) AS year,
       CAST(month(datetime) AS INTEGER) AS month
FROM mfinal
"""


def q_candle_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-over-hour close returns per instrument (lag window).

    Composes the candle rollup with a per-instrument LAG — the canonical
    time-series derivation the reference's %change family (SURVEY §2.5 A2)
    implies but never materializes. Partitioned by instrument so there is
    no global sort; the window reuses the (instrument) shuffle the candle
    aggregate already produced.
    """
    from pyspark.sql import Window

    c = hourly_candles(spark, sf_dir)
    w = Window.partitionBy("instrument").orderBy("bucket_ts")
    from ..functions.rounding import round_half_away

    # ret must reference the materialized prev_close column, not the lag
    # expression itself — a window expr placed after the filter would
    # re-evaluate over the filtered rows and null the new first row.
    prev = F.col("prev_close")
    ret = (F.col("close") - prev) / F.nullif(prev, F.lit(0.0)) * F.lit(100.0)
    return (
        c.withColumn("prev_close", F.lag("close").over(w))
        .where(F.col("prev_close").isNotNull())
        .select(
            "instrument",
            F.col("bucket_ts").alias("hour_ts"),
            "close",
            "prev_close",
            round_half_away(ret, 4).alias("ret_pct"),
        )
    )


def oracle_candle_returns() -> str:
    ret = "(close - prev_close) / nullif(prev_close, 0) * 100"
    return (
        f"WITH {HOURLY_CTE}, "
        "lagged AS ( "
        "    SELECT instrument, h, close, "
        "           lag(close) OVER (PARTITION BY instrument ORDER BY h) AS prev_close "
        "    FROM hourly "
        ") "
        "SELECT instrument, h AS hour_ts, close, prev_close, "
        f"       {sql_round_half_away(ret, 4)} AS ret_pct "
        "FROM lagged WHERE prev_close IS NOT NULL"
    )


def q_ewma_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential moving average of hourly closes (alpha = 1/2) per
    instrument — the classic smoothing the reference's session math stops
    short of. alpha = 0.5 is an exact binary fraction, so the recurrence
    ``ewma = (close + ewma_prev) / 2`` is pure IEEE adds/halvings: a
    left fold over the time-ordered close list gives bit-identical
    results in any engine — no rounding shim needed.

    Shape: one groupBy collects each instrument's (hour, close) series
    (bounded: hours per instrument, not events) and the fold is a
    per-row higher-order function. The heavy events->hourly reduction
    underneath is the usual single-shuffle partial aggregate."""
    hourly = hourly_candles(spark, sf_dir)
    g = hourly.groupBy("instrument").agg(
        F.array_sort(
            F.collect_list(F.struct("bucket_ts", "close"))
        ).alias("series"),
        F.count(F.lit(1)).alias("n_hours"),
        F.max("bucket_ts").alias("last_ts"),
    )
    ewma = F.aggregate(
        F.col("series"),
        F.lit(None).cast("double"),
        lambda acc, s: F.when(acc.isNull(), s["close"]).otherwise(
            (acc + s["close"]) / F.lit(2.0)
        ),
    )
    return g.select("instrument", "n_hours", "last_ts", ewma.alias("ewma_close"))


def oracle_ewma_close() -> str:
    # list_reduce without init seeds the accumulator with the first
    # element — identical to the Spark fold's null-init "first wins" arm
    return (
        f"WITH {HOURLY_CTE} "
        """
SELECT instrument, CAST(count(*) AS BIGINT) AS n_hours, max(h) AS last_ts,
       list_reduce(list(close ORDER BY h), (acc, x) -> (acc + x) / 2)
           AS ewma_close
FROM hourly GROUP BY instrument
"""
    )


RESAMPLE_SECONDS = 4 * 3600  # hourly -> 4h bars


def q_candle_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC re-granularization (hourly -> 4h bars): the hypertable
    ``time_bucket`` rollup every candle store serves. Builds on the
    hourly candles and aggregates order-free — open/close are
    min_by/max_by on the (unique per instrument) hour timestamp, so the
    rollup is one map-side-combinable groupBy stacked on the hourly
    aggregate: 2 shuffles total, no windows over the coarser grain."""
    hourly = hourly_candles(spark, sf_dir)
    bar = F.timestamp_seconds(
        F.floor(F.unix_timestamp("bucket_ts") / RESAMPLE_SECONDS)
        * RESAMPLE_SECONDS
    )
    return (
        hourly.withColumn("bar_ts", bar)
        .groupBy("instrument", "bar_ts")
        .agg(
            F.min_by("open", F.col("bucket_ts")).alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", F.col("bucket_ts")).alias("close"),
            F.sum("n_ticks").cast("long").alias("n_ticks"),
            F.count(F.lit(1)).cast("long").alias("n_hours"),
        )
    )


def oracle_candle_resample() -> str:
    return f"""
WITH {HOURLY_CTE},
bars AS (
    SELECT instrument,
           make_timestamp(CAST(floor(epoch(h) / {RESAMPLE_SECONDS})
                               * {RESAMPLE_SECONDS} AS BIGINT)
                          * 1000000) AS bar_ts,
           h, open, high, low, close, n_ticks,
           row_number() OVER (PARTITION BY instrument,
                              floor(epoch(h) / {RESAMPLE_SECONDS})
                              ORDER BY h ASC) AS ra,
           row_number() OVER (PARTITION BY instrument,
                              floor(epoch(h) / {RESAMPLE_SECONDS})
                              ORDER BY h DESC) AS rd
    FROM hourly
)
SELECT instrument, bar_ts,
       max(CASE WHEN ra = 1 THEN open END) AS open,
       max(high) AS high,
       min(low) AS low,
       max(CASE WHEN rd = 1 THEN close END) AS close,
       CAST(SUM(n_ticks) AS BIGINT) AS n_ticks,
       count(*) AS n_hours
FROM bars GROUP BY 1, 2
"""


def q_realized_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC volatility estimators per instrument over hourly candles:
    close-close realized variance, Parkinson (high/low range), and
    Garman-Klass. Per-candle terms are 9-dp DECIMAL before summation
    (associative, partition-independent); the lag window is
    instrument-partitioned (calendar-bounded, same class as
    ewma_close); constants are shared compile-time Python floats so
    both engines multiply identical doubles."""
    import math

    from ..functions.rounding import round_half_away

    four_ln2 = 4.0 * math.log(2.0)
    gk_c = 2.0 * math.log(2.0) - 1.0
    hourly = hourly_candles(spark, sf_dir)
    w = Window.partitionBy("instrument").orderBy("bucket_ts")
    pc = F.lag("close").over(w)
    r_cc = F.log(F.col("close") / pc)
    r_hl = F.log(F.col("high") / F.col("low"))
    r_co = F.log(F.col("close") / F.col("open"))
    t_cc = F.when(pc.isNotNull(), round_half_away(r_cc * r_cc, 9)).cast(
        "decimal(28,9)"
    )
    t_park = round_half_away(r_hl * r_hl, 9).cast("decimal(28,9)")
    t_gk = round_half_away(0.5 * r_hl * r_hl - gk_c * r_co * r_co, 9).cast(
        "decimal(28,9)"
    )
    terms = hourly.select(
        "instrument",
        t_cc.alias("t_cc"), t_park.alias("t_park"), t_gk.alias("t_gk"),
    )
    return terms.groupBy("instrument").agg(
        F.count(F.lit(1)).cast("long").alias("n_candles"),
        round_half_away(
            F.sum(F.col("t_cc").cast("decimal(38,9)")).cast("double"), 6
        ).alias("rv_cc"),
        round_half_away(
            F.sum(F.col("t_park").cast("decimal(38,9)")).cast("double")
            / four_ln2,
            6,
        ).alias("rv_parkinson"),
        round_half_away(
            F.sum(F.col("t_gk").cast("decimal(38,9)")).cast("double"), 6
        ).alias("rv_gk"),
    )


def oracle_realized_vol() -> str:
    import math

    from ..functions.rounding import sql_round_half_away

    four_ln2 = 4.0 * math.log(2.0)
    gk_c = 2.0 * math.log(2.0) - 1.0
    t_cc = sql_round_half_away("ln(close / pc) * ln(close / pc)", 9)
    t_park = sql_round_half_away("ln(high / low) * ln(high / low)", 9)
    t_gk = sql_round_half_away(
        f"0.5 * ln(high / low) * ln(high / low) "
        f"- {gk_c!r} * ln(close / open) * ln(close / open)",
        9,
    )
    return f"""
WITH {HOURLY_CTE},
prevs AS (
    SELECT instrument, open, high, low, close,
           lag(close) OVER (PARTITION BY instrument ORDER BY h) AS pc
    FROM hourly
),
terms AS (
    SELECT instrument,
           CASE WHEN pc IS NOT NULL
                THEN CAST({t_cc} AS DECIMAL(28,9)) END AS t_cc,
           CAST({t_park} AS DECIMAL(28,9)) AS t_park,
           CAST({t_gk} AS DECIMAL(28,9)) AS t_gk
    FROM prevs
)
SELECT instrument, CAST(count(*) AS BIGINT) AS n_candles,
       {sql_round_half_away("CAST(SUM(CAST(t_cc AS DECIMAL(38,9))) AS DOUBLE)", 6)} AS rv_cc,
       {sql_round_half_away(f"CAST(SUM(CAST(t_park AS DECIMAL(38,9))) AS DOUBLE) / {four_ln2!r}", 6)} AS rv_parkinson,
       {sql_round_half_away("CAST(SUM(CAST(t_gk AS DECIMAL(38,9))) AS DOUBLE)", 6)} AS rv_gk
FROM terms GROUP BY 1
"""


def af_stream_candles_replay_twin(
    spark: SparkSession, sf_dir: str, scratch: str
) -> dict[str, DataFrame]:
    """Per-trigger apply path of the candles replay twin (VERDICT r12
    #2): stage the source, seed gold with the leading time slice
    through the REAL apply, then audit the exact lazy rebuild frame a
    trailing slice's trigger runs — the batch's hour range as a literal
    range predicate into the source scan, broadcast semi-join on the
    batch's (instrument, hour) buckets, OHLC rollup."""
    from ..streaming.candles import (
        candles_apply_batch,
        candles_rebuild_frame,
    )

    src, gold = f"{scratch}/events", f"{scratch}/gold"
    ev = load_table(spark, sf_dir, "events")
    ev.repartitionByRange(3, "ts").write.parquet(src)
    staged = spark.read.parquet(src)
    b = staged.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
    t1 = b["lo"] + (b["hi"] - b["lo"]) / 3
    candles_apply_batch(spark, src, gold, staged.where(F.col("ts") < t1))
    return {
        "apply_rebuild": candles_rebuild_frame(
            spark, src, staged.where(F.col("ts") >= t1)
        )[0]
    }
