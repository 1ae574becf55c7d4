"""Option-chain query: synthesize deterministic option trades from the
benchmark ``events`` table, round-trip instrument names through the F1
parser, and run the A5 hourly option-OHLC aggregate.

The synthesis is pure deterministic column arithmetic computed identically
by Spark and the DuckDB oracle, so the comparison exercises: string
formatting, regexp extraction (F1), date construction, the null-skipping
ordered firsts, decimal-exact VWAP/volume, the ordered trade-id CSV,
hours-to-expiry and moneyness distance — i.e. nearly all of SURVEY.md §2.8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import instruments as I
from ..operators.option_ohlc import option_ohlc_hourly
from ..sources.tables import load_table, parallelized

from ..functions.instruments import MONTH_NAMES as _MONTH_NAMES


def _month_name(month_col):
    return F.element_at(F.array(*[F.lit(m) for m in _MONTH_NAMES]), month_col)


def synth_trades(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic option-trade stream derived from events."""
    # name synthesis + F1 re-parse are regexp/string-heavy map work; make
    # sure it runs at full parallelism despite the single-row-group scan
    ev = parallelized(spark, load_table(spark, sf_dir, "events"))
    expiry = F.date_add(
        F.lit("2024-02-02").cast("date"), ((F.col("user_id") % 4) * 10).cast("int")
    )
    strike = ((F.col("user_id") % 20 + 1) * 100).cast("int")
    opt_type = F.when(F.col("event_id") % 2 == 0, "C").otherwise("P")
    name = F.concat(
        F.lit("BTC-"),
        F.dayofmonth(expiry).cast("string"),
        _month_name(F.month(expiry)),
        (F.year(expiry) % 100).cast("string"),
        F.lit("-"),
        strike.cast("string"),
        F.lit("-"),
        opt_type,
    )
    return ev.select(
        F.col("event_id").cast("string").alias("trade_id"),
        F.col("event_id").alias("trade_seq"),
        F.col("ts").alias("timestamp"),
        name.alias("instrument_name"),
        F.col("value").alias("price"),
        ((F.col("event_id") % 10) + 1).cast("double").alias("amount"),
        F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value") * 0.5)
        .alias("iv"),
        F.when(F.col("event_id") % 5 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value") * 0.99)
        .alias("mark_price"),
        F.when(F.col("event_id") % 11 == 0, F.lit(None).cast("double"))
        .otherwise(F.lit(2000.0) + F.col("value"))
        .alias("index_price"),
    )


def q_option_chain_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse instrument names (F1), then run the A5 aggregate."""
    from ..operators.materialize import materialize

    trades = synth_trades(spark, sf_dir)
    # Materialize the parsed trades (the silver table of the reference's
    # bronze->silver->gold lifecycle) before filtering: the P8 predicate
    # references expiry_date, and without a lineage barrier Catalyst
    # pushes isnotnull(<full regex+make_date CASE>) through every project
    # AND the parallelizing exchange, inlining it into the FileScan's
    # DataFilters — where it runs serially on the 1-3 scan partitions
    # (measured ~3 s of the query at sf0.1). Behind the barrier, parse
    # runs once at full parallelism and the filter is an attribute read.
    parsed = materialize(I.with_parsed_instrument(trades))
    out = option_ohlc_hourly(
        parsed.where(F.col("expiry_date").isNotNull())  # P8 skip-unparseable
    )
    # DATE-typed outputs round-trip differently through pandas/arrow in the
    # two engines; emit midnight timestamps for comparison stability.
    return out.withColumn("expiry_date", F.col("expiry_date").cast("timestamp"))


_SYNTH_SQL = """
trades AS (
    SELECT
        CAST(event_id AS VARCHAR) AS trade_id,
        event_id AS trade_seq,
        ts AS "timestamp",
        'BTC-'
          || CAST(day(expiry) AS VARCHAR)
          || (CASE month(expiry)
                WHEN 1 THEN 'JAN' WHEN 2 THEN 'FEB' WHEN 3 THEN 'MAR'
                WHEN 4 THEN 'APR' WHEN 5 THEN 'MAY' WHEN 6 THEN 'JUN'
                WHEN 7 THEN 'JUL' WHEN 8 THEN 'AUG' WHEN 9 THEN 'SEP'
                WHEN 10 THEN 'OCT' WHEN 11 THEN 'NOV' ELSE 'DEC' END)
          || CAST(year(expiry) % 100 AS VARCHAR)
          || '-' || CAST(strike AS VARCHAR) || '-' || opt_type AS instrument_name,
        value AS price,
        CAST((event_id % 10) + 1 AS DOUBLE) AS amount,
        CASE WHEN event_id % 7 = 0 THEN NULL ELSE value * 0.5 END AS iv,
        CASE WHEN event_id % 5 = 0 THEN NULL ELSE value * 0.99 END AS mark_price,
        CASE WHEN event_id % 11 = 0 THEN NULL ELSE 2000.0 + value END AS index_price
    FROM (
        SELECT *,
            DATE '2024-02-02' + CAST((user_id % 4) * 10 AS INT) AS expiry,
            CAST((user_id % 20 + 1) * 100 AS INTEGER) AS strike,
            CASE WHEN event_id % 2 = 0 THEN 'C' ELSE 'P' END AS opt_type
        FROM events
    )
),
parsed AS (
    SELECT *,
        CAST(2000 + CAST(regexp_extract(instrument_name,
            '(\\w+)-(\\d+)([A-Z]+)(\\d+)-(\\d+)-([CP])', 4) AS INT) AS INT) AS p_year,
        (CASE regexp_extract(instrument_name,
            '(\\w+)-(\\d+)([A-Z]+)(\\d+)-(\\d+)-([CP])', 3)
            WHEN 'JAN' THEN 1 WHEN 'FEB' THEN 2 WHEN 'MAR' THEN 3 WHEN 'APR' THEN 4
            WHEN 'MAY' THEN 5 WHEN 'JUN' THEN 6 WHEN 'JUL' THEN 7 WHEN 'AUG' THEN 8
            WHEN 'SEP' THEN 9 WHEN 'OCT' THEN 10 WHEN 'NOV' THEN 11 WHEN 'DEC' THEN 12
         END) AS p_month,
        CAST(regexp_extract(instrument_name,
            '(\\w+)-(\\d+)([A-Z]+)(\\d+)-(\\d+)-([CP])', 2) AS INT) AS p_day,
        CAST(regexp_extract(instrument_name,
            '(\\w+)-(\\d+)([A-Z]+)(\\d+)-(\\d+)-([CP])', 5) AS INTEGER) AS p_strike,
        regexp_extract(instrument_name,
            '(\\w+)-(\\d+)([A-Z]+)(\\d+)-(\\d+)-([CP])', 6) AS p_type
    FROM trades
),
ptrades AS (
    SELECT trade_id, trade_seq, "timestamp", instrument_name, price, amount,
           iv, mark_price, index_price,
           CAST(make_date(p_year, p_month, p_day) AS TIMESTAMP) AS expiry_date,
           p_strike AS strike, p_type AS option_type
    FROM parsed
    WHERE p_month IS NOT NULL
)
"""


def oracle_option_chain_ohlc() -> str:
    return f"""
WITH {_SYNTH_SQL},
ranked AS (
    SELECT *,
        date_trunc('hour', "timestamp") AS hour_timestamp,
        row_number() OVER (PARTITION BY date_trunc('hour', "timestamp"), instrument_name
                           ORDER BY "timestamp", trade_seq) AS ra,
        row_number() OVER (PARTITION BY date_trunc('hour', "timestamp"), instrument_name
                           ORDER BY "timestamp" DESC, trade_seq DESC) AS rd,
        row_number() OVER (PARTITION BY date_trunc('hour', "timestamp"), instrument_name,
                               (iv IS NULL)
                           ORDER BY "timestamp", trade_seq) AS ra_iv,
        row_number() OVER (PARTITION BY date_trunc('hour', "timestamp"), instrument_name,
                               (iv IS NULL)
                           ORDER BY "timestamp" DESC, trade_seq DESC) AS rd_iv,
        row_number() OVER (PARTITION BY date_trunc('hour', "timestamp"), instrument_name,
                               (mark_price IS NULL)
                           ORDER BY "timestamp", trade_seq) AS ra_mp,
        row_number() OVER (PARTITION BY date_trunc('hour', "timestamp"), instrument_name,
                               (mark_price IS NULL)
                           ORDER BY "timestamp" DESC, trade_seq DESC) AS rd_mp,
        row_number() OVER (PARTITION BY date_trunc('hour', "timestamp"), instrument_name,
                               (index_price IS NULL)
                           ORDER BY "timestamp", trade_seq) AS ra_ip
    FROM ptrades
),
agg AS (
    SELECT hour_timestamp, instrument_name, expiry_date, strike, option_type,
        max(CASE WHEN ra = 1 THEN price END) AS open_price,
        max(price) AS high_price,
        min(price) AS low_price,
        max(CASE WHEN rd = 1 THEN price END) AS close_price,
        max(CASE WHEN ra_iv = 1 AND iv IS NOT NULL THEN iv END) AS open_iv,
        max(iv) AS high_iv,
        min(iv) AS low_iv,
        max(CASE WHEN rd_iv = 1 AND iv IS NOT NULL THEN iv END) AS close_iv,
        CAST(SUM(CAST(price AS DECIMAL(18,2)) * CAST(amount AS DECIMAL(14,2))) AS DOUBLE) AS pv,
        CAST(SUM(CAST(amount AS DECIMAL(14,2))) AS DOUBLE) AS volume,
        count(*) AS trade_count,
        string_agg(trade_id, ',' ORDER BY "timestamp", trade_seq) AS trade_ids,
        max(CASE WHEN ra_mp = 1 AND mark_price IS NOT NULL THEN mark_price END) AS mark_price_open,
        max(mark_price) AS mark_price_high,
        min(mark_price) AS mark_price_low,
        max(CASE WHEN rd_mp = 1 AND mark_price IS NOT NULL THEN mark_price END) AS mark_price_close,
        max(CASE WHEN ra_ip = 1 AND index_price IS NOT NULL THEN index_price END) AS index_price
    FROM ranked
    GROUP BY 1, 2, 3, 4, 5
)
SELECT hour_timestamp, instrument_name, expiry_date, strike, option_type,
    open_price, high_price, low_price, close_price,
    open_iv, high_iv, low_iv, close_iv,
    CASE WHEN volume = 0 THEN NULL ELSE pv / volume END AS vwap,
    volume, trade_count, trade_ids,
    mark_price_open, mark_price_high, mark_price_low, mark_price_close,
    index_price,
    greatest(CAST(1 AS BIGINT),
        CAST((epoch(CAST(expiry_date AS TIMESTAMP) + INTERVAL 8 HOUR)
              - epoch(hour_timestamp)) / 3600 AS BIGINT)) AS hours_to_expiry,
    CASE WHEN option_type = 'C'
             THEN (index_price - strike) / nullif(index_price, 0) * 100.0
         WHEN option_type = 'P'
             THEN (strike - index_price) / nullif(index_price, 0) * 100.0
         ELSE NULL END AS distance
FROM agg
"""


# ---------------------------------------------------------------------------
# Derived chain analytics (round 4): the queries a user of the reference's
# option OHLC tables asks next — put/call flow, the IV smile, max pain.
# All run over the same deterministic synthetic chain as
# ``q_option_chain_ohlc`` (reference src/pipeline/collectors/deribit.py is
# the trade source these model).
# ---------------------------------------------------------------------------

from ..functions.rounding import dec_sum, round_half_away, sql_dec_sum, sql_round_half_away


def _chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(expiry, strike, opt_type, amount, iv) rows of the synthetic chain
    — the pre-name columns of :func:`synth_trades`, so no F1 round-trip
    is needed for aggregate analytics. NOT parallelized: the per-row
    work is a handful of arithmetic ops, so a repartition would cost
    more than the scan's under-parallelism (measured: put_call_ratio
    0.81 -> 0.36 s without it; the map-side partial aggregate soaks the
    fan-in either way)."""
    ev = load_table(spark, sf_dir, "events")
    expiry = F.date_add(
        F.lit("2024-02-02").cast("date"), ((F.col("user_id") % 4) * 10).cast("int")
    )
    return ev.select(
        expiry.cast("timestamp").alias("expiry"),
        ((F.col("user_id") % 20 + 1) * 100).cast("int").alias("strike"),
        F.when(F.col("event_id") % 2 == 0, "C").otherwise("P").alias("opt_type"),
        ((F.col("event_id") % 10) + 1).cast("double").alias("amount"),
        F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value") * 0.5)
        .alias("iv"),
    )


_CHAIN_SQL = """
chain AS (
    SELECT CAST(DATE '2024-02-02' + CAST((user_id % 4) * 10 AS INT)
                AS TIMESTAMP) AS expiry,
           CAST((user_id % 20 + 1) * 100 AS INT) AS strike,
           CASE WHEN event_id % 2 = 0 THEN 'C' ELSE 'P' END AS opt_type,
           CAST((event_id % 10) + 1 AS DOUBLE) AS amount,
           CASE WHEN event_id % 7 = 0 THEN NULL ELSE value * 0.5 END AS iv
    FROM events
)
"""


def q_put_call_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Put/call volume ratio per expiry — the chain-level sentiment
    probe. One map-side-combined groupBy over the compact (expiry) key;
    exact decimal volume sums, one double division at the end."""
    c = _chain(spark, sf_dir)
    put_vol = dec_sum(F.when(F.col("opt_type") == "P", F.col("amount")))
    call_vol = dec_sum(F.when(F.col("opt_type") == "C", F.col("amount")))
    return c.groupBy("expiry").agg(
        put_vol.alias("put_volume"),
        call_vol.alias("call_volume"),
        round_half_away(put_vol / F.nullif(call_vol, F.lit(0.0)), 6).alias(
            "put_call_ratio"
        ),
        F.count(F.lit(1)).alias("n_trades"),
    )


def oracle_put_call_ratio() -> str:
    pv = sql_dec_sum("CASE WHEN opt_type = 'P' THEN amount END")
    cv = sql_dec_sum("CASE WHEN opt_type = 'C' THEN amount END")
    ratio = sql_round_half_away(f"{pv} / nullif({cv}, 0.0)", 6)
    return f"""
WITH {_CHAIN_SQL}
SELECT expiry, {pv} AS put_volume, {cv} AS call_volume,
       {ratio} AS put_call_ratio, count(*) AS n_trades
FROM chain GROUP BY expiry
"""


def q_iv_smile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IV smile: null-skipping average implied vol per (expiry, strike)
    with quote counts and traded volume — the P5 null-skip over the
    derived chain.

    The mean is the exact DECIMAL(38,6) sum of the quotes cast to DOUBLE,
    then divided in DOUBLE by the quote count (one IEEE division), then
    rounded half away from zero to 6 dp; :func:`oracle_iv_smile` states
    the same steps.  A DECIMAL division would round the quotient at its
    result scale in Spark but not in DuckDB (which divides in DOUBLE), so
    a mean ending in 5 at the 7th decimal rounded apart."""
    c = _chain(spark, sf_dir)
    n_iv = F.count(F.col("iv"))
    return c.groupBy("expiry", "strike").agg(
        round_half_away(dec_sum(F.col("iv")) / n_iv, 6).alias("avg_iv"),
        n_iv.alias("n_iv_quotes"),
        dec_sum(F.col("amount")).alias("volume"),
    )


def oracle_iv_smile() -> str:
    # DECIMAL sum cast to DOUBLE, divided in DOUBLE: see q_iv_smile
    avg_iv = sql_round_half_away(f"{sql_dec_sum('iv')} / COUNT(iv)", 6)
    return f"""
WITH {_CHAIN_SQL}
SELECT expiry, strike, {avg_iv} AS avg_iv,
       COUNT(iv) AS n_iv_quotes,
       {sql_dec_sum('amount')} AS volume
FROM chain GROUP BY expiry, strike
"""


def q_max_pain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max pain per expiry: the candidate settlement strike minimizing
    the chain's total intrinsic payoff, with traded volume as the
    open-interest proxy.

    Scale shape: open interest aggregates to the compact (expiry,
    strike, type) key first — the only pass over the trade stream — and
    the candidate x strike payoff matrix is |strikes|^2 per expiry
    (hundreds of rows), joined and reduced entirely on aggregates.
    Payoff arithmetic stays exact DECIMAL x INT; ties break to the
    lowest strike via struct-ordered min_by."""
    c = _chain(spark, sf_dir)
    oi = c.groupBy("expiry", "strike", "opt_type").agg(
        F.sum(F.col("amount").cast("decimal(38,6)")).alias("oi")
    )
    settles = oi.select("expiry", F.col("strike").alias("settle")).distinct()
    pain = (
        settles.join(oi, "expiry")
        .select(
            "expiry",
            "settle",
            F.when(
                (F.col("opt_type") == "C") & (F.col("settle") > F.col("strike")),
                F.col("oi") * (F.col("settle") - F.col("strike")),
            )
            .when(
                (F.col("opt_type") == "P") & (F.col("strike") > F.col("settle")),
                F.col("oi") * (F.col("strike") - F.col("settle")),
            )
            .otherwise(F.lit(0).cast("decimal(38,6)"))
            .alias("payoff"),
        )
        .groupBy("expiry", "settle")
        .agg(F.sum("payoff").alias("total_pain"))
    )
    best = F.struct(F.col("total_pain"), F.col("settle"))
    return pain.groupBy("expiry").agg(
        F.min_by(F.col("settle"), best).alias("max_pain_strike"),
        F.min(best).getField("total_pain").cast("double").alias("total_pain"),
    )


def oracle_max_pain() -> str:
    return f"""
WITH {_CHAIN_SQL},
oi AS (
    SELECT expiry, strike, opt_type,
           SUM(CAST(amount AS DECIMAL(38,6))) AS oi
    FROM chain GROUP BY 1, 2, 3
),
settles AS (SELECT DISTINCT expiry, strike AS settle FROM oi),
pain AS (
    SELECT s.expiry, s.settle,
           SUM(CASE WHEN o.opt_type = 'C' AND s.settle > o.strike
                        THEN o.oi * (s.settle - o.strike)
                    WHEN o.opt_type = 'P' AND o.strike > s.settle
                        THEN o.oi * (o.strike - s.settle)
                    ELSE CAST(0 AS DECIMAL(38,6)) END) AS total_pain
    FROM settles s JOIN oi o ON s.expiry = o.expiry
    GROUP BY 1, 2
),
ranked AS (
    SELECT expiry, settle, total_pain,
           row_number() OVER (PARTITION BY expiry
                              ORDER BY total_pain ASC, settle ASC) AS rk
    FROM pain
)
SELECT expiry, settle AS max_pain_strike,
       CAST(total_pain AS DOUBLE) AS total_pain
FROM ranked WHERE rk = 1
"""


# ---------------------------------------------------------------------------
# bs_greeks — Black-Scholes delta/gamma/vega over the synthetic chain
# ---------------------------------------------------------------------------

_BS_ASOF = "2024-01-15"   # valuation date (expiries are 2024-02-02 + k*10d)
_BS_SIGMA = 0.8           # flat vol: the greeks probe the MATH, not a surface


def q_bs_greeks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Black-Scholes greeks per (strike, type, expiry) over the
    deterministic synthetic chain (r = 0, flat sigma): d1/d2, call/put
    delta, gamma, vega. The normal CDF uses the Zelen-Severo
    polynomial (A&S 26.2.17) written as the SAME expression tree in
    both engines — ln/exp/sqrt on identical IEEE doubles — so the
    comparison pins the whole pricing stack bit-for-bit after 6 dp
    rounding. S_bar per group is a DECIMAL-summed average (exact,
    partition-independent); time-to-expiry counts days from a fixed
    valuation date. One map-side-combined groupBy; everything else is
    scan-level arithmetic."""
    import math

    from ..functions.rounding import round_half_away

    ev = load_table(spark, sf_dir, "events").where(
        (F.col("event_id") % 11 != 0) & F.col("value").isNotNull()
    )
    expiry = F.date_add(
        F.lit("2024-02-02").cast("date"), ((F.col("user_id") % 4) * 10).cast("int")
    )
    grouped = (
        ev.select(
            ((F.col("user_id") % 20 + 1) * 100).cast("int").alias("strike"),
            F.when(F.col("event_id") % 2 == 0, "C").otherwise("P").alias("opt_type"),
            expiry.alias("expiry_date"),
            (F.lit(2000.0) + F.col("value")).alias("index_price"),
        )
        .groupBy("strike", "opt_type", "expiry_date")
        .agg(
            F.count(F.lit(1)).alias("n_trades"),
            (
                F.sum(F.col("index_price").cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("s_bar"),
        )
        .where(F.col("s_bar") > 0)
    )
    t = (
        F.datediff(F.col("expiry_date"), F.lit(_BS_ASOF).cast("date")).cast("double")
        / 365.0
    )
    sig_rt = _BS_SIGMA * F.sqrt(t)
    d1 = (
        F.log(F.col("s_bar") / F.col("strike")) + 0.5 * _BS_SIGMA * _BS_SIGMA * t
    ) / sig_rt
    d2 = d1 - sig_rt
    inv_sqrt2pi = 1.0 / math.sqrt(2.0 * math.pi)
    pdf = F.exp(-(d1 * d1) / 2.0) * inv_sqrt2pi

    def ncdf(x):
        # Zelen-Severo 26.2.17 for x >= 0, reflected for x < 0
        ax = F.abs(x)
        k = 1.0 / (1.0 + 0.2316419 * ax)
        poly = k * (
            0.319381530
            + k * (-0.356563782 + k * (1.781477937 + k * (-1.821255978 + k * 1.330274429)))
        )
        phi_ax = F.exp(-(ax * ax) / 2.0) * inv_sqrt2pi
        upper = 1.0 - phi_ax * poly
        return F.when(x >= 0, upper).otherwise(1.0 - upper)

    delta = F.when(
        F.col("opt_type") == "C", ncdf(d1)
    ).otherwise(ncdf(d1) - 1.0)
    gamma = pdf / (F.col("s_bar") * sig_rt)
    vega = F.col("s_bar") * pdf * F.sqrt(t)
    return grouped.select(
        "strike",
        "opt_type",
        # timestamp, not date: pandas renders a DuckDB DATE as midnight
        # Timestamp while Spark DateType stays datetime.date — the
        # driver's canonical hash would then never match
        F.col("expiry_date").cast("timestamp").alias("expiry_date"),
        F.col("n_trades").cast("long").alias("n_trades"),
        round_half_away(F.col("s_bar"), 6).alias("s_bar"),
        round_half_away(d1, 6).alias("d1"),
        round_half_away(d2, 6).alias("d2"),
        round_half_away(delta, 6).alias("delta"),
        round_half_away(gamma, 6).alias("gamma"),
        round_half_away(vega, 6).alias("vega"),
    )


def oracle_bs_greeks() -> str:
    import math

    from ..functions.rounding import sql_round_half_away

    inv = 1.0 / math.sqrt(2.0 * math.pi)
    t = f"(date_diff('day', DATE '{_BS_ASOF}', expiry_date) / 365.0)"
    sig_rt = f"({_BS_SIGMA} * sqrt({t}))"
    d1 = f"((ln(s_bar / strike) + 0.5 * {_BS_SIGMA} * {_BS_SIGMA} * {t}) / {sig_rt})"
    d2 = f"({d1} - {sig_rt})"
    pdf = f"(exp(-({d1} * {d1}) / 2.0) * {inv!r})"

    def ncdf(x):
        ax = f"abs({x})"
        k = f"(1.0 / (1.0 + 0.2316419 * {ax}))"
        poly = (
            f"({k} * (0.319381530 + {k} * (-0.356563782 + {k} * "
            f"(1.781477937 + {k} * (-1.821255978 + {k} * 1.330274429)))))"
        )
        phi_ax = f"(exp(-({ax} * {ax}) / 2.0) * {inv!r})"
        upper = f"(1.0 - {phi_ax} * {poly})"
        return f"(CASE WHEN {x} >= 0 THEN {upper} ELSE 1.0 - {upper} END)"

    delta = f"(CASE WHEN opt_type = 'C' THEN {ncdf(d1)} ELSE {ncdf(d1)} - 1.0 END)"
    gamma = f"({pdf} / (s_bar * {sig_rt}))"
    vega = f"(s_bar * {pdf} * sqrt({t}))"
    return f"""
WITH grouped AS (
    SELECT CAST((user_id % 20 + 1) * 100 AS INT) AS strike,
           CASE WHEN event_id % 2 = 0 THEN 'C' ELSE 'P' END AS opt_type,
           DATE '2024-02-02' + INTERVAL ((user_id % 4) * 10) DAY AS expiry_date,
           CAST(count(*) AS BIGINT) AS n_trades,
           CAST(SUM(CAST(2000.0 + value AS DECIMAL(38,6))) AS DOUBLE) / count(*)
               AS s_bar
    FROM events
    WHERE event_id % 11 <> 0 AND value IS NOT NULL
    GROUP BY 1, 2, 3
)
SELECT strike, opt_type, CAST(expiry_date AS TIMESTAMP) AS expiry_date, n_trades,
       {sql_round_half_away('s_bar', 6)} AS s_bar,
       {sql_round_half_away(d1, 6)} AS d1,
       {sql_round_half_away(d2, 6)} AS d2,
       {sql_round_half_away(delta, 6)} AS delta,
       {sql_round_half_away(gamma, 6)} AS gamma,
       {sql_round_half_away(vega, 6)} AS vega
FROM grouped
WHERE s_bar > 0
"""


# --- implied volatility (fixed-iteration Newton) -----------------------------

IV_ITERS = 6
_IV_SIG0 = 0.5
_IV_LO, _IV_HI = 0.05, 3.0


def q_implied_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Implied vol recovered by a FIXED 6-step clamped Newton iteration
    (reference domain: the one number an options pipeline quotes).  The
    chain carries a known smile (sigma_true per strike), prices it with
    the same Zelen-Severo BS stack ``bs_greeks`` pinned cross-engine,
    then inverts: sig <- clamp(sig - (BS(sig) - P)/vega(sig)).  Fixed
    iteration count + clamping keeps the whole computation ONE
    deterministic expression pipeline — no data-dependent loop, no UDF —
    so Spark, DuckDB and the 6-dp hash agree bit-for-bit, and
    ``abs_err`` printing as 0.0 IS the convergence proof.  Strikes sit
    at 0.83-1.17 moneyness where Newton from 0.5 is contraction-safe;
    the clamp is the documented safety net, not a steady state.  Each
    iteration materializes d1/pdf/price/vega as COLUMNS (projection
    steps), keeping the Catalyst tree linear in the iteration count."""
    import math

    from ..functions.rounding import round_half_away

    ev = load_table(spark, sf_dir, "events").where(
        (F.col("event_id") % 11 != 0) & F.col("value").isNotNull()
    )
    expiry = F.date_add(
        F.lit("2024-02-02").cast("date"),
        ((F.col("user_id") % 4) * 10).cast("int"),
    )
    base = (
        ev.select(
            ((F.col("user_id") % 8 + 17) * 100).cast("int").alias("strike"),
            F.when(F.col("event_id") % 2 == 0, "C").otherwise("P").alias(
                "opt_type"
            ),
            expiry.alias("expiry_date"),
            (F.lit(2000.0) + F.col("value")).alias("index_price"),
        )
        .groupBy("strike", "opt_type", "expiry_date")
        .agg(
            F.count(F.lit(1)).alias("n_trades"),
            (
                F.sum(F.col("index_price").cast("decimal(38,6)")).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias("s_bar"),
        )
    )
    t = (
        F.datediff(F.col("expiry_date"), F.lit(_BS_ASOF).cast("date")).cast(
            "double"
        )
        / 365.0
    )
    sigma_true = 0.3 + (F.col("strike") / 100 % 5).cast("double") * 0.1
    inv_sqrt2pi = 1.0 / math.sqrt(2.0 * math.pi)

    # Expression staging (r14 optimization): the original inline form
    # evaluated the Zelen-Severo `upper` stack EIGHT times per price
    # (twice inside each ncdf's CASE, four ncdf's per call/put pair) —
    # ncdf(x) and ncdf(−x) share upper(|x|) bit-for-bit (abs(−x) ≡
    # abs(x)), so ONE staged column per d-value serves both signs and
    # both CASE branches.  Every staged expression below is the exact
    # subtree the inline form evaluated — naming a subtree as a column
    # does not change a single IEEE operation — so the output is
    # bit-identical (oracle re-verified); the tree just stops growing
    # ~8× per iteration.

    def upper_col(x):
        # upper(|x|) = 1 − φ(|x|)·poly(k(|x|)) — the one heavy stack
        ax = F.abs(x)
        k = 1.0 / (1.0 + 0.2316419 * ax)
        poly = k * (
            0.319381530
            + k
            * (
                -0.356563782
                + k * (1.781477937 + k * (-1.821255978 + k * 1.330274429))
            )
        )
        phi_ax = F.exp(-(ax * ax) / 2.0) * inv_sqrt2pi
        return 1.0 - phi_ax * poly

    def ncdf_from(x, u):
        # the inline ncdf's CASE, reading the staged upper column
        return F.when(x >= 0, u).otherwise(1.0 - u)

    def d_cols(sig):
        srt = sig * F.sqrt(F.col("t_years"))
        d1 = (
            F.log(F.col("s_bar") / F.col("strike"))
            + 0.5 * sig * sig * F.col("t_years")
        ) / srt
        return d1, d1 - srt

    def price_from(d1, d2, u1, u2):
        call = F.col("s_bar") * ncdf_from(d1, u1) - F.col(
            "strike"
        ) * ncdf_from(d2, u2)
        put = F.col("strike") * ncdf_from(-d2, u2) - F.col(
            "s_bar"
        ) * ncdf_from(-d1, u1)
        return F.when(F.col("opt_type") == "C", call).otherwise(put)

    def vega(d1):
        pdf = F.exp(-(d1 * d1) / 2.0) * inv_sqrt2pi
        return F.col("s_bar") * pdf * F.sqrt(F.col("t_years"))

    df = base.withColumn("t_years", t).withColumn("sigma_true", sigma_true)
    td1, td2 = d_cols(F.col("sigma_true"))
    df = (
        df.withColumn("td1", td1)
        .withColumn("td2", td2)
        .withColumn("tu1", upper_col(F.col("td1")))
        .withColumn("tu2", upper_col(F.col("td2")))
        .withColumn(
            "p_mkt",
            price_from(
                F.col("td1"), F.col("td2"), F.col("tu1"), F.col("tu2")
            ),
        )
        .withColumn("sig", F.lit(_IV_SIG0))
        .drop("td1", "td2", "tu1", "tu2")
    )
    for it in range(IV_ITERS):
        i1, i2 = d_cols(F.col("sig"))
        df = (
            df.withColumn("i1", i1)
            .withColumn("i2", i2)
            .withColumn("u1", upper_col(F.col("i1")))
            .withColumn("u2", upper_col(F.col("i2")))
        )
        step = F.col("sig") - (
            price_from(F.col("i1"), F.col("i2"), F.col("u1"), F.col("u2"))
            - F.col("p_mkt")
        ) / vega(F.col("i1"))
        df = df.withColumn(
            "sig",
            F.least(F.lit(_IV_HI), F.greatest(F.lit(_IV_LO), step)),
        ).drop("i1", "i2", "u1", "u2")
    return df.select(
        "strike",
        "opt_type",
        F.col("expiry_date").cast("timestamp").alias("expiry_date"),
        F.col("n_trades").cast("long").alias("n_trades"),
        round_half_away(F.col("s_bar"), 6).alias("s_bar"),
        round_half_away(F.col("sigma_true"), 6).alias("sigma_true"),
        round_half_away(F.col("p_mkt"), 6).alias("p_mkt"),
        round_half_away(F.col("sig"), 6).alias("iv"),
        round_half_away(F.abs(F.col("sig") - F.col("sigma_true")), 6).alias(
            "abs_err"
        ),
    )


def oracle_implied_vol() -> str:
    import math

    from ..functions.rounding import sql_round_half_away

    inv = 1.0 / math.sqrt(2.0 * math.pi)

    def ncdf(x):
        ax = f"abs({x})"
        k = f"(1.0 / (1.0 + 0.2316419 * {ax}))"
        poly = (
            f"({k} * (0.319381530 + {k} * (-0.356563782 + {k} * "
            f"(1.781477937 + {k} * (-1.821255978 + {k} * 1.330274429)))))"
        )
        phi_ax = f"(exp(-({ax} * {ax}) / 2.0) * {inv!r})"
        upper = f"(1.0 - {phi_ax} * {poly})"
        return f"(CASE WHEN {x} >= 0 THEN {upper} ELSE 1.0 - {upper} END)"

    price = (
        f"(CASE WHEN opt_type = 'C' THEN s_bar * {ncdf('d1x')}"
        f" - strike * {ncdf('d2x')}"
        f" ELSE strike * {ncdf('(-d2x)')} - s_bar * {ncdf('(-d1x)')} END)"
    )
    vega = f"(s_bar * (exp(-(d1x * d1x) / 2.0) * {inv!r}) * sqrt(t_years))"
    d1 = (
        "((ln(s_bar / strike) + 0.5 * {s} * {s} * t_years)"
        " / ({s} * sqrt(t_years)))"
    )
    d2 = "({d1} - {s} * sqrt(t_years))"

    # market price from sigma_true, via the same d1x/d2x column names
    chain = [
        f"""it0 AS (
    SELECT *, {d1.format(s='sigma_true')} AS d1x FROM base
), it0b AS (
    SELECT *, (d1x - sigma_true * sqrt(t_years)) AS d2x FROM it0
), it0c AS (
    SELECT strike, opt_type, expiry_date, n_trades, s_bar, t_years,
           sigma_true, {price} AS p_mkt, {_IV_SIG0!r} AS sig
    FROM it0b
)"""
    ]
    prev = "it0c"
    for i in range(1, IV_ITERS + 1):
        a, b, c = f"it{i}a", f"it{i}b", f"it{i}c"
        chain.append(f"""{a} AS (
    SELECT *, {d1.format(s='sig')} AS d1x FROM {prev}
), {b} AS (
    SELECT *, (d1x - sig * sqrt(t_years)) AS d2x FROM {a}
), {c} AS (
    SELECT strike, opt_type, expiry_date, n_trades, s_bar, t_years,
           sigma_true, p_mkt,
           least({_IV_HI!r}, greatest({_IV_LO!r},
               sig - ({price} - p_mkt) / {vega})) AS sig
    FROM {b}
)""")
        prev = c
    ctes = ",\n".join(chain)
    return f"""
WITH grouped AS (
    SELECT CAST((user_id % 8 + 17) * 100 AS INT) AS strike,
           CASE WHEN event_id % 2 = 0 THEN 'C' ELSE 'P' END AS opt_type,
           DATE '2024-02-02' + INTERVAL ((user_id % 4) * 10) DAY
               AS expiry_date,
           COUNT(*) AS n_trades,
           CAST(SUM(CAST(2000.0 + value AS DECIMAL(38,6))) AS DOUBLE)
               / COUNT(*) AS s_bar
    FROM events
    WHERE event_id % 11 != 0 AND value IS NOT NULL
    GROUP BY 1, 2, 3
),
base AS (
    SELECT strike, opt_type, expiry_date, n_trades, s_bar,
           (date_diff('day', DATE '{_BS_ASOF}', expiry_date) / 365.0)
               AS t_years,
           0.3 + CAST((strike / 100) % 5 AS DOUBLE) * 0.1 AS sigma_true
    FROM grouped
),
{ctes}
SELECT strike, opt_type, CAST(expiry_date AS TIMESTAMP) AS expiry_date,
       CAST(n_trades AS BIGINT) AS n_trades,
       {sql_round_half_away('s_bar', 6)} AS s_bar,
       {sql_round_half_away('sigma_true', 6)} AS sigma_true,
       {sql_round_half_away('p_mkt', 6)} AS p_mkt,
       {sql_round_half_away('sig', 6)} AS iv,
       {sql_round_half_away('abs(sig - sigma_true)', 6)} AS abs_err
FROM {prev}
"""


# --- PnL explain (Taylor attribution) ----------------------------------------

_PNL_BUMP_S = 1.05       # spot: +5%
_PNL_BUMP_SIG = 0.05     # vol: +5 points
_PNL_DT_DAYS = 7         # one week of decay


def q_pnl_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greeks-based PnL attribution over one revaluation step: reprice
    the synthetic chain after a deterministic market move (S +5%,
    sigma +5pts, 7 days of decay) and explain the actual PnL with the
    t0 greeks — delta*dS + 1/2 gamma*dS^2 + vega*dsig + theta*dt,
    residual = what the Taylor expansion misses.  The whole report is
    scan-level arithmetic on the pinned BS stack (one groupBy for the
    chain, zero further shuffles); the residual column doubles as a
    cross-engine proof that BOTH pricings and ALL four greeks agree
    bit-for-bit, because it is their 9-term combination."""
    import math

    from ..functions.rounding import round_half_away

    ev = load_table(spark, sf_dir, "events").where(
        (F.col("event_id") % 11 != 0) & F.col("value").isNotNull()
    )
    expiry = F.date_add(
        F.lit("2024-02-02").cast("date"),
        ((F.col("user_id") % 4) * 10).cast("int"),
    )
    base = (
        ev.select(
            ((F.col("user_id") % 8 + 17) * 100).cast("int").alias("strike"),
            F.when(F.col("event_id") % 2 == 0, "C").otherwise("P").alias(
                "opt_type"
            ),
            expiry.alias("expiry_date"),
            (F.lit(2000.0) + F.col("value")).alias("index_price"),
        )
        .groupBy("strike", "opt_type", "expiry_date")
        .agg(
            (
                F.sum(F.col("index_price").cast("decimal(38,6)")).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias("s0"),
        )
    )
    inv_sqrt2pi = 1.0 / math.sqrt(2.0 * math.pi)

    def ncdf(x):
        ax = F.abs(x)
        k = 1.0 / (1.0 + 0.2316419 * ax)
        poly = k * (
            0.319381530
            + k
            * (
                -0.356563782
                + k * (1.781477937 + k * (-1.821255978 + k * 1.330274429))
            )
        )
        phi_ax = F.exp(-(ax * ax) / 2.0) * inv_sqrt2pi
        upper = 1.0 - phi_ax * poly
        return F.when(x >= 0, upper).otherwise(1.0 - upper)

    def greeks(s, sig, t):
        srt = sig * F.sqrt(t)
        d1 = (F.log(s / F.col("strike")) + 0.5 * sig * sig * t) / srt
        d2 = d1 - srt
        pdf = F.exp(-(d1 * d1) / 2.0) * inv_sqrt2pi
        call = s * ncdf(d1) - F.col("strike") * ncdf(d2)
        put = F.col("strike") * ncdf(-d2) - s * ncdf(-d1)
        price = F.when(F.col("opt_type") == "C", call).otherwise(put)
        delta = F.when(
            F.col("opt_type") == "C", ncdf(d1)
        ).otherwise(ncdf(d1) - 1.0)
        gamma = pdf / (s * srt)
        vega = s * pdf * F.sqrt(t)
        theta = -(s * pdf * sig) / (2.0 * F.sqrt(t))
        return price, delta, gamma, vega, theta

    t0 = (
        F.datediff(F.col("expiry_date"), F.lit(_BS_ASOF).cast("date")).cast(
            "double"
        )
        / 365.0
    )
    sigma0 = 0.3 + (F.col("strike") / 100 % 5).cast("double") * 0.1
    df = (
        base.withColumn("t0", t0)
        .withColumn("t1", t0 - _PNL_DT_DAYS / 365.0)
        .withColumn("sig0", sigma0)
        .withColumn("sig1", sigma0 + _PNL_BUMP_SIG)
        .withColumn("s1", F.col("s0") * _PNL_BUMP_S)
    )
    p0, delta0, gamma0, vega0, theta0 = greeks(
        F.col("s0"), F.col("sig0"), F.col("t0")
    )
    df = (
        df.withColumn("p0", p0)
        .withColumn("delta0", delta0)
        .withColumn("gamma0", gamma0)
        .withColumn("vega0", vega0)
        .withColumn("theta0", theta0)
    )
    p1, _, _, _, _ = greeks(F.col("s1"), F.col("sig1"), F.col("t1"))
    ds = F.col("s1") - F.col("s0")
    df = (
        df.withColumn("pnl", p1 - F.col("p0"))
        .withColumn("delta_pnl", F.col("delta0") * ds)
        .withColumn("gamma_pnl", 0.5 * F.col("gamma0") * ds * ds)
        .withColumn("vega_pnl", F.col("vega0") * F.lit(_PNL_BUMP_SIG))
        .withColumn(
            "theta_pnl", F.col("theta0") * F.lit(_PNL_DT_DAYS / 365.0)
        )
    )
    residual = (
        F.col("pnl")
        - F.col("delta_pnl")
        - F.col("gamma_pnl")
        - F.col("vega_pnl")
        - F.col("theta_pnl")
    )
    return df.select(
        "strike",
        "opt_type",
        F.col("expiry_date").cast("timestamp").alias("expiry_date"),
        round_half_away(F.col("p0"), 6).alias("p0"),
        round_half_away(F.col("pnl"), 6).alias("pnl"),
        round_half_away(F.col("delta_pnl"), 6).alias("delta_pnl"),
        round_half_away(F.col("gamma_pnl"), 6).alias("gamma_pnl"),
        round_half_away(F.col("vega_pnl"), 6).alias("vega_pnl"),
        round_half_away(F.col("theta_pnl"), 6).alias("theta_pnl"),
        round_half_away(residual, 6).alias("residual"),
    )


def oracle_pnl_explain() -> str:
    import math

    from ..functions.rounding import sql_round_half_away

    inv = 1.0 / math.sqrt(2.0 * math.pi)

    def ncdf(x):
        ax = f"abs({x})"
        k = f"(1.0 / (1.0 + 0.2316419 * {ax}))"
        poly = (
            f"({k} * (0.319381530 + {k} * (-0.356563782 + {k} * "
            f"(1.781477937 + {k} * (-1.821255978 + {k} * 1.330274429)))))"
        )
        phi_ax = f"(exp(-({ax} * {ax}) / 2.0) * {inv!r})"
        upper = f"(1.0 - {phi_ax} * {poly})"
        return f"(CASE WHEN {x} >= 0 THEN {upper} ELSE 1.0 - {upper} END)"

    def greeks(s, sig, t, pfx):
        srt = f"({sig} * sqrt({t}))"
        d1 = f"((ln({s} / strike) + 0.5 * {sig} * {sig} * {t}) / {srt})"
        d2 = f"({d1} - {srt})"
        pdf = f"(exp(-({d1} * {d1}) / 2.0) * {inv!r})"
        call = f"({s} * {ncdf(d1)} - strike * {ncdf(d2)})"
        put = f"(strike * {ncdf(f'(-{d2})')} - {s} * {ncdf(f'(-{d1})')})"
        price = f"(CASE WHEN opt_type = 'C' THEN {call} ELSE {put} END)"
        delta = (
            f"(CASE WHEN opt_type = 'C' THEN {ncdf(d1)}"
            f" ELSE {ncdf(d1)} - 1.0 END)"
        )
        gamma = f"({pdf} / ({s} * {srt}))"
        vega = f"({s} * {pdf} * sqrt({t}))"
        theta = f"(-({s} * {pdf} * {sig}) / (2.0 * sqrt({t})))"
        return (
            f"{price} AS {pfx}price, {delta} AS {pfx}delta,"
            f" {gamma} AS {pfx}gamma, {vega} AS {pfx}vega,"
            f" {theta} AS {pfx}theta"
        )

    g0 = greeks("s0", "sig0", "t0", "g0_")
    p1 = greeks("s1", "sig1", "t1", "g1_").split(" AS g1_price")[0]
    return f"""
WITH grouped AS (
    SELECT CAST((user_id % 8 + 17) * 100 AS INT) AS strike,
           CASE WHEN event_id % 2 = 0 THEN 'C' ELSE 'P' END AS opt_type,
           DATE '2024-02-02' + INTERVAL ((user_id % 4) * 10) DAY
               AS expiry_date,
           CAST(SUM(CAST(2000.0 + value AS DECIMAL(38,6))) AS DOUBLE)
               / COUNT(*) AS s0
    FROM events
    WHERE event_id % 11 != 0 AND value IS NOT NULL
    GROUP BY 1, 2, 3
),
base AS (
    SELECT strike, opt_type, expiry_date, s0,
           s0 * {_PNL_BUMP_S!r} AS s1,
           (date_diff('day', DATE '{_BS_ASOF}', expiry_date) / 365.0) AS t0,
           (date_diff('day', DATE '{_BS_ASOF}', expiry_date) / 365.0)
               - {_PNL_DT_DAYS} / 365.0 AS t1,
           0.3 + CAST((strike / 100) % 5 AS DOUBLE) * 0.1 AS sig0,
           0.3 + CAST((strike / 100) % 5 AS DOUBLE) * 0.1
               + {_PNL_BUMP_SIG!r} AS sig1
    FROM grouped
),
g AS (
    SELECT strike, opt_type, expiry_date, s0, s1, t0, t1, sig0, sig1,
           {g0},
           {p1} AS p1
    FROM base
),
terms AS (
    SELECT strike, opt_type, expiry_date, g0_price AS p0,
           (p1 - g0_price) AS pnl,
           (g0_delta * (s1 - s0)) AS delta_pnl,
           (0.5 * g0_gamma * (s1 - s0) * (s1 - s0)) AS gamma_pnl,
           (g0_vega * {_PNL_BUMP_SIG!r}) AS vega_pnl,
           (g0_theta * ({_PNL_DT_DAYS} / 365.0)) AS theta_pnl
    FROM g
)
SELECT strike, opt_type, CAST(expiry_date AS TIMESTAMP) AS expiry_date,
       {sql_round_half_away('p0', 6)} AS p0,
       {sql_round_half_away('pnl', 6)} AS pnl,
       {sql_round_half_away('delta_pnl', 6)} AS delta_pnl,
       {sql_round_half_away('gamma_pnl', 6)} AS gamma_pnl,
       {sql_round_half_away('vega_pnl', 6)} AS vega_pnl,
       {sql_round_half_away('theta_pnl', 6)} AS theta_pnl,
       {sql_round_half_away('pnl - delta_pnl - gamma_pnl - vega_pnl - theta_pnl', 6)}
           AS residual
FROM terms
"""


# --- CRR binomial pricing (lattice model as a bounded expression fold) --------

#: Cox-Ross-Rubinstein steps. The European lattice price collapses to a
#: closed SUM over terminal nodes — sum_k C(N,k) p^k (1-p)^(N-k) *
#: payoff(S u^k d^(N-k)) — so the "iterative" model is one sequential
#: fold over N+1 terms, pure scan-level math, no recursion and no UDF.
CRR_STEPS = 64

#: ln C(N, k) for k = 0..N, precomputed exactly once in Python and
#: shared as the SAME double literals with the oracle (repr round-trip)
#: — neither engine has a builtin lgamma with guaranteed cross-engine
#: bit parity, a literal table does.
def _log_binoms(n: int) -> list[float]:
    import math

    out, acc = [0.0], 0.0
    for k in range(1, n + 1):
        acc += math.log((n - k + 1) / k)
        out.append(acc)
    return out


def q_crr_binomial_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRR binomial European option prices over the synthetic chain
    (same deterministic (strike, type, expiry, S_bar) groups as
    ``bs_greeks``, r = 0, flat sigma): N = 64 steps, priced as the
    terminal-node sum with literal log-binomial coefficients — a strict
    left fold over k = 0..N in BOTH engines, so even the float-add
    order is shared. The Black-Scholes closed form rides along as the
    convergence audit (CRR(64) ~ BS to a few tenths of a percent at
    these vols). One map-side-combined groupBy; the lattice itself is
    zero-shuffle expression work — the 100 TB shape for model pricing
    over a book of millions of instruments."""
    import math

    from ..functions.litconst import lit_double_array
    from ..functions.rounding import round_half_away

    ev = load_table(spark, sf_dir, "events").where(
        (F.col("event_id") % 11 != 0) & F.col("value").isNotNull()
    )
    expiry = F.date_add(
        F.lit("2024-02-02").cast("date"), ((F.col("user_id") % 4) * 10).cast("int")
    )
    grouped = (
        ev.select(
            ((F.col("user_id") % 20 + 1) * 100).cast("int").alias("strike"),
            F.when(F.col("event_id") % 2 == 0, "C").otherwise("P").alias("opt_type"),
            expiry.alias("expiry_date"),
            (F.lit(2000.0) + F.col("value")).alias("index_price"),
        )
        .groupBy("strike", "opt_type", "expiry_date")
        .agg(
            (
                F.sum(F.col("index_price").cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("s_bar"),
        )
        .where(F.col("s_bar") > 0)
    )
    n = CRR_STEPS
    t = (
        F.datediff(F.col("expiry_date"), F.lit(_BS_ASOF).cast("date")).cast("double")
        / 365.0
    )
    ln_u = _BS_SIGMA * F.sqrt(t / float(n))
    # r = 0: p = (1 - d) / (u - d) with u = e^ln_u, d = e^-ln_u
    p = (1.0 - F.exp(-ln_u)) / (F.exp(ln_u) - F.exp(-ln_u))
    ln_p, ln_q = F.log(p), F.log(1.0 - p)
    lc = lit_double_array(_log_binoms(n))
    st = lambda k: F.col("s_bar") * F.exp((2.0 * k - float(n)) * ln_u)  # noqa: E731
    payoff = lambda k: F.when(  # noqa: E731
        F.col("opt_type") == "C",
        F.greatest(st(k) - F.col("strike"), F.lit(0.0)),
    ).otherwise(F.greatest(F.col("strike") - st(k), F.lit(0.0)))
    term = lambda k: (  # noqa: E731
        F.exp(F.element_at(lc, (k + 1).cast("int")) + k * ln_p + (float(n) - k) * ln_q)
        * payoff(k)
    )
    crr = F.aggregate(
        F.sequence(F.lit(0), F.lit(n)),
        F.lit(0.0),
        lambda acc, k: acc + term(k.cast("double")),
    )

    # Black-Scholes audit (same ncdf stack as bs_greeks)
    inv_sqrt2pi = 1.0 / math.sqrt(2.0 * math.pi)
    sig_rt = _BS_SIGMA * F.sqrt(t)
    d1 = (
        F.log(F.col("s_bar") / F.col("strike")) + 0.5 * _BS_SIGMA * _BS_SIGMA * t
    ) / sig_rt
    d2 = d1 - sig_rt

    def ncdf(x):
        ax = F.abs(x)
        k = 1.0 / (1.0 + 0.2316419 * ax)
        poly = k * (
            0.319381530
            + k * (-0.356563782 + k * (1.781477937 + k * (-1.821255978 + k * 1.330274429)))
        )
        phi_ax = F.exp(-(ax * ax) / 2.0) * inv_sqrt2pi
        upper = 1.0 - phi_ax * poly
        return F.when(x >= 0, upper).otherwise(1.0 - upper)

    call_bs = F.col("s_bar") * ncdf(d1) - F.col("strike") * ncdf(d2)
    bs = F.when(F.col("opt_type") == "C", call_bs).otherwise(
        call_bs - F.col("s_bar") + F.col("strike")  # put-call parity, r = 0
    )
    # TWO selects, deliberately: emitting round(s_bar).alias("s_bar") in
    # the SAME projection that evaluates crr/bs makes Spark resolve
    # their F.col("s_bar") against the lateral alias — i.e. the ROUNDED
    # spot — while the oracle prices off the raw spot. Deep-ITM prices
    # are ~linear in spot, so the ≤5e-7 rounding error flipped the 6-dp
    # hash on 6/40 rows before this split (found by check_queries r8).
    priced = grouped.select(
        "strike",
        "opt_type",
        F.col("expiry_date").cast("timestamp").alias("expiry_date"),
        F.col("s_bar").alias("s_raw"),
        crr.alias("crr_raw"),
        bs.alias("bs_raw"),
    )
    return priced.select(
        "strike",
        "opt_type",
        "expiry_date",
        round_half_away(F.col("s_raw"), 6).alias("s_bar"),
        round_half_away(F.col("crr_raw"), 6).alias("crr_price"),
        round_half_away(F.col("bs_raw"), 6).alias("bs_price"),
    )


def oracle_crr_binomial_price() -> str:
    import math

    from ..functions.rounding import sql_round_half_away

    n = CRR_STEPS
    lc = "[" + ", ".join(f"{v!r}" for v in _log_binoms(n)) + "]"
    t = f"(date_diff('day', DATE '{_BS_ASOF}', expiry_date) / 365.0)"
    ln_u = f"({_BS_SIGMA} * sqrt({t} / {float(n)!r}))"
    p = f"((1.0 - exp(-{ln_u})) / (exp({ln_u}) - exp(-{ln_u})))"
    st = f"(s_bar * exp((2.0 * k - {float(n)!r}) * {ln_u}))"
    payoff = (
        f"(CASE WHEN opt_type = 'C' THEN greatest({st} - strike, 0.0) "
        f"ELSE greatest(strike - {st}, 0.0) END)"
    )
    term = (
        f"(exp(lc[CAST(k AS INT) + 1] + k * ln({p}) "
        f"+ ({float(n)!r} - k) * ln(1.0 - {p})) * {payoff})"
    )
    # strict left fold over k = 0..N, same add order as the Spark
    # aggregate; the lambda sees k DOUBLE like the Spark cast
    crr = (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(0, {n + 1}), i -> CAST(i AS DOUBLE))), "
        f"(acc, k) -> acc + {term})"
    )

    inv = 1.0 / math.sqrt(2.0 * math.pi)
    sig_rt = f"({_BS_SIGMA} * sqrt({t}))"
    d1 = f"((ln(s_bar / strike) + 0.5 * {_BS_SIGMA} * {_BS_SIGMA} * {t}) / {sig_rt})"
    d2 = f"({d1} - {sig_rt})"

    def ncdf(x):
        ax = f"abs({x})"
        k = f"(1.0 / (1.0 + 0.2316419 * {ax}))"
        poly = (
            f"({k} * (0.319381530 + {k} * (-0.356563782 + {k} * "
            f"(1.781477937 + {k} * (-1.821255978 + {k} * 1.330274429)))))"
        )
        phi_ax = f"(exp(-({ax} * {ax}) / 2.0) * {inv!r})"
        upper = f"(1.0 - {phi_ax} * {poly})"
        return f"(CASE WHEN {x} >= 0 THEN {upper} ELSE 1.0 - {upper} END)"

    call_bs = f"(s_bar * {ncdf(d1)} - strike * {ncdf(d2)})"
    bs = (
        f"(CASE WHEN opt_type = 'C' THEN {call_bs} "
        f"ELSE {call_bs} - s_bar + strike END)"
    )
    return f"""
WITH grouped AS (
    SELECT CAST((user_id % 20 + 1) * 100 AS INT) AS strike,
           CASE WHEN event_id % 2 = 0 THEN 'C' ELSE 'P' END AS opt_type,
           DATE '2024-02-02' + INTERVAL ((user_id % 4) * 10) DAY AS expiry_date,
           CAST(SUM(CAST(2000.0 + value AS DECIMAL(38,6))) AS DOUBLE) / count(*)
               AS s_bar
    FROM events
    WHERE event_id % 11 <> 0 AND value IS NOT NULL
    GROUP BY 1, 2, 3
),
withc AS (SELECT *, {lc} AS lc FROM grouped WHERE s_bar > 0)
SELECT strike, opt_type, CAST(expiry_date AS TIMESTAMP) AS expiry_date,
       {sql_round_half_away('s_bar', 6)} AS s_bar,
       {sql_round_half_away(crr, 6)} AS crr_price,
       {sql_round_half_away(bs, 6)} AS bs_price
FROM withc
"""


# --- American binomial pricing (backward induction, distributed layers) --------

AM_STEPS = 16
AM_RATE = 0.05  # r > 0 so the American put premium is genuinely positive


def q_american_put_premium(spark: SparkSession, sf_dir: str) -> DataFrame:
    """American put early-exercise premium on a CRR lattice (r > 0):
    backward induction V_j,k = max(exercise, e^{-r dt}(p V_up + q
    V_down)) over ``AM_STEPS`` layers, against the European put from
    the same lattice's terminal sum — premium = american - european.

    The induction is the genuinely ITERATIVE lattice (unlike
    ``crr_binomial_price``'s European closed sum): each layer is ONE
    DataFrame step — a per-group shift join (lead over the node index)
    + the exercise max — and layers shrink k = 0..j. Node values
    re-quantize to 12 dp DECIMAL per layer, so the 16-deep recursion
    chain is bit-identical cross-engine (the MM/MMR chain discipline);
    the oracle unrolls the same 16 layers as CTE stages. At book scale
    the groups (instruments) shard the lattice rows hash-uniformly —
    no per-instrument loop, ever."""
    import math

    from pyspark.sql import Window

    from ..functions.rounding import round_half_away

    ev = load_table(spark, sf_dir, "events").where(
        (F.col("event_id") % 11 != 0) & F.col("value").isNotNull()
    )
    expiry = F.date_add(
        F.lit("2024-02-02").cast("date"), ((F.col("user_id") % 4) * 10).cast("int")
    )
    grouped = (
        ev.select(
            ((F.col("user_id") % 20 + 1) * 100).cast("int").alias("strike"),
            expiry.alias("expiry_date"),
            (F.lit(2000.0) + F.col("value")).alias("index_price"),
        )
        .groupBy("strike", "expiry_date")
        .agg(
            (
                F.sum(F.col("index_price").cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("s_bar"),
        )
        .where(F.col("s_bar") > 0)
    )
    n = AM_STEPS
    t = (
        F.datediff(F.col("expiry_date"), F.lit(_BS_ASOF).cast("date")).cast("double")
        / 365.0
    )
    dt = t / float(n)
    ln_u = _BS_SIGMA * F.sqrt(dt)
    disc = F.exp(-F.lit(AM_RATE) * dt)
    p = (F.exp(F.lit(AM_RATE) * dt) - F.exp(-ln_u)) / (
        F.exp(ln_u) - F.exp(-ln_u)
    )
    params = grouped.select(
        "strike",
        "expiry_date",
        "s_bar",
        ln_u.alias("ln_u"),
        disc.alias("disc"),
        p.alias("p"),
    )
    from ..operators.materialize import materialize

    params = materialize(params)

    def node_price(j, k):  # spot at layer j, node k (k up-moves)
        return F.col("s_bar") * F.exp((2.0 * k - float(j)) * F.col("ln_u"))

    def exercise(j, k):
        return F.greatest(
            F.col("strike").cast("double") - node_price(j, k), F.lit(0.0)
        )

    q12 = lambda c: round_half_away(c, 12).cast("decimal(28,12)")  # noqa: E731

    layer = params.select(
        "strike",
        "expiry_date",
        "s_bar",
        "ln_u",
        "disc",
        "p",
        F.explode(F.sequence(F.lit(0), F.lit(n))).alias("k"),
    ).select(
        "strike", "expiry_date", "s_bar", "ln_u", "disc", "p", "k",
        q12(exercise(n, F.col("k").cast("double"))).alias("v"),
    )
    for j in range(n - 1, -1, -1):
        w = Window.partitionBy("strike", "expiry_date").orderBy("k")
        cont = F.col("disc") * (
            F.col("p") * F.lead("v", 1).over(w).cast("double")
            + (1.0 - F.col("p")) * F.col("v").cast("double")
        )
        layer = (
            layer.select(
                "strike", "expiry_date", "s_bar", "ln_u", "disc", "p", "k",
                "v",
                cont.alias("cont"),
            )
            .where(F.col("k") <= j)
            .select(
                "strike", "expiry_date", "s_bar", "ln_u", "disc", "p", "k",
                q12(
                    F.greatest(
                        exercise(j, F.col("k").cast("double")), F.col("cont")
                    )
                ).alias("v"),
            )
        )
        if j % 4 == 0 and j > 0:
            layer = materialize(layer)
    american = layer.select(
        "strike", "expiry_date", F.col("v").cast("double").alias("am_put")
    )

    # European put from the same lattice: discounted terminal sum with
    # literal log-binomial weights (the crr_binomial_price machinery)
    from ..functions.litconst import lit_double_array

    lc = lit_double_array(_log_binoms(n))
    ln_p, ln_q = F.log(F.col("p")), F.log(1.0 - F.col("p"))
    term = lambda k: (  # noqa: E731
        F.exp(
            F.element_at(lc, (k + 1).cast("int"))
            + k * ln_p
            + (float(n) - k) * ln_q
        )
        * F.greatest(
            F.col("strike").cast("double")
            - F.col("s_bar") * F.exp((2.0 * k - float(n)) * F.col("ln_u")),
            F.lit(0.0),
        )
    )
    eu = F.pow(F.col("disc"), float(n)) * F.aggregate(
        F.sequence(F.lit(0), F.lit(n)),
        F.lit(0.0),
        lambda acc, k: acc + term(k.cast("double")),
    )
    european = params.select("strike", "expiry_date", eu.alias("eu_put"))
    out = american.join(european, ["strike", "expiry_date"])
    return out.select(
        "strike",
        F.col("expiry_date").cast("timestamp").alias("expiry_date"),
        round_half_away(F.col("am_put"), 6).alias("am_put"),
        round_half_away(F.col("eu_put"), 6).alias("eu_put"),
        round_half_away(F.col("am_put") - F.col("eu_put"), 6).alias(
            "early_exercise_premium"
        ),
    )


def oracle_american_put_premium() -> str:
    from ..functions.litconst import double_array_sql  # noqa: F401
    from ..functions.rounding import sql_round_half_away

    n = AM_STEPS
    t = f"(date_diff('day', DATE '{_BS_ASOF}', expiry_date) / 365.0)"
    dt = f"({t} / {float(n)!r})"
    ln_u = f"({_BS_SIGMA} * sqrt({dt}))"
    disc = f"exp(-{AM_RATE!r} * {dt})"
    p = f"((exp({AM_RATE!r} * {dt}) - exp(-{ln_u})) / (exp({ln_u}) - exp(-{ln_u})))"

    def node(j, k):
        return f"(s_bar * exp((2.0 * {k} - {float(j)!r}) * ln_u))"

    def exer(j, k):
        return f"greatest(CAST(strike AS DOUBLE) - {node(j, k)}, 0.0)"

    def q12(e):
        return f"CAST({sql_round_half_away(e, 12)} AS DECIMAL(28,12))"

    stages = []
    for j in range(n - 1, -1, -1):
        prev = f"l{j + 1}"
        cont = (
            "(a.disc * (a.p * CAST(b.v AS DOUBLE)"
            " + (1.0 - a.p) * CAST(a.v AS DOUBLE)))"
        )
        stages.append(f"""
l{j} AS MATERIALIZED (
    SELECT a.strike, a.expiry_date, a.s_bar, a.ln_u, a.disc, a.p, a.k,
           {q12(f"greatest(greatest(CAST(a.strike AS DOUBLE) - (a.s_bar * exp((2.0 * a.k - {float(j)!r}) * a.ln_u)), 0.0), {cont})")} AS v
    FROM {prev} a
    JOIN {prev} b ON b.strike = a.strike AND b.expiry_date = a.expiry_date
                 AND b.k = a.k + 1
    WHERE a.k <= {j}
)""")
    lc = "[" + ", ".join(f"{v!r}" for v in _log_binoms(n)) + "]"
    eu_term = (
        f"(exp(lc[CAST(k AS INT) + 1] + k * ln(p) + ({float(n)!r} - k) * ln(1.0 - p))"
        f" * greatest(CAST(strike AS DOUBLE)"
        f" - (s_bar * exp((2.0 * k - {float(n)!r}) * ln_u)), 0.0))"
    )
    eu = (
        f"pow(disc, {float(n)!r}) * list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(0, {n + 1}), i -> CAST(i AS DOUBLE))), "
        f"(acc, k) -> acc + {eu_term})"
    )
    return f"""
WITH grouped AS (
    SELECT CAST((user_id % 20 + 1) * 100 AS INT) AS strike,
           DATE '2024-02-02' + INTERVAL ((user_id % 4) * 10) DAY AS expiry_date,
           CAST(SUM(CAST(2000.0 + value AS DECIMAL(38,6))) AS DOUBLE) / count(*)
               AS s_bar
    FROM events
    WHERE event_id % 11 <> 0 AND value IS NOT NULL
    GROUP BY 1, 2
),
params AS (
    SELECT strike, expiry_date, s_bar,
           {ln_u} AS ln_u, {disc} AS disc, {p} AS p
    FROM grouped WHERE s_bar > 0
),
l{n} AS MATERIALIZED (
    SELECT strike, expiry_date, s_bar, ln_u, disc, p,
           CAST(k AS DOUBLE) AS k,
           {q12(f"greatest(CAST(strike AS DOUBLE) - (s_bar * exp((2.0 * CAST(k AS DOUBLE) - {float(n)!r}) * ln_u)), 0.0)")} AS v
    FROM params, (SELECT unnest(range(0, {n + 1})) AS k)
),
{",".join(stages)},
eur AS (
    SELECT strike, expiry_date, {eu} AS eu_put
    FROM (SELECT *, {lc}::DOUBLE[] AS lc FROM params)
)
SELECT l0.strike, CAST(l0.expiry_date AS TIMESTAMP) AS expiry_date,
       {sql_round_half_away("CAST(l0.v AS DOUBLE)", 6)} AS am_put,
       {sql_round_half_away("eur.eu_put", 6)} AS eu_put,
       {sql_round_half_away("CAST(l0.v AS DOUBLE) - eur.eu_put", 6)}
           AS early_exercise_premium
FROM l0 JOIN eur ON eur.strike = l0.strike
               AND eur.expiry_date = l0.expiry_date
"""


def q_vol_surface_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-expiry quadratic smile fit: avg_iv ~ a + b*x + c*x^2 over
    log-moneyness x = ln(strike/1000), weighted by quote count — the
    parametric surface every options desk keeps over the raw smile
    (:func:`q_iv_smile`), fit as a CLOSED-FORM weighted least squares:
    no iteration, no driver math, no collect.

    Scale shape: ONE pass over the trade stream builds the per-(expiry,
    strike) quote aggregates (map-side combined); the smile points
    (<= |strikes| rows per expiry) then reduce to eight moment sums
    (sum w*x^k, sum w*x^k*y), each quantized to 9 dp per point and
    accumulated in exact DECIMAL — associative under any partitioning —
    and the 3x3 normal equations close via Cramer's rule in pinned-order
    double arithmetic.  At 100 TB the surface costs the trade scan plus
    a |points|-row reduction; nothing grows with volume.

    Determinism: x and y quantize to 9 dp half-away (IEEE-primitive
    formula, identical in DuckDB); every moment term is a pinned-order
    double product rounded to 9 dp before the exact decimal sum; the
    Cramer determinants expand in the same textual order both engines.
    Reference parity: the reference stops at raw per-contract hourly
    aggregates (reference/src/pipeline/aggregators/option_ohlc.py); the
    fit is part of the beyond-reference analytics surface."""
    c = _chain(spark, sf_dir)
    pts = (
        c.groupBy("expiry", "strike")
        .agg(
            F.sum(F.col("iv").cast("decimal(38,6)")).alias("iv_sum"),
            F.count(F.col("iv")).alias("w"),
        )
        .where(F.col("w") > 0)
    )
    x = round_half_away(
        F.log(F.col("strike").cast("double") / F.lit(1000.0)), 9
    )
    # divide in DOUBLE, not decimal: Spark and DuckDB round decimal
    # quotients at different result scales (~5e-8 apart) — invisible at
    # the smile's 6 dp but fatal to 9 dp moment quantization
    y = round_half_away(
        F.col("iv_sum").cast("double") / F.col("w").cast("double"), 9
    )
    wd = F.col("w").cast("double")
    pts = pts.select("expiry", wd.alias("wd"), x.alias("x"), y.alias("y"))

    def mom(expr, name):
        return F.sum(
            round_half_away(expr, 9).cast("decimal(25,9)")
        ).alias(name)

    xd, yd, w_ = F.col("x"), F.col("y"), F.col("wd")
    agg = pts.groupBy("expiry").agg(
        F.count(F.lit(1)).alias("n_points"),
        mom(w_, "s0"),
        mom(w_ * xd, "s1"),
        mom((w_ * xd) * xd, "s2"),
        mom(((w_ * xd) * xd) * xd, "s3"),
        mom((((w_ * xd) * xd) * xd) * xd, "s4"),
        mom(w_ * yd, "t0"),
        mom((w_ * xd) * yd, "t1"),
        mom(((w_ * xd) * xd) * yd, "t2"),
    )
    s = {k: F.col(k).cast("double") for k in
         ("s0", "s1", "s2", "s3", "s4", "t0", "t1", "t2")}

    def det3(m11, m12, m13, m21, m22, m23, m31, m32, m33):
        # pinned expansion order — the oracle spells the same text
        return (
            m11 * (m22 * m33 - m23 * m32)
            - m12 * (m21 * m33 - m23 * m31)
            + m13 * (m21 * m32 - m22 * m31)
        )

    d = det3(s["s0"], s["s1"], s["s2"],
             s["s1"], s["s2"], s["s3"],
             s["s2"], s["s3"], s["s4"])
    da = det3(s["t0"], s["s1"], s["s2"],
              s["t1"], s["s2"], s["s3"],
              s["t2"], s["s3"], s["s4"])
    db = det3(s["s0"], s["t0"], s["s2"],
              s["s1"], s["t1"], s["s3"],
              s["s2"], s["t2"], s["s4"])
    dc = det3(s["s0"], s["s1"], s["t0"],
              s["s1"], s["s2"], s["t1"],
              s["s2"], s["s3"], s["t2"])
    # rank gate: a quadratic needs >= 3 distinct points; below that the
    # determinant is floating-point residue (~1e-15, NOT exactly 0), so
    # nullif alone would emit garbage coefficients on a singular system
    ok = F.col("n_points") >= 3
    dz = F.nullif(d, F.lit(0.0))
    return agg.select(
        "expiry",
        F.col("n_points").cast("long").alias("n_points"),
        s["s0"].alias("sum_w"),
        round_half_away(F.when(ok, da / dz), 6).alias("base_iv"),
        round_half_away(F.when(ok, db / dz), 6).alias("skew"),
        round_half_away(F.when(ok, dc / dz), 6).alias("curvature"),
    )


def oracle_vol_surface_fit() -> str:
    def sqlmom(expr, name):
        return (
            f"SUM(CAST({sql_round_half_away(expr, 9)} AS DECIMAL(25,9)))"
            f" AS {name}"
        )

    moms = ", ".join([
        sqlmom("wd", "s0"),
        sqlmom("wd * x", "s1"),
        sqlmom("(wd * x) * x", "s2"),
        sqlmom("((wd * x) * x) * x", "s3"),
        sqlmom("(((wd * x) * x) * x) * x", "s4"),
        sqlmom("wd * y", "t0"),
        sqlmom("(wd * x) * y", "t1"),
        sqlmom("((wd * x) * x) * y", "t2"),
    ])

    def det3(m11, m12, m13, m21, m22, m23, m31, m32, m33):
        return (
            f"({m11} * ({m22} * {m33} - {m23} * {m32})"
            f" - {m12} * ({m21} * {m33} - {m23} * {m31})"
            f" + {m13} * ({m21} * {m32} - {m22} * {m31}))"
        )

    sd = {k: f"CAST({k} AS DOUBLE)" for k in
          ("s0", "s1", "s2", "s3", "s4", "t0", "t1", "t2")}
    d = det3(sd["s0"], sd["s1"], sd["s2"],
             sd["s1"], sd["s2"], sd["s3"],
             sd["s2"], sd["s3"], sd["s4"])
    da = det3(sd["t0"], sd["s1"], sd["s2"],
              sd["t1"], sd["s2"], sd["s3"],
              sd["t2"], sd["s3"], sd["s4"])
    db = det3(sd["s0"], sd["t0"], sd["s2"],
              sd["s1"], sd["t1"], sd["s3"],
              sd["s2"], sd["t2"], sd["s4"])
    dc = det3(sd["s0"], sd["s1"], sd["t0"],
              sd["s1"], sd["s2"], sd["t1"],
              sd["s2"], sd["s3"], sd["t2"])
    x = sql_round_half_away("ln(CAST(strike AS DOUBLE) / 1000.0)", 9)
    y = sql_round_half_away("CAST(iv_sum AS DOUBLE) / CAST(w AS DOUBLE)", 9)
    return f"""
WITH {_CHAIN_SQL},
pts0 AS (
    SELECT expiry, strike,
           SUM(CAST(iv AS DECIMAL(38,6))) AS iv_sum, COUNT(iv) AS w
    FROM chain GROUP BY 1, 2
),
pts AS (
    SELECT expiry, CAST(w AS DOUBLE) AS wd, {x} AS x, {y} AS y
    FROM pts0 WHERE w > 0
),
agg AS (
    SELECT expiry, CAST(COUNT(*) AS BIGINT) AS n_points, {moms}
    FROM pts GROUP BY 1
)
SELECT expiry, n_points, CAST(s0 AS DOUBLE) AS sum_w,
       {sql_round_half_away(f"CASE WHEN n_points >= 3 THEN {da} / nullif({d}, 0.0) END", 6)} AS base_iv,
       {sql_round_half_away(f"CASE WHEN n_points >= 3 THEN {db} / nullif({d}, 0.0) END", 6)} AS skew,
       {sql_round_half_away(f"CASE WHEN n_points >= 3 THEN {dc} / nullif({d}, 0.0) END", 6)} AS curvature
FROM agg
"""
