"""A1 — the reference's core session OHLC rollup, as one shuffle + one agg.

Reference semantics (/root/reference/src/pipeline/aggregators/base.py:87-153):
rows sorted by time; ``open``/``close`` = first/last row's open/close;
``high``/``low`` = max/min with *positional* argmax/argmin indices
(``chhightime``/``chlowtime``) where strict ``>``/``<`` comparison keeps the
FIRST extremum on ties; ``move = high - low``; ``chhigh/chlow/chclose`` =
%change from open (0-guard, 4 dp); ``chmax`` = whichever of chhigh/chlow has
larger |.| (tie -> chlow, base.py:128-131); ``firstextremumtype`` = which
extremum index came first, tie -> larger |%|, tie again -> HIGH
(base.py:133-138).

Spark-first design: the positional index is a ``row_number`` window over
(keys, session), and every order-dependent aggregate is a ``min_by/max_by``
whose ordering key is a struct that *encodes the tie-break* — struct
comparison is lexicographic, so ``max_by(idx, struct(high, -idx))`` returns
the index of the first row achieving the maximum high. The window and the
groupBy share the same partitioning keys, so the whole operator costs a
single shuffle; partial aggregation handles the rest map-side. No UDFs,
no collect_list, no global sort.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import round_half_away


def pct_change(open_col: Column, target: Column, scale: int = 4) -> Column:
    """A2 (base.py:31-46): ((target-open)/open)*100, 0-guard, rounded."""
    raw = (target - open_col) / open_col * 100.0
    return F.when(open_col == 0, F.lit(0.0)).otherwise(round_half_away(raw, scale))


def session_ohlc(
    df: DataFrame,
    session_start: Column,
    keys: Sequence[str] = ("instrument",),
    time_col: str = "datetime",
    open_col: str = "open",
    high_col: str = "high",
    low_col: str = "low",
    close_col: str = "close",
    min_rows: int = 1,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Roll per-row OHLC records up into anchored sessions.

    Returns one row per (keys..., session_start) with the full reference
    metric set. ``min_rows`` is the P7 data-sufficiency guard (>=20 hours
    daily, >=5 days weekly, >=20 days monthly in the reference).
    """
    part = [*keys, "session_start"]
    order = [F.col(time_col), *[F.col(c) for c in tiebreak_cols]]
    w = Window.partitionBy(*[F.col(c) for c in part]).orderBy(*order)

    neg_idx = (F.lit(0) - F.col("__idx")).alias("neg_idx")
    agg = (
        df.withColumn("session_start", session_start)
        .withColumn("__idx", F.row_number().over(w) - 1)
        .groupBy(*part)
        .agg(
            F.min_by(open_col, "__idx").alias("open"),
            F.max_by(close_col, "__idx").alias("close"),
            F.max(high_col).alias("high"),
            F.min(low_col).alias("low"),
            # first index achieving the max high: lexicographic struct max
            F.max_by(
                "__idx", F.struct(F.col(high_col).alias("v"), neg_idx)
            ).alias("chhightime"),
            # first index achieving the min low: lexicographic struct min
            F.min_by(
                "__idx", F.struct(F.col(low_col).alias("v"), F.col("__idx").alias("i"))
            ).alias("chlowtime"),
            F.count(F.lit(1)).alias("__n"),
        )
        .where(F.col("__n") >= F.lit(min_rows))
    )

    # every derived column in ONE projection: a chain of withColumn calls
    # re-analyses the growing plan once per column
    o, h, l, c = F.col("open"), F.col("high"), F.col("low"), F.col("close")
    chhigh, chlow = pct_change(o, h), pct_change(o, l)
    hi_first = F.col("chhightime") < F.col("chlowtime")
    lo_first = F.col("chlowtime") < F.col("chhightime")
    return agg.select(
        *[col for col in agg.columns if col != "__n"],
        (h - l).alias("move"),
        chhigh.alias("chhigh"),
        chlow.alias("chlow"),
        pct_change(o, c).alias("chclose"),
        F.when(F.abs(chhigh) > F.abs(chlow), chhigh).otherwise(chlow).alias("chmax"),
        F.when(hi_first, F.lit("HIGH"))
        .when(lo_first, F.lit("LOW"))
        .otherwise(
            F.when(F.abs(chhigh) >= F.abs(chlow), F.lit("HIGH")).otherwise(F.lit("LOW"))
        )
        .alias("firstextremumtype"),
        F.col("__n").alias("n_rows"),
    )


def ticks_to_ohlc(
    df: DataFrame,
    bucket: Column,
    keys: Sequence[str] = ("instrument",),
    time_col: str = "ts",
    price_col: str = "price",
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Roll raw tick/trade rows into per-bucket OHLC candles.

    Single-pass groupBy (no window): first/last are ``min_by/max_by`` on a
    (time, tiebreak...) ordering struct, fully map-side partial-aggregable.
    """
    order = F.struct(
        F.col(time_col).alias("t"), *[F.col(c).alias(c) for c in tiebreak_cols]
    )
    return (
        df.withColumn("bucket_ts", bucket)
        .groupBy(*keys, "bucket_ts")
        .agg(
            F.min_by(price_col, order).alias("open"),
            F.max(price_col).alias("high"),
            F.min(price_col).alias("low"),
            F.max_by(price_col, order).alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
    )
