"""Structured Streaming jobs: tick stream -> hourly OHLC gold table.

The reference is a micro-batch ETL loop: collectors poll every 5 s-5 min,
resume from ``MAX(ts)``, re-fetch a trailing lookback window because open
candles mutate, and upsert keyed rows so reruns converge (reference
src/pipeline/collectors/binance.py:147-156, aggregators/option_ohlc.py:36-41;
SURVEY §2.9 T1-T5). Structured Streaming gives T1 (checkpoint resume) and
T3 (triggers) for free; the two jobs here cover the rest:

- :func:`dedup_append_stream` — bronze ingest: watermarked
  ``dropDuplicates`` on the event key, append sink (reference K2/O6:
  ``ON CONFLICT (trade_id) DO NOTHING``).
- :func:`incremental_candles_stream` — gold aggregation with the
  **lookback-recompute MERGE** semantic (T2): each micro-batch determines
  which (instrument, hour) buckets it touches, recomputes those buckets
  exactly from the source table, and MERGEs them into the gold table.
  Late rows therefore *repair* their hour rather than being dropped —
  the same convergence the reference gets from re-aggregating its
  trailing 3 h window, but driven by the data actually seen instead of a
  wall-clock guess.

Why foreachBatch + MERGE instead of a watermarked window aggregation in
update mode: ``open``/``close`` are order-statistics (min_by/max_by), and
update-mode emits per-trigger deltas into an append-only file sink, which
cannot rewrite rows. foreachBatch gives a batch DataFrame per trigger
where the full operator library (and the upsert sink) applies — the
pattern Spark documents for exactly-once MERGE sinks. Each batch's work
is proportional to the touched buckets, not the table (scan pruned by the
bucket predicate -> partition pruning on a date-partitioned source).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..operators.session_ohlc import ticks_to_ohlc
from ..sinks.upsert import merge_upsert, upsert_partitioned


def read_event_stream(
    spark: SparkSession,
    source_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a directory of event parquet files.

    The schema comes from a one-off batch scan (streaming file sources
    need one up front); new files landing in the directory become
    micro-batches.
    """
    schema = spark.read.parquet(source_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def dedup_append_stream(
    spark: SparkSession,
    source_dir: str,
    bronze_path: str,
    checkpoint_dir: str,
    key_col: str = "event_id",
    ts_col: str = "ts",
    watermark: str = "2 hours",
    available_now: bool = True,
    within_watermark: bool = False,
) -> StreamingQuery:
    """Bronze ingest: drop duplicate events (bounded state via watermark),
    append to parquet. Checkpointing makes re-runs resume, not re-ingest.

    ``within_watermark=True`` switches to ``dropDuplicatesWithinWatermark``:
    duplicates are recognized by ``key_col`` alone even when their event
    times differ (at-least-once feeds re-deliver with a fresh timestamp —
    the plain form would treat those as distinct because the event-time
    column participates in the state key). State for a key is evicted once
    the watermark passes its first-seen time + delay, so memory stays
    bounded by the re-delivery horizon.

    Each micro-batch reports observed metrics (row count, event-time
    bounds) through ``df.observe`` — the production observability hook:
    they surface in ``query.lastProgress["observedMetrics"]["ingest"]``
    and StreamingQueryListener without a second pass over the data
    (metrics accumulate inside the running plan)."""
    events = read_event_stream(spark, source_dir)
    marked = events.withWatermark(ts_col, watermark)
    deduped = (
        marked.dropDuplicatesWithinWatermark([key_col])
        if within_watermark
        else marked.dropDuplicates([key_col])
    )
    deduped = (
        deduped
        .observe(
            "ingest",
            F.count(F.lit(1)).alias("rows"),
            F.min(ts_col).alias("min_ts"),
            F.max(ts_col).alias("max_ts"),
        )
    )
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", bronze_path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _batch_extent(batch_df: DataFrame, ts_col: str = "ts"):
    """ONE aggregate over a micro-batch: its first and last hour bucket
    (``lo``, ``hi``) and its distinct days (``days``, the candle table's
    partitions it touches).  It runs in one task, so one Spark job: a
    micro-batch is small, and a shuffle would cost a second job."""
    hour = F.date_trunc("hour", F.col(ts_col))
    return batch_df.coalesce(1).agg(
        F.min(hour).alias("lo"),
        F.max(hour).alias("hi"),
        F.collect_set(F.to_date(ts_col)).alias("days"),
    ).first()


def candles_rebuild_frame(
    spark: SparkSession,
    source_dir: str,
    batch_df: DataFrame,
    instrument_col: str = "event_type",
    ts_col: str = "ts",
    price_col: str = "value",
    id_col: str = "event_id",
) -> tuple[DataFrame, list] | None:
    """The EXACT lazy candle recompute one apply runs per trigger: the
    batch's (lo, hi) hour range from :func:`_batch_extent` → literal
    range predicate into the source scan → broadcast semi-join on exact
    (instrument, hour) membership → OHLC rollup.  Returns the candle
    frame and the batch's days (the day partitions the candles fall in),
    or None for an empty batch.  The audit seam for
    `stream_candles_replay_twin#apply_rebuild` (VERDICT r12 #2).

    The source is read with the batch's own column types (a micro-batch
    of a file stream carries the source schema), so no schema-inference
    job runs."""
    extent = _batch_extent(batch_df, ts_col)
    if extent["lo"] is None:
        return None
    cols = (instrument_col, ts_col, price_col, id_col)
    schema = StructType([batch_df.schema[c] for c in cols])
    source = spark.read.schema(schema).parquet(source_dir).withColumnRenamed(
        instrument_col, "instrument"
    )
    touched = batch_df.select(
        F.col(instrument_col).alias("instrument"),
        F.date_trunc("hour", F.col(ts_col)).alias("bucket_ts"),
    )
    in_scope = (
        source.where(
            (F.col(ts_col) >= F.lit(extent["lo"]))
            & (F.col(ts_col) < F.lit(extent["hi"]) + F.expr("INTERVAL 1 HOUR"))
        )
        .withColumn("bucket_ts", F.date_trunc("hour", F.col(ts_col)))
        .join(F.broadcast(touched), ["instrument", "bucket_ts"], "left_semi")
    )
    candles = ticks_to_ohlc(
        in_scope,
        bucket=F.col("bucket_ts"),
        keys=("instrument",),
        time_col=ts_col,
        price_col=price_col,
        tiebreak_cols=(id_col,),
    )
    return candles, list(extent["days"])


def candles_apply_batch(
    spark: SparkSession,
    source_dir: str,
    gold_path: str,
    batch_df: DataFrame,
    instrument_col: str = "event_type",
    ts_col: str = "ts",
    price_col: str = "value",
    id_col: str = "event_id",
    day_partitioned: bool = True,
) -> None:
    """The exact unit :func:`incremental_candles_stream` hands to
    foreachBatch, callable directly so replay twins can re-deliver a
    batch through the REAL maintenance path (the
    ``stream_candles_replay_twin`` driver query).

    Idempotent under at-least-once delivery BY CONSTRUCTION — unlike the
    additive sketch stores (which need the per-day ``_bid`` marker), the
    candle MERGE recomputes every touched bucket from SOURCE truth and
    upserts by key, so re-delivering any batch — even a stale one after
    later batches landed — recomputes current truth for its buckets and
    the keyed MERGE converges to the same table.

    Touched buckets stay a DataFrame — never collected, so a batch
    touching millions of buckets costs no local memory. One
    aggregate brings back only the (lo, hi) hour bounds, which build a
    literal range predicate that reaches the parquet scan (row-group /
    partition pruning on a date-partitioned source), and the batch's
    days, which tell the sink the partitions it rewrites."""
    rebuilt = candles_rebuild_frame(
        spark,
        source_dir,
        batch_df,
        instrument_col=instrument_col,
        ts_col=ts_col,
        price_col=price_col,
        id_col=id_col,
    )
    if rebuilt is None:
        return
    candles, days = rebuilt
    if day_partitioned:
        upsert_partitioned(
            spark,
            gold_path,
            candles.withColumn("bucket_date", F.to_date("bucket_ts")),
            keys=["instrument", "bucket_ts"],
            partition_col="bucket_date",
            allow_cross_partition_keys=True,
            _touched=days,
        )
    else:
        merge_upsert(
            spark, gold_path, candles, keys=["instrument", "bucket_ts"]
        )


def incremental_candles_stream(
    spark: SparkSession,
    source_dir: str,
    gold_path: str,
    checkpoint_dir: str,
    instrument_col: str = "event_type",
    ts_col: str = "ts",
    price_col: str = "value",
    id_col: str = "event_id",
    available_now: bool = True,
    processing_time: str | None = None,
    max_files_per_trigger: int | None = None,
    day_partitioned: bool = True,
) -> StreamingQuery:
    """Gold job: maintain the hourly-candle table incrementally.

    ``available_now=True`` drains the backlog and stops (batch-style
    runs, tests); ``processing_time='5 seconds'`` instead runs the
    reference's continuous micro-batch cadence (T3, flows/main.py:71-77).

    foreachBatch per micro-batch:
      1. touched buckets = distinct (instrument, hour) in the batch,
      2. recompute exactly those buckets from the source table (the scan
         is pruned by the hour predicate — with a date-partitioned source
         this is partition pruning, so work follows the update slice),
      3. MERGE into the gold parquet table keyed on (instrument, hour).

    Deterministic and idempotent: replaying a micro-batch recomputes the
    same buckets to the same values (T5). ``max_files_per_trigger``
    bounds each micro-batch to that many source files (multi-batch
    drains under availableNow — the replay-schedule knob).

    ``day_partitioned=True`` (default) lays the gold table out as
    ``bucket_date=YYYY-MM-DD/`` partitions and routes the MERGE through
    the partition-pruned upsert: a micro-batch rewrites ONLY the day
    partitions its touched buckets fall in — the T2
    write-cost contract (reference aggregators/option_ohlc.py:36-41
    rewrites only its trailing 3 h window). A plain ``merge_upsert``
    would rewrite the whole gold table every trigger, which at 100 TB
    turns a minutes-old update slice into a full-table write.
    ``bucket_date`` derives from the key column ``bucket_ts``, so a key
    can never move between partitions (the invariant
    ``allow_cross_partition_keys`` vouches for).
    """
    events = read_event_stream(
        spark, source_dir, max_files_per_trigger=max_files_per_trigger
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        candles_apply_batch(
            spark,
            source_dir,
            gold_path,
            batch_df,
            instrument_col=instrument_col,
            ts_col=ts_col,
            price_col=price_col,
            id_col=id_col,
            day_partitioned=day_partitioned,
        )

    writer = (
        events.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    elif available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
