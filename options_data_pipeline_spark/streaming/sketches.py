"""Structured Streaming maintenance of mergeable sketch stores.

Batch pipelines rebuild sketches per run; a streaming ingest should
keep them CURRENT: every micro-batch folds its slice into the stored
per-day registers, so "distinct users today / this week" is always one
cheap merge away — no rescan of the raw stream, ever.  The merge laws
(max for HLL registers, add for CMS counters — pinned in
tests/test_hll_unit.py and tests/test_sketch_store.py) make the result
ORDER-INVARIANT: however the stream is chopped into micro-batches,
and whenever late rows arrive, the store converges to exactly the
sketch of everything seen.  That is a stronger replay story than the
candle MERGE (:mod:`candles`), which must re-read the source for
touched buckets; sketches fold forward from the batch alone plus the
<= M stored rows per touched day.

foreachBatch + partitioned upsert (not a watermarked stateful agg): the
register max is an order statistic over the whole history of a bucket,
which update-mode state would have to hold per (day, bucket) anyway —
the store IS that state, checkpointed as a queryable table, and the
write cost per trigger is the touched days' <= M rows
(``upsert_partitioned`` leaves untouched day partitions byte-identical
— the same T2 write-cost contract as the gold candle table)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.hll import hll_registers, merge_registers
from ..sinks.upsert import upsert_partitioned
from .candles import read_event_stream


def _merge_batch_into_store(
    spark: SparkSession,
    store_path: str,
    batch_regs: DataFrame,
) -> None:
    """Max-merge a batch's (day, bucket, reg) rows with the stored
    registers of the SAME days, then partition-pruned upsert.  Reading
    the store filtered to the batch's days is partition pruning on the
    day-partitioned store — per-trigger read cost follows the slice."""
    # _read_target distinguishes a genuine cold start (None) from a real
    # read error (propagates) — swallowing the latter would fold the
    # batch into an EMPTY store and upsert, silently resetting the
    # touched days' registers (the ADVICE-r3 lesson the sinks encode)
    from ..sinks.upsert import _read_target

    target = _read_target(spark, store_path)
    if target is None:
        merged = batch_regs
    else:
        stored = target.select("day", "bucket", "reg").join(
            batch_regs.select("day").distinct(), "day"
        )
        merged = merge_registers(batch_regs.unionByName(stored), ["day"])
    upsert_partitioned(
        spark,
        store_path,
        merged,
        keys=["day", "bucket"],
        partition_col="day",
    )


def hll_register_stream(
    spark: SparkSession,
    source_dir: str,
    store_path: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Maintain a per-day HLL register store from an event stream.

    Exactly-once story: the register merge is IDEMPOTENT (max of a max
    is the max), so a replayed micro-batch converges instead of
    double-counting — the property that lets this sink survive the
    at-least-once delivery foreachBatch gives over non-transactional
    stores."""
    stream = read_event_stream(
        spark, source_dir, max_files_per_trigger=max_files_per_trigger
    )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        ev = batch_df.select(
            F.to_date(F.col(ts_col)).alias("day"),
            F.col(key_col),
        )
        regs = hll_registers(ev, key_col, ["day"])
        _merge_batch_into_store(spark, store_path, regs)

    writer = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _stamped_day_filter(
    ev: DataFrame, target: DataFrame | None, batch_id: int
) -> DataFrame:
    """Drop the slice's rows for days whose stored ``_bid`` already
    reached this batch id (broadcast done-day anti-join) — the
    replay-skip every additive apply runs BEFORE building its grid."""
    if target is None or "_bid" not in target.columns:
        return ev
    done_days = (
        target.groupBy("day")
        .agg(F.max("_bid").alias("_mx"))
        .where(F.col("_mx") >= batch_id)
        .select("day")
    )
    return ev.join(F.broadcast(done_days), "day", "left_anti")


def additive_merge_frame(
    spark: SparkSession,
    store_path: str,
    ev: DataFrame,
    build_grid,
    batch_id: int,
    cell_cols: tuple[str, ...],
    target: DataFrame | None = None,
    target_read: bool = False,
) -> DataFrame:
    """The EXACT lazy frame one additive-store apply writes per
    trigger: stamped-day anti-join → ``build_grid`` → ADD-merge with
    the stored rows of the SAME days → ``_bid`` stamp.  Extracted as a
    module seam so the plan audit pins the per-trigger apply path
    (`*_twin#apply_merge` rows in PLANS.md, VERDICT r12 #2) on the
    code :func:`_additive_apply_batch` actually executes.

    Replay contract: unlike the HLL max (idempotent), counter addition
    is NOT replay-idempotent by itself, and foreachBatch only
    guarantees AT-LEAST-ONCE delivery — a micro-batch that commits its
    partition swaps but dies before the checkpoint commit re-executes
    on restart with the SAME batch_id and slice (ADVICE r8 medium).
    Exactly-once is carried by the store itself: every row carries
    ``_bid``, the id of the last batch folded into its day, stamped in
    the SAME atomic partition swap as the counters; days whose stored
    ``_bid`` already reached this batch's id are dropped by the
    anti-join, so a committed-then-replayed batch converges instead of
    double-counting.  The granule is the day partition (the swap
    unit).  ``target_read`` lets the caller pass its already-loaded
    store frame so one apply reads the store once.  ``cell_cols``
    names the counter key within a day — ("r", "c") for the CMS grid,
    ("event_type", "bin") for the histogram store — the add-merge law
    and the replay protection are IDENTICAL for every additive store,
    so the machinery is shared, not duplicated."""
    from ..sinks.upsert import _read_target

    if not target_read:
        target = _read_target(spark, store_path)
    ev = _stamped_day_filter(ev, target, batch_id)
    grid = build_grid(ev)
    cols = ["day", *cell_cols, "cnt"]
    if target is None:
        return grid.withColumn("_bid", F.lit(batch_id))
    # the grid feeds the touched-day probe AND the add-merge union —
    # unbarriered, each branch re-scans the slice and re-aggregates
    # (the r13 #apply audit showed 7 slice scans per trigger).  The
    # grid is the compact form (cells bounded by sketch geometry ×
    # touched days), so one checkpoint bounds the whole apply at one
    # slice scan.
    from ..operators.materialize import materialize

    grid = materialize(grid)
    batch_days = grid.select("day").distinct()
    stored = target.select(*cols).join(batch_days, "day")
    return (
        grid.select(*cols)
        .unionByName(stored)
        .groupBy("day", *cell_cols)
        .agg(F.sum("cnt").alias("cnt"))
        .withColumn("_bid", F.lit(batch_id))
    )


def _additive_apply_batch(
    spark: SparkSession,
    store_path: str,
    ev: DataFrame,
    build_grid,
    batch_id: int,
    cell_cols: tuple[str, ...],
) -> None:
    """Shared exactly-once apply for ADDITIVE day stores: skip stamped
    days BEFORE building the grid (anti-join the raw slice against the
    broadcast done-day set, early-exit probe), then add-merge + stamp in
    one partition swap (:func:`additive_merge_frame`).  ``ev`` must
    carry a ``day`` column; ``build_grid(ev)`` returns
    (day, *cell_cols, cnt) rows."""
    from ..sinks.upsert import _read_target

    target = _read_target(spark, store_path)
    if target is not None and "_bid" in target.columns:
        # bounded early-exit probe: LocalLimit(1) stops at the first
        # surviving row; a fully-replayed batch scans to prove emptiness
        if not _stamped_day_filter(ev, target, batch_id).limit(1).collect():
            return  # every day already applied this batch id
    merged = additive_merge_frame(
        spark,
        store_path,
        ev,
        build_grid,
        batch_id,
        cell_cols,
        target=target,
        target_read=True,
    )
    upsert_partitioned(
        spark,
        store_path,
        merged,
        keys=["day", *cell_cols],
        partition_col="day",
    )


def cms_apply_batch(
    spark: SparkSession,
    store_path: str,
    batch_events: DataFrame,
    batch_id: int,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> None:
    """Fold one micro-batch slice into the CMS day store, exactly once.

    This is the unit :func:`cms_register_stream` hands to foreachBatch,
    exposed so the replay contract is directly drivable: calling it
    twice with the same ``batch_id`` (the at-least-once retry) or with a
    stale smaller id is a no-op for every day already stamped — pinned
    end-to-end by the ``cms_store_replay_twin`` registry query and
    tests/test_streaming_sketches.py.  Store and checkpoint lifecycles
    are coupled (standard foreachBatch idempotent-sink recipe): restart
    the stream on a fresh checkpoint only against a fresh store.

    The stamped-day skip happens BEFORE the grid is built: a replayed
    batch's raw slice anti-joins the (broadcast, <= touched days) done
    set, so the md5 cell aggregation, staging write, and partition swap
    are never paid for days already committed — a full same-id replay
    costs one early-exit probe of the slice and nothing else."""
    ev, build = _cms_parts(batch_events, key_col, ts_col)
    _additive_apply_batch(
        spark, store_path, ev, build, batch_id, cell_cols=("r", "c")
    )


def _cms_parts(batch_events: DataFrame, key_col: str, ts_col: str):
    """(slice-with-day, grid builder) for the CMS apply — one shared
    construction site so the executed apply and the audit frame can
    never drift apart."""
    from ..operators.cms import cms_build

    ev = batch_events.select(
        F.to_date(F.col(ts_col)).alias("day"),
        F.col(key_col),
    )
    return ev, (lambda e: cms_build(e, key_col, ["day"]))


def cms_merge_frame(
    spark: SparkSession,
    store_path: str,
    batch_events: DataFrame,
    batch_id: int,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """The lazy frame :func:`cms_apply_batch` writes per trigger — the
    audit seam for `cms_store_replay_twin#apply_merge`."""
    ev, build = _cms_parts(batch_events, key_col, ts_col)
    return additive_merge_frame(
        spark, store_path, ev, build, batch_id, cell_cols=("r", "c")
    )


def cms_register_stream(
    spark: SparkSession,
    source_dir: str,
    store_path: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Maintain a per-day Count-Min grid store from an event stream.

    The counter-addition merge law makes the converged store equal the
    batch grid of everything seen, however the stream was chopped into
    micro-batches and whenever late rows arrived (stream ≡ batch pinned
    in tests/test_streaming_sketches.py).  Replay safety: counter ADD is
    not idempotent, so each day partition carries the last-applied
    ``_bid`` and a re-delivered batch skips its already-stamped days
    (see :func:`cms_apply_batch` — the foreachBatch idempotent-sink
    recipe).  Per-trigger write cost is the touched days' <= D*W grid
    rows; the consumer side
    (:func:`..plans.stores.cms_week_topk_consumer`) answers top-k
    questions from the store alone."""
    stream = read_event_stream(
        spark, source_dir, max_files_per_trigger=max_files_per_trigger
    )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        cms_apply_batch(
            spark, store_path, batch_df, batch_id, key_col=key_col, ts_col=ts_col
        )

    writer = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def hist_apply_batch(
    spark: SparkSession,
    store_path: str,
    batch_events: DataFrame,
    batch_id: int,
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
) -> None:
    """Fold one micro-batch slice into the histogram-bin day store,
    exactly once — the third store type (HLL max / CMS add / HIST add)
    under the SAME shared additive machinery and per-day ``_bid`` replay
    protection (:func:`_additive_apply_batch`).  Bin arithmetic is the
    plans' shared 256-bin equi-width convention, so the converged store
    equals the batch build bit-for-bit."""
    ev, build = _hist_parts(batch_events, ts_col, type_col, value_col)
    _additive_apply_batch(
        spark,
        store_path,
        ev,
        build,
        batch_id,
        cell_cols=("event_type", "bin"),
    )


def _hist_parts(
    batch_events: DataFrame, ts_col: str, type_col: str, value_col: str
):
    """(slice-with-day, grid builder) for the histogram apply — shared
    by the executed apply and the audit frame."""
    from ..plans.quality import HIST_BINS, HIST_LO, HIST_W

    ev = batch_events.where(F.col(value_col).isNotNull()).select(
        F.to_date(F.col(ts_col)).alias("day"),
        F.col(type_col).alias("event_type"),
        F.col(value_col).alias("value"),
    )

    def build(e: DataFrame) -> DataFrame:
        bin_ = F.least(
            F.lit(HIST_BINS - 1),
            F.greatest(
                F.lit(0), F.floor((F.col("value") - HIST_LO) / HIST_W)
            ),
        ).cast("int")
        return (
            e.select("day", "event_type", bin_.alias("bin"))
            .groupBy("day", "event_type", "bin")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    return ev, build


def hist_merge_frame(
    spark: SparkSession,
    store_path: str,
    batch_events: DataFrame,
    batch_id: int,
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """The lazy frame :func:`hist_apply_batch` writes per trigger — the
    audit seam for `hist_store_stream_twin#apply_merge`."""
    ev, build = _hist_parts(batch_events, ts_col, type_col, value_col)
    return additive_merge_frame(
        spark, store_path, ev, build, batch_id, cell_cols=("event_type", "bin")
    )


def hist_register_stream(
    spark: SparkSession,
    source_dir: str,
    store_path: str,
    checkpoint_dir: str,
    ts_col: str = "ts",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Maintain the per-(type, day) histogram-bin store from an event
    stream: every later quantile question (any window, any percentile)
    reads ONLY stored counters (:func:`..plans.stores.
    hist_week_quantile_consumer`).  Same replay story as the CMS store —
    the shared per-day ``_bid`` stamp makes the at-least-once
    foreachBatch delivery exactly-once per day partition."""
    stream = read_event_stream(
        spark, source_dir, max_files_per_trigger=max_files_per_trigger
    )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        hist_apply_batch(spark, store_path, batch_df, batch_id, ts_col=ts_col)

    writer = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dds_apply_batch(
    spark: SparkSession,
    store_path: str,
    batch_events: DataFrame,
    batch_id: int,
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
) -> None:
    """Fold one micro-batch slice into the DDS relative-error bucket
    day store, exactly once — the FOURTH store type (HLL max / CMS add /
    HIST add / DDS add) under the same shared additive machinery and
    per-day ``_bid`` replay protection (:func:`_additive_apply_batch`).
    Bucket arithmetic is operators/dds.py's shared decimal-log text, so
    the converged store equals the batch build bit-for-bit."""
    ev, build = _dds_parts(batch_events, ts_col, type_col, value_col)
    _additive_apply_batch(
        spark,
        store_path,
        ev,
        build,
        batch_id,
        cell_cols=("event_type", "bucket"),
    )


def _dds_parts(
    batch_events: DataFrame, ts_col: str, type_col: str, value_col: str
):
    """(slice-with-day, grid builder) for the DDS apply — shared by the
    executed apply and the audit frame."""
    from ..operators.dds import sql_dds_bucket

    ev = batch_events.where(F.col(value_col).isNotNull()).select(
        F.to_date(F.col(ts_col)).alias("day"),
        F.col(type_col).alias("event_type"),
        F.col(value_col).alias("value"),
    )

    def build(e: DataFrame) -> DataFrame:
        return (
            e.select(
                "day", "event_type",
                F.expr(sql_dds_bucket("value")).alias("bucket"),
            )
            .groupBy("day", "event_type", "bucket")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    return ev, build


def dds_merge_frame(
    spark: SparkSession,
    store_path: str,
    batch_events: DataFrame,
    batch_id: int,
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """The lazy frame :func:`dds_apply_batch` writes per trigger — the
    audit seam for `dds_store_stream_twin#apply_merge`."""
    ev, build = _dds_parts(batch_events, ts_col, type_col, value_col)
    return additive_merge_frame(
        spark,
        store_path,
        ev,
        build,
        batch_id,
        cell_cols=("event_type", "bucket"),
    )


def dds_register_stream(
    spark: SparkSession,
    source_dir: str,
    store_path: str,
    checkpoint_dir: str,
    ts_col: str = "ts",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Maintain the per-(type, day) DDS bucket store from an event
    stream: every later tail-quantile question reads ONLY stored
    counters (:func:`..plans.stores.dds_week_quantile_consumer`).  Same
    replay story as the CMS/histogram stores — the shared per-day
    ``_bid`` stamp makes at-least-once foreachBatch delivery
    exactly-once per day partition."""
    stream = read_event_stream(
        spark, source_dir, max_files_per_trigger=max_files_per_trigger
    )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        dds_apply_batch(spark, store_path, batch_df, batch_id, ts_col=ts_col)

    writer = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def reservoir_apply_batch(
    spark: SparkSession,
    store_path: str,
    batch_events: DataFrame,
    batch_id: int,
    ts_col: str = "ts",
    type_col: str = "event_type",
    key_col: str = "event_id",
    value_col: str = "value",
) -> None:
    """Fold one micro-batch slice into the per-(day, type) row-reservoir
    store, exactly once — the FIFTH store type, and the second (after
    HLL max) whose merge law is replay-idempotent BY CONSTRUCTION, so
    it needs no ``_bid`` stamp: bottom-k under a deterministic priority
    is an order statistic, and re-delivered rows dedup against the
    stored keys and re-rank identically (min of a min is the min).

    Per trigger: bottom-k the slice per (day, type), union with the
    stored rows of the SAME days (partition-pruned read), dedup on the
    row key, re-bottom-k, and slot-keyed partitioned upsert — write
    cost follows touched days; rank slots only ever improve (the
    candidate set grows monotonically)."""
    merged = reservoir_merge_frame(
        spark, store_path, batch_events,
        ts_col=ts_col, type_col=type_col,
        key_col=key_col, value_col=value_col,
    )
    upsert_partitioned(
        spark,
        store_path,
        merged,
        keys=["day", "event_type", "rank"],
        partition_col="day",
    )


def reservoir_merge_frame(
    spark: SparkSession,
    store_path: str,
    batch_events: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    key_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """The one apply's merge frame (pre-upsert): union the slice with
    the stored rows of the SAME days (partition-pruned), dedup on the
    row key, bottom-k once.  Split out of
    :func:`reservoir_apply_batch` so the plan audit can inspect the
    interior maintenance plan (`audit_frames`, VERDICT r11 #3) — and
    the first committed audit promptly flagged the original shape
    (pre-shrinking the slice with its OWN bottom-k before the union:
    11 shuffles / 8 windows per trigger).  The pre-shrink is
    redundant: the final salted re-rank dominates it — bottom-k(slice
    ∪ stored) ≡ bottom-k(bottom-k(slice) ∪ stored) — so one ranking
    pass suffices (5 shuffles / 2 windows), identical hashes."""
    from ..operators.reservoir import reservoir_bottom_k, rsv_priority
    from ..sinks.upsert import _read_target

    ev = batch_events.select(
        F.to_date(F.col(ts_col)).alias("day"),
        F.col(type_col).alias("event_type"),
        F.col(key_col).alias("event_id"),
        F.col(value_col).alias("value"),
        rsv_priority(F.col(key_col)).alias("p"),
    )
    target = _read_target(spark, store_path)
    if target is None:
        merged_src = ev
    else:
        stored = target.select(
            "day", "event_type", "event_id", "value", "p"
        ).join(ev.select("day").distinct(), "day")
        merged_src = ev.unionByName(stored).dropDuplicates(
            ["day", "event_type", "event_id"]
        )
    return reservoir_bottom_k(
        merged_src, ["day", "event_type"], "p", "event_id"
    )


def reservoir_register_stream(
    spark: SparkSession,
    source_dir: str,
    store_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Maintain the per-(day, type) row-reservoir store from an event
    stream: the deterministic sample is always current, and any window
    rollup (:func:`..plans.stores.reservoir_week_consumer`) reads <=
    7*K stored rows per group.  Exactly-once story: idempotent by
    construction — see :func:`reservoir_apply_batch`."""
    stream = read_event_stream(
        spark, source_dir, max_files_per_trigger=max_files_per_trigger
    )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        reservoir_apply_batch(spark, store_path, batch_df, batch_id)

    writer = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def mg_apply_batch(
    spark: SparkSession,
    store_path: str,
    batch_events: DataFrame,
    batch_id: int,
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> None:
    """Fold one micro-batch slice into the per-day truncated-counts
    heavy-hitters store (the SIXTH store type), exactly once.

    Unlike the reservoir (idempotent order statistic) the MG fold is
    NOT replay-safe by construction: the slice's counts ADD into the
    stored counters before re-truncation, so a re-delivered batch
    would double-count — the additive-store hazard.  Protection is the
    shared ``_bid`` recipe: every stored row carries the id of the
    last batch folded into its day, stamped in the SAME partition swap
    as the counters; stamped days are skipped wholesale (their
    partitions never rewritten).

    Per trigger: exact slice counts per (day, key), ADD-merge with the
    stored top-m rows of the SAME days (partition-pruned read), then
    re-truncate — the error bound grows by the merged (m+1)-th count,
    exactly the SpaceSaving merge bound (Agarwal et al., "Mergeable
    Summaries").  Truncation makes the fold order-DEPENDENT; the
    adjudicating oracle replays the identical wave order."""
    from ..sinks.upsert import _read_target

    target = _read_target(spark, store_path)
    if target is not None and "_bid" in target.columns:
        ev = batch_events.select(
            F.to_date(F.col(ts_col)).alias("day"),
            F.col(key_col).alias("user_id"),
        )
        if not _stamped_day_filter(ev, target, batch_id).limit(1).collect():
            return  # every day already applied this batch id
    summary = mg_merge_frame(
        spark,
        store_path,
        batch_events,
        batch_id,
        ts_col=ts_col,
        key_col=key_col,
        target=target,
        target_read=True,
    )
    upsert_partitioned(
        spark,
        store_path,
        summary,
        keys=["day", "rank"],
        partition_col="day",
    )


def mg_merge_frame(
    spark: SparkSession,
    store_path: str,
    batch_events: DataFrame,
    batch_id: int,
    ts_col: str = "ts",
    key_col: str = "user_id",
    target: DataFrame | None = None,
    target_read: bool = False,
) -> DataFrame:
    """The EXACT lazy summary frame one MG apply writes per trigger:
    stamped-day anti-join → exact slice counts → ADD-merge with the
    same days' stored counters + carried error bound → re-truncate →
    ``_bid`` stamp.  The audit seam for
    `stream_mg_topk_twin#apply_merge` (VERDICT r12 #2)."""
    from ..operators.heavyhitters import mg_truncate
    from ..sinks.upsert import _read_target

    if not target_read:
        target = _read_target(spark, store_path)
    ev = _stamped_day_filter(
        batch_events.select(
            F.to_date(F.col(ts_col)).alias("day"),
            F.col(key_col).alias("user_id"),
        ),
        target,
        batch_id,
    )
    dc = ev.groupBy("day", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    if target is None:
        comb = dc
        err_in = None
    else:
        # dc feeds the touched-day probe, the add-merge union, and the
        # error-bound lookup — unbarriered, the r13 #apply audit showed
        # 33 slice/store scans per trigger from branch re-derivation.
        # One checkpoint of the compact per-(day, key) slice counts
        # bounds the apply at one slice scan.
        from ..operators.materialize import materialize

        dc = materialize(dc)
        touched = dc.select("day").distinct()
        stored = target.select("day", "user_id", "cnt").join(
            touched, "day"
        )
        comb = (
            dc.unionByName(stored)
            .groupBy("day", "user_id")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
        )
        err_in = target.select("day", "err").join(
            touched, "day"
        ).groupBy("day").agg(F.max("err").alias("_err_in"))
    if err_in is None:
        with_err = comb.withColumn("err", F.lit(0).cast("long"))
    else:
        with_err = comb.join(F.broadcast(err_in), "day", "left").select(
            "day",
            "user_id",
            "cnt",
            F.coalesce(F.col("_err_in"), F.lit(0)).cast("long").alias(
                "err"
            ),
        )
    return mg_truncate(with_err, ["day"], "user_id").withColumn(
        "_bid", F.lit(batch_id)
    )


def mg_register_stream(
    spark: SparkSession,
    source_dir: str,
    store_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Maintain the per-day truncated-counts heavy-hitters store from
    an event stream; the weekly rollup
    (:func:`..plans.stores.mg_week_topk_consumer`) reads <= 7*m stored
    rows per week."""
    from .candles import read_event_stream

    stream = read_event_stream(spark, source_dir)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        mg_apply_batch(spark, store_path, batch_df, batch_id)

    writer = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def weighted_reservoir_merge_frame(
    spark: SparkSession,
    store_path: str,
    batch_docs: DataFrame,
) -> DataFrame:
    """One apply's merge frame for the WEIGHTED row-reservoir store:
    union the slice with the stored rows of the SAME langs
    (partition-pruned), dedup on doc_id, bottom-k once under the
    h/w priority — the weighted sibling of
    :func:`reservoir_merge_frame`, same single-ranking-pass shape."""
    from ..operators.reservoir import (
        reservoir_bottom_k,
        rsv_weighted_priority,
    )
    from ..sinks.upsert import _read_target

    docs = batch_docs.select(
        "lang",
        "source",
        "doc_id",
        "n_chars",
        rsv_weighted_priority(F.col("doc_id"), F.col("n_chars")).alias(
            "wp"
        ),
    )
    target = _read_target(spark, store_path)
    if target is None:
        merged_src = docs
    else:
        stored = target.select(
            "lang", "source", "doc_id", "n_chars", "wp"
        ).join(docs.select("lang").distinct(), "lang")
        merged_src = docs.unionByName(stored).dropDuplicates(
            ["lang", "source", "doc_id"]
        )
    return reservoir_bottom_k(
        merged_src, ["lang", "source"], "wp", "doc_id"
    )


def weighted_reservoir_apply_batch(
    spark: SparkSession,
    store_path: str,
    batch_docs: DataFrame,
    batch_id: int,
) -> None:
    """Fold one document micro-batch into the per-(lang, source)
    WEIGHTED row-reservoir store.  Idempotent BY CONSTRUCTION like the
    uniform reservoir — priorities are deterministic (h/w), re-delivered
    rows dedup on doc_id and re-rank identically — so no ``_bid`` stamp
    is needed; ``batch_id`` is accepted for the shared foreachBatch
    signature only."""
    merged = weighted_reservoir_merge_frame(spark, store_path, batch_docs)
    upsert_partitioned(
        spark,
        store_path,
        merged,
        keys=["lang", "source", "rank"],
        partition_col="lang",
    )


def weighted_reservoir_register_stream(
    spark: SparkSession,
    source_dir: str,
    store_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Maintain the weighted sample store from a document-file stream."""
    from .candles import read_event_stream

    stream = read_event_stream(spark, source_dir)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        weighted_reservoir_apply_batch(spark, store_path, batch_df, batch_id)

    writer = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
