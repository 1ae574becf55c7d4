"""Keyed upsert sinks over plain Parquet (MERGE semantics without Delta).

The reference engine's sinks are all keyed upserts into PostgreSQL
(`ON CONFLICT (key) DO UPDATE/DO NOTHING`, reference
src/pipeline/collectors/binance.py:76-125, deribit.py:83-137,
aggregators/base.py:155-238). On a lakehouse the idiomatic equivalent is
Delta `MERGE INTO`; this container ships vanilla Spark, so the same
semantics are implemented by one merge core (:func:`_merge`) behind
every keyed upsert — :func:`merge_upsert` (whole table),
:func:`upsert_partitioned` (the touched partitions) and
:func:`upsert_partitioned_moving` (the touched partitions plus the old
partitions of keys that move):

1. read the target — only the touched partitions when the table is
   partitioned on the merge's partition column, else all of it — with
   the schema from the commit record, so no inference job runs;
2. reconcile with one aggregate over batch ∪ target grouped on the key
   (:func:`merge_frame`, a single shuffle): updates win over existing
   rows, and within the batch the last row per key wins (deterministic
   via a priority + monotonic batch order);
3. write the merged slice to ``<target>.staging-<uuid>`` in one job that
   also counts inserted/updated rows and takes the max of every
   timestamp/date key column (an ``Observation``), then swap it in
   under one journal (:mod:`.commit`) — the whole directory, or each
   touched partition directory, dropping a touched partition the slice
   no longer holds;
4. write the commit record last.  Readers see the old table or the new
   one, a crashed swap is rolled forward by the next read, and reruns
   converge (T5 idempotence, SURVEY §2.9).

:func:`insert_if_absent` (``DO NOTHING``) and :func:`apply_cdc` (deletes)
stage their writes the same way; the append moves its staged files in,
the CDC apply swaps the whole table.

Metrics mirror the reference's inserted/updated counters (binance.py
RETURNING xmax trick): *inserted* = update keys absent from the target,
*updated* = update keys already present.

Cost: the partitioned shapes rewrite the touched partitions, so a
micro-batch over a date-partitioned table costs O(batch), not O(table)
(SURVEY §2.9 T2 lookback windows are hours-to-days, so the touched set
stays tiny).  :func:`merge_upsert` rewrites the whole table; it is for
small tables (the daily sessions) and one-shot builds.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from . import commit


# Key columns whose max the commit record keeps (the watermark columns).
_TIME_TYPES = ("timestamp", "timestamp_ntz", "date")


def _read_target(spark: SparkSession, path: str) -> DataFrame | None:
    """Read the current target table, or ``None`` for a genuine cold
    start (path absent, or present but holding no parquet footers).

    Real read errors PROPAGATE: swallowing a transient IO failure here
    would turn the next sink apply into a cold start that atomically
    replaces the table with just the current batch — silent loss of
    every other row, destructive for sinks whose contract includes
    retraction (apply_cdc). ADVICE r3.

    A current commit record (:mod:`.commit`) supplies the schema, so the
    read runs no schema-inference job.  Otherwise the read falls back to
    ``mergeSchema=true`` (ADVICE r9): additive schema evolution rewrites
    only TOUCHED partitions with the new column, so default sampled-footer
    inference can miss it on a later whole-table read — which would make
    the ``'_bid' in target.columns`` replay probe silently disable replay
    protection for stores migrated from pre-``_bid`` layouts.  Merging
    unions every footer's schema instead."""
    commit.recover(path)
    if not os.path.exists(path):
        return None
    rec = commit.read_record(path)
    if rec is not None:
        return spark.read.schema(rec["schema"]).parquet(path)
    try:
        return spark.read.option("mergeSchema", "true").parquet(path)
    except Exception as exc:
        msg = str(exc)
        if (
            "UNABLE_TO_INFER_SCHEMA" in msg
            or "PATH_NOT_FOUND" in msg
            or "Unable to infer schema" in msg
        ):
            return None  # empty/partial directory: legitimate cold start
        raise


def _atomic_replace(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Write ``df`` to a staging dir, then swap it into place."""
    commit.swap_in(commit.stage(df, path, partition_by), path)


def merge_frame(
    updates: DataFrame,
    current: DataFrame | None,
    keys: list[str],
    order_by: list[str] | None = None,
) -> DataFrame:
    """The merge core's reconcile: one aggregate over (batch ∪ stored
    rows) grouped on the keys, a single shuffle.  Per key, ``max_by``
    keeps the row with the highest (from-batch, ``order_by``..., batch
    position): updates win over stored rows and the last batch row wins
    within the batch.  Returns the batch's columns plus ``_u`` (a batch
    row won) and ``_c`` (the key was stored) — module-level so the plan
    audit pins the core's merged frame."""
    # Column expressions are built sparingly: each costs the Python side a
    # few JVM round trips, which at micro-batch size rival a Spark job
    cols = updates.columns
    types = dict(updates.dtypes)
    rest = [c for c in cols if c not in keys]

    def tagged(df: DataFrame, from_batch: bool) -> DataFrame:
        pos = F.monotonically_increasing_id() if from_batch else F.lit(-1).cast("long")
        order = [F.col(c).alias(f"o{j}") for j, c in enumerate(order_by or [])]
        return df.select(
            *keys,
            F.struct(*rest).alias("_v"),
            F.struct(F.lit(from_batch).alias("u"), *order, pos.alias("i")).alias("_p"),
        )

    rows = tagged(updates, True)
    if current is not None:
        # additive schema evolution: a column the batch carries but the
        # stored table predates (audit stamps, the sketch store's per-day
        # _bid replay marker) surfaces as NULL on surviving rows — the
        # same contract Delta's mergeSchema gives
        have = dict(current.dtypes)
        stored = current.select(*[
            c if have.get(c) == types[c]
            else (F.col(c) if c in have else F.lit(None)).cast(types[c]).alias(c)
            for c in cols
        ])
        rows = rows.unionByName(tagged(stored, False))
    return rows.groupBy(*keys).agg(
        F.max_by("_v", "_p").alias("_v"),
        F.max("_p.u").alias("_u"),
        (~F.min("_p.u")).alias("_c"),
    ).select(*keys, "_v.*", "_u", "_c").select(*cols, "_u", "_c")


def _merge(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    partition_by: list[str] | None = None,
    scoped: bool = False,
    touched: list | None = None,
    audit_col: str | None = None,
    order_by: list[str] | None = None,
) -> dict[str, int]:
    """The merge core behind every keyed upsert: one shuffle
    (:func:`merge_frame`) and one write job per call.

    With ``scoped`` (one partition column) only the partitions the batch
    touches are read, merged and swapped in; ``touched`` lists them when
    the caller already knows them (a superset is fine — the write
    verifies it), otherwise one aggregate over the batch finds them.  A
    touched partition the merged slice no longer holds (its keys moved
    to other partitions) is dropped by the swap.  A first write, or a
    table laid out another way, is rewritten whole.

    The inserted/updated counts and the max of every timestamp/date key
    column ride the write through an ``Observation``.  A batch that
    changes no row is a no-op commit.  The commit record goes last."""
    partition_by = list(partition_by or [])
    raw = updates
    if audit_col:
        updates = updates.withColumn(audit_col, F.current_timestamp())
    current = _read_target(spark, target_path)
    rec = commit.read_record(target_path) if current is not None else None
    part = partition_by[0] if scoped else None
    if current is not None and scoped and commit.partition_columns(target_path, rec) == [part]:
        # the token of the files just read: the new record's token builds on it
        base = rec["token"] if rec else commit.snapshot(target_path)
        if touched is None:
            touched = [r[0] for r in raw.select(part).distinct().collect()]
        current = current.where(F.col(part).isin(touched))
    else:
        scoped = False

    merged = merge_frame(updates, current, keys, order_by)
    from_u, in_c = F.col("_u"), F.col("_c")
    times = [n for n, t in updates.dtypes if n in keys and t in _TIME_TYPES]
    probes = [
        F.sum((from_u & in_c).cast("long")).alias("updated"),
        F.sum((from_u & ~in_c).cast("long")).alias("inserted"),
        *[F.max(t).alias(f"max{i}") for i, t in enumerate(times)],
    ]
    if scoped:
        probes.append(
            F.sum((from_u & ~F.col(part).isin(touched)).cast("long")).alias("outside")
        )
    obs = Observation()
    out = merged.observe(obs, *probes).drop("_u", "_c")
    staging = commit.stage(out, target_path, partition_by)
    got = obs.get
    counts = {"inserted": int(got["inserted"] or 0), "updated": int(got["updated"] or 0)}
    if scoped and got["outside"]:
        # the batch reaches partitions the scope missed: their rows were
        # not read, so this slice must not be swapped in; merge again
        # over the scope widened by the batch's own partitions
        shutil.rmtree(staging)
        more = [r[0] for r in raw.select(part).distinct().collect() if r[0] not in touched]
        if not more:
            raise RuntimeError(f"{target_path}: partition values changed between reads")
        return _merge(spark, target_path, raw, keys, partition_by, True, touched + more,
                      audit_col, order_by)
    if not counts["inserted"] + counts["updated"]:
        shutil.rmtree(staging)
        return counts
    maxes = {t: got[f"max{i}"] for i, t in enumerate(times)}
    names = [f.name for f in out.schema]
    fields = [f for f in out.schema if f.name not in partition_by]
    if scoped:
        # untouched partitions keep the columns they were written with
        fields += [f for f in current.schema if f.name not in names + partition_by]
        # the maxes of untouched partitions come from the previous record
        for t, v in maxes.items():
            old = commit.record_max(rec, t) if rec else None
            maxes[t] = old if v is None or old is None else max(old, v)
        # every touched partition is staged, an empty one when the slice
        # no longer holds it: the swap drops that partition
        for v in touched:
            os.makedirs(os.path.join(staging, commit.partition_dir(part, v)), exist_ok=True)
    schema = StructType(fields + [out.schema[p] for p in partition_by])
    if scoped:
        token = commit.swap_partitions(staging, target_path, base)
        commit.write_record(target_path, schema, partition_by, maxes, counts, token)
    else:
        commit.write_record(staging, schema, partition_by, maxes, counts)
        commit.swap_in(staging, target_path)
    return counts


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    audit_col: str | None = None,
    partition_by: list[str] | None = None,
    order_by: list[str] | None = None,
) -> dict[str, int]:
    """MERGE ``updates`` into the parquet table at ``target_path``,
    rewriting the whole table.

    whenMatched → update all columns; whenNotMatched → insert. Returns
    ``{"inserted": n, "updated": m}`` (reference K1 metric semantics).
    ``audit_col`` stamps ``current_timestamp()`` on every written update
    row (reference ``updated_at = NOW()``, binance_1m.py:124-132).

    ``order_by`` names the columns that define in-batch "later" for
    last-wins dedup (e.g. a batch-sequence or event-time column) — the
    reference's later-statement-wins is only meaningful under an explicit
    logical order. Without it the fallback is physical order
    (``monotonically_increasing_id``), which is deterministic only for
    single-partition driver-built batches; a shuffled/joined updates frame
    should always pass ``order_by``.
    """
    return _merge(spark, target_path, updates, keys, partition_by,
                  audit_col=audit_col, order_by=order_by)


def first_occurrences(batch: DataFrame, keys: list[str]) -> DataFrame:
    """In-batch dedup where the first occurrence of a key wins, as
    ``ON CONFLICT DO NOTHING`` keeps the first."""
    w = Window.partitionBy(*keys).orderBy(F.monotonically_increasing_id().asc())
    return batch.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


def insert_if_absent(
    spark: SparkSession,
    target_path: str,
    batch: DataFrame,
    keys: list[str],
) -> dict[str, int]:
    """Append only rows whose key is not yet present (reference K2,
    ``ON CONFLICT DO NOTHING`` on trade_id, deribit.py:83-137). Returns
    ``{"inserted": n, "skipped": m}``.  A partitioned target keeps its
    layout: ``batch`` must carry the partition columns.

    One write job: the fresh rows go to a staging directory while two
    ``Observation``s count the batch and the rows written; the staged
    files then move into the table.  A batch whose keys all exist
    commits nothing."""
    seen, kept = Observation(), Observation()
    # deduped-away rows count as skipped, like rowcount under DO NOTHING
    batch = first_occurrences(batch.observe(seen, F.count(F.lit(1)).alias("n")), keys)
    current = _read_target(spark, target_path)
    if current is None:
        _atomic_replace(batch.observe(kept, F.count(F.lit(1)).alias("n")), target_path)
    else:
        # append-only: no rewrite of existing data, scales with the batch;
        # a partitioned table takes the rows into its partition directories
        fresh = batch.join(current.select(*keys), keys, "left_anti")
        out = fresh.select(current.columns).observe(kept, F.count(F.lit(1)).alias("n"))
        staging = commit.stage(out, target_path, commit.partition_columns(target_path))
        if kept.get["n"]:
            commit.append_files(staging, target_path)
        shutil.rmtree(staging)
    n = kept.get["n"]
    return {"inserted": n, "skipped": seen.get["n"] - n}


def upsert_partitioned(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    partition_col: str,
    audit_col: str | None = None,
    allow_cross_partition_keys: bool = False,
    *,
    _touched: list | None = None,
) -> dict[str, int]:
    """Partition-pruned MERGE: only partitions present in ``updates`` are
    read, merged and swapped in — the 100 TB shape (the write cost
    follows the incremental slice, not the table).  ``_touched`` is for
    package callers that already hold the batch's partition values (from
    an aggregate they run anyway).

    Reconciliation only sees the touched partitions, so a key that moves
    to a new ``partition_col`` value would leave its stale row alive in
    the untouched partition — weaker than PG ``ON CONFLICT``. Therefore
    ``partition_col`` must be part of ``keys`` (making moves impossible),
    unless the caller passes ``allow_cross_partition_keys=True`` to vouch
    for the invariant that a key's partition value never changes (true for
    time-bucketed ingest, where the partition is derived from the key).
    """
    if partition_col not in keys and not allow_cross_partition_keys:
        raise ValueError(
            f"partition_col {partition_col!r} is not in keys {keys}: a key "
            "that changes partition would silently duplicate. Add it to "
            "keys, or pass allow_cross_partition_keys=True if keys can "
            "never move between partitions."
        )
    return _merge(
        spark, target_path, updates, keys, [partition_col],
        scoped=True, touched=_touched, audit_col=audit_col,
    )


def moving_probe_frame(
    current: DataFrame, ukp: DataFrame, keys: list[str], partition_col: str
) -> DataFrame:
    """The move-aware MERGE's key-only probe: a column-pruned
    (keys, partition) scan broadcast-joined to the batch's key set —
    module-level seam so the plan audit pins the sink's interior plan
    (`audit_frames`, the r12 sink-level extension)."""
    return current.select(
        *keys, F.col(partition_col).alias("_old_part")
    ).join(F.broadcast(ukp), keys)


def af_sink_moving_upsert(spark: SparkSession, sf_dir: str, scratch: str):
    """Audit hook: a small target + a batch whose keys MOVE partitions;
    the probe and the core's merged frame are the sink's interior."""
    t = f"{scratch}/mv"
    cur = spark.range(0, 500).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("string").alias("cell"),
        (F.col("id") * 1.5).alias("v"),
    )
    cur.write.partitionBy("cell").parquet(t)
    current = spark.read.parquet(t)
    updates = spark.range(0, 100).select(
        (F.col("id") * 5).alias("k"),
        ((F.col("id") + 1) % 4).cast("string").alias("cell"),
        (F.col("id") * 2.5).alias("v"),
    )
    ukp = updates.select("k", F.col("cell").alias("_new_part")).distinct()
    probe = moving_probe_frame(current, ukp, ["k"], "cell")
    # audit shape: the touched slice has the same plan as the whole table
    return {"probe": probe, "merge": merge_frame(updates, current, ["k"])}


def upsert_partitioned_moving(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    partition_col: str,
) -> dict[str, int]:
    """Partition-pruned MERGE for keys that MAY move between partitions.

    :func:`upsert_partitioned` forbids cross-partition keys because its
    reconciliation only reads the updates' own partitions — a moved key
    would leave a stale row alive in its old partition.  Index
    maintenance breaks that invariant by construction: an updated vector
    re-assigns to a (possibly different) IVF cell, a re-bucketed record
    changes shard.  This shape also reads the updated keys' OLD
    partitions, so the merge core keeps one row per key and the swap
    drops a partition the moves drained: the maintained table equals a
    full rebuild.

    Cost shape at 100 TB: finding the old partitions is a KEY-ONLY probe
    — a column-pruned scan of ``(keys, partition_col)`` joined to the
    (broadcast) update key set; the payload columns of untouched
    partitions are never read, and the rewrite covers only old ∪ new
    partitions of the batch.  Production systems with stricter budgets
    keep that two-column projection as a maintained sidecar
    (key→partition map) — the probe is exactly the query that sidecar
    would serve.

    Returns ``{"inserted", "updated", "moved"}`` — *moved* counts
    updated keys whose partition changed (stale rows evicted).
    """
    if partition_col in keys:
        raise ValueError(
            f"partition_col {partition_col!r} is in keys {keys}: keys "
            "cannot move — use upsert_partitioned (cheaper: no old-"
            "partition probe)."
        )
    current = _read_target(spark, target_path)
    moved, touched = 0, None
    if current is not None:
        ukp = updates.select(*keys, F.col(partition_col).alias("_new_part")).distinct()
        # one aggregate over the probe: the moved count and the old
        # partitions (current's keys are unique, so rows are keys)
        probe = moving_probe_frame(current, ukp, keys, partition_col).agg(
            F.sum((F.col("_old_part") != F.col("_new_part")).cast("long")).alias("moved"),
            F.collect_set("_old_part").alias("old"),
        ).first()
        moved = int(probe["moved"] or 0)
        new = [r[0] for r in ukp.select("_new_part").distinct().collect()]
        touched = list(set(probe["old"]) | set(new))
    counts = _merge(spark, target_path, updates, keys, [partition_col],
                    scoped=True, touched=touched)
    return {**counts, "moved": moved}


def apply_cdc(
    spark: SparkSession,
    target_path: str,
    changes: DataFrame,
    keys: list[str],
    seq_col: str,
    op_col: str = "op",
    partition_by: list[str] | None = None,
) -> dict[str, int]:
    """Apply a CDC change log (insert/update/delete) to the parquet
    table at ``target_path`` — the Debezium-shaped sink the MERGE
    emulation family lacked: ``merge_upsert`` can only add or replace
    rows, but a replicated source also RETRACTS them.

    ``changes`` carries the key columns, ``seq_col`` (the change order —
    LSN / binlog position / event time) and ``op_col`` with values
    'I'/'U'/'D'; payload columns ride alongside. Semantics:

    - per key, only the HIGHEST-``seq_col`` change matters for final
      state (struct-ordered max_by — one hash aggregate, no window);
    - latest op D => the key disappears from the target;
    - latest op I/U => the key holds that change's payload (upsert).

    One full-outer join against the target applies both effects in a
    single pass; inserted/updated/deleted counts ride the write via
    ``Observation`` (same single-action metric discipline as
    ``merge_upsert``). Idempotent: re-applying the same log is a no-op.

    Contract: ``seq_col`` is unique per key (an LSN / binlog position
    is); equal-seq changes for one key have no defined winner.
    """
    payload_cols = [
        c for c in changes.columns if c not in (*keys, seq_col, op_col)
    ]
    ordered = F.struct(F.col(seq_col))
    latest = changes.groupBy(*keys).agg(
        F.max_by(F.col(op_col), ordered).alias("_op"),
        *[
            F.max_by(F.col(c), ordered).alias(c)
            for c in payload_cols
        ],
    )
    latest = latest.localCheckpoint(eager=False)

    current = _read_target(spark, target_path)
    out_cols = keys + payload_cols
    if current is None:
        live = latest.where(F.col("_op") != "D").select(*out_cols)
        n = live.count()
        _atomic_replace(live, target_path, partition_by)
        return {"inserted": n, "updated": 0, "deleted": 0}

    from pyspark.sql import Observation

    ch = latest.withColumn("_ch_present", F.lit(True))
    c = current.withColumn("_c_present", F.lit(True))
    joined = ch.alias("u").join(c.alias("c"), keys, "full_outer")
    has_change = F.col("u._ch_present").isNotNull()
    in_target = F.col("c._c_present").isNotNull()
    is_delete = has_change & (F.col("u._op") == "D")
    merged = joined.select(
        *[
            F.col(col)
            if col in keys
            else F.when(has_change, F.col(f"u.{col}"))
            .otherwise(F.col(f"c.{col}"))
            .alias(col)
            for col in out_cols
        ],
        (is_delete & in_target).alias("_is_delete"),
        (has_change & ~is_delete & in_target).alias("_is_update"),
        (has_change & ~is_delete & ~in_target).alias("_is_insert"),
        is_delete.alias("_drop"),
    )
    obs = Observation()
    observed = (
        merged.observe(
            obs,
            F.sum(F.col("_is_insert").cast("long")).alias("inserted"),
            F.sum(F.col("_is_update").cast("long")).alias("updated"),
            F.sum(F.col("_is_delete").cast("long")).alias("deleted"),
        )
        .where(~F.col("_drop"))
        .drop("_is_insert", "_is_update", "_is_delete", "_drop")
    )
    _atomic_replace(observed, target_path, partition_by)
    got = obs.get
    return {
        "inserted": int(got["inserted"] or 0),
        "updated": int(got["updated"] or 0),
        "deleted": int(got["deleted"] or 0),
    }
