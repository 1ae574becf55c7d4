"""Keyed upsert sinks over plain Parquet (MERGE semantics without Delta).

The reference engine's sinks are all keyed upserts into PostgreSQL
(`ON CONFLICT (key) DO UPDATE/DO NOTHING`, reference
src/pipeline/collectors/binance.py:76-125, deribit.py:83-137,
aggregators/base.py:155-238). On a lakehouse the idiomatic equivalent is
Delta `MERGE INTO`; this container ships vanilla Spark, so the same
semantics are implemented by one merge core (:func:`_merge`) behind
:func:`merge_upsert` and :func:`upsert_partitioned`:

1. read the target — only the partitions the batch touches when the
   table is partitioned on a column derived from the key, else all of
   it — with the schema from the commit record, so no inference job runs;
2. reconcile with one aggregate over batch ∪ target grouped on the key
   (a single shuffle): updates win over existing rows, and within the
   batch the last row per key wins (deterministic via a priority +
   monotonic batch order);
3. write the merged slice to ``<target>.staging-<uuid>`` in one job that
   also counts inserted/updated rows and takes the max of every
   timestamp/date key column (an ``Observation``), then rename it into
   place — the whole directory, or each touched partition directory;
4. write the commit record (:mod:`.commit`) last.  Readers see the old
   table or the new one, and reruns converge (T5 idempotence, SURVEY
   §2.9).

Metrics mirror the reference's inserted/updated counters (binance.py
RETURNING xmax trick): *inserted* = update keys absent from the target,
*updated* = update keys already present.

Cost: :func:`upsert_partitioned` rewrites the touched partitions, so a
micro-batch over a date-partitioned table costs O(batch), not O(table)
(SURVEY §2.9 T2 lookback windows are hours-to-days, so the touched set
stays tiny).  :func:`merge_upsert` rewrites the whole table; it is for
small tables (the daily sessions) and one-shot builds.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from . import commit


# Characters Spark escapes in partition directory names (Hive
# FileUtils.escapePathName / Spark ExternalCatalogUtils.escapePathName —
# public Spark source). Space and non-ASCII are NOT escaped; control
# chars and this set become %XX uppercase hex.
_PATH_ESCAPE_CHARS = set('"#%\'*/:=?\\\x7f{[]^')

_PENDING_DROPS = "_pending_drops.json"

# Key columns whose max the commit record keeps (the watermark columns).
_TIME_TYPES = ("timestamp", "timestamp_ntz", "date")


def _escape_partition_value(spark: SparkSession, value) -> str:
    """Render a partition VALUE exactly as Spark encodes it in the
    directory name, so filesystem-level partition maintenance (drained-
    partition drops) hits the directory Spark actually wrote.  ADVICE r8:
    raw ``str(value)`` silently misses any value Spark escapes (':', '=',
    '/', quotes, control chars) — stale rows then survive eviction.

    Uses Spark's own JVM ``ExternalCatalogUtils.escapePathName`` when
    reachable (bit-identical by construction), else a Python mirror of
    the same public escape table."""
    if value is None:
        return "__HIVE_DEFAULT_PARTITION__"
    if isinstance(value, bool):  # Spark renders booleans lowercase
        s = "true" if value else "false"
    else:
        s = str(value)
    try:
        jvm = spark._jvm  # noqa: SLF001 — same-process JVM helper
        return jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(  # noqa: E501
            s
        )
    except Exception:  # pragma: no cover — JVM gateway unavailable
        return "".join(
            f"%{ord(ch):02X}" if (ch in _PATH_ESCAPE_CHARS or ch < " ") else ch
            for ch in s
        )


def _complete_pending_drops(path: str) -> None:
    """Finish partition drops a previous writer committed but did not
    complete.  The sidecar is written AFTER the dynamic-overwrite commit
    (so replaying it can never delete the only copy of a row) and removed
    once the listed directories are gone; a crash in between leaves the
    intent on disk and the next reader converges the table here."""
    sidecar = os.path.join(path, _PENDING_DROPS)
    if not os.path.exists(sidecar):
        return
    import json

    with open(sidecar) as fh:
        try:
            drops = json.load(fh)
        except ValueError as exc:
            raise RuntimeError(
                f"corrupt pending-drops sidecar {sidecar!r}: {exc}. The "
                "writer journals this file atomically (temp + os.replace), "
                "so a corrupt sidecar means external tampering or partial "
                "copy; inspect the listed directories manually, then delete "
                "the sidecar to unblock reads."
            ) from exc
    for dirname in drops:
        # dir names are stored fully escaped; refuse to traverse
        if os.sep in dirname or dirname in (".", ".."):
            continue
        shutil.rmtree(os.path.join(path, dirname), ignore_errors=True)
    os.remove(sidecar)


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
    if not os.path.exists(path):
        return None
    _complete_pending_drops(path)
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


def dedupe_last_wins(
    updates: DataFrame,
    keys: list[str],
    order_by: list[str] | None = None,
) -> DataFrame:
    """In-batch last-wins dedup (reference: later statement wins).

    ``order_by`` defines logical "later"; the fallback is physical order
    via ``monotonically_increasing_id`` (deterministic only for
    single-partition driver-built batches). Shared by the parquet
    emulation and the Delta MERGE backend so both reconcile a batch
    identically before touching the target."""
    if order_by:
        ordering = [F.col(c).desc() for c in order_by]
        ordering.append(F.monotonically_increasing_id().desc())  # tie-break
    else:
        ordering = [F.monotonically_increasing_id().desc()]
    w = Window.partitionBy(*keys).orderBy(*ordering)
    return (
        updates.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


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
    """The merge core behind :func:`merge_upsert` and
    :func:`upsert_partitioned`: one shuffle and one write job per call.

    With ``scoped`` (one partition column) only the partitions the batch
    touches are read, merged and swapped in; ``touched`` lists them when
    the caller already knows them (a superset is fine — the write
    verifies it), otherwise one aggregate over the batch finds them.  A
    first write, or a table laid out another way, is rewritten whole.

    One aggregate over (batch ∪ target rows) grouped on the keys
    reconciles them in a single shuffle: per key, ``max_by`` keeps the
    row with the highest (from-batch, ``order_by``..., batch position) —
    updates win over stored rows and the last batch row wins within the
    batch, as :func:`dedupe_last_wins` orders them.  The inserted/updated
    counts and the max of every timestamp/date key column ride the write
    through an ``Observation``.  A batch that changes no row is a no-op
    commit.  The commit record goes last."""
    partition_by = list(partition_by or [])
    raw = updates
    if audit_col:
        updates = updates.withColumn(audit_col, F.current_timestamp())
    current = _read_target(spark, target_path)
    rec = commit.read_record(target_path) if current is not None else None
    part = partition_by[0] if scoped else None
    hinted = touched is not None
    if current is not None and scoped and commit.partition_columns(target_path, rec) == [part]:
        # the token of the files just read: the new record's token builds on it
        base = rec["token"] if rec else commit.snapshot(target_path)
        if not hinted:
            touched = [r[0] for r in updates.select(part).distinct().collect()]
        current = current.where(F.col(part).isin(touched))
    else:
        scoped = False

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
    merged = rows.groupBy(*keys).agg(
        F.max_by("_v", "_p").alias("_v"),
        F.max("_p.u").alias("_u"),
        (~F.min("_p.u")).alias("_c"),
    ).select(*keys, "_v.*", "_u", "_c").select(*cols, "_u", "_c")
    from_u, in_c = F.col("_u"), F.col("_c")
    times = [n for n in keys if types[n] in _TIME_TYPES]
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
        # not read, so this slice must not be swapped in
        shutil.rmtree(staging)
        if not hinted:
            raise RuntimeError(f"{target_path}: partition values changed between reads")
        return _merge(spark, target_path, raw, keys, partition_by, True, None, audit_col, order_by)
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
    batch = batch.observe(seen, F.count(F.lit(1)).alias("n"))
    # in-batch dedup: first occurrence wins (DO NOTHING keeps the first);
    # deduped-away rows count as skipped, like rowcount under DO NOTHING
    w = Window.partitionBy(*keys).orderBy(F.monotonically_increasing_id().asc())
    batch = (
        batch.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
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


def moving_merge_frame(
    touched: DataFrame,
    ukeys: DataFrame,
    updates: DataFrame,
    keys: list[str],
) -> DataFrame:
    """The move-aware MERGE's eviction + add: every row of an updated
    key leaves the touched slice (old and new partition alike), then
    the batch lands."""
    survivors = touched.join(ukeys, keys, "left_anti")
    return survivors.select(updates.columns).unionByName(updates)


def af_sink_moving_upsert(spark: SparkSession, sf_dir: str, scratch: str):
    """Audit hook: a small target + a batch whose keys MOVE partitions;
    the probe and merge frames are the sink's entire interior."""
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
    touched = current  # audit shape: the pruned slice has the same plan
    merged = moving_merge_frame(touched, ukp.select("k"), updates, ["k"])
    return {"probe": probe, "merge": merged}


def upsert_partitioned_moving(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    partition_col: str,
    durable_staging: bool = False,
) -> dict[str, int]:
    """Partition-pruned MERGE for keys that MAY move between partitions.

    ``durable_staging`` writes the merged slice to a recomputable
    staging parquet directory instead of an eager ``localCheckpoint``,
    whose blocks live only in executor storage (an executor loss then
    fails the write; the dynamic overwrite is the one commit point
    either way).

    :func:`upsert_partitioned` forbids cross-partition keys because its
    reconciliation only reads the updates' own partitions — a moved key
    would leave a stale row alive in its old partition.  Index
    maintenance breaks that invariant by construction: an updated vector
    re-assigns to a (possibly different) IVF cell, a re-bucketed record
    changes shard.  This variant also reads the updated keys' OLD
    partitions and evicts the stale rows there, so the maintained table
    equals a full rebuild.

    Cost shape at 100 TB: finding the old partitions is a KEY-ONLY probe
    — a column-pruned scan of ``(keys, partition_col)`` semi-joined to
    the (broadcastable) update key set; the payload columns of untouched
    partitions are never read, and the rewrite still covers only
    old ∪ new partitions of the batch.  Production systems with stricter
    budgets keep that two-column projection as a maintained sidecar
    (key→partition map) — the probe below is exactly the query that
    sidecar would serve.

    Returns ``{"inserted", "updated", "moved"}`` — *moved* counts
    updated keys whose partition changed (stale rows evicted).
    """
    if partition_col in keys:
        raise ValueError(
            f"partition_col {partition_col!r} is in keys {keys}: keys "
            "cannot move — use upsert_partitioned (cheaper: no old-"
            "partition probe)."
        )
    updates = updates.localCheckpoint(eager=False)
    current = _read_target(spark, target_path)
    if current is None:
        n = updates.count()
        updates.write.mode("overwrite").partitionBy(partition_col).parquet(
            target_path
        )
        return {"inserted": n, "updated": 0, "moved": 0}

    # (keys, new partition) of the batch, deduped once — feeds the probe
    # join AND the metrics aggregate
    ukp = updates.select(
        *keys, F.col(partition_col).alias("_new_part")
    ).distinct().localCheckpoint(eager=False)
    ukeys = ukp.select(*keys)
    # key-only probe: column pruning reduces this scan to (keys, part).
    # ONE aggregate over the probe yields updated count, moved count,
    # and the set of old partitions — three jobs folded into one (the
    # per-job overhead dominated this sink's latency on small batches;
    # current's keys are unique by the upsert invariant, so plain
    # counts ARE key counts)
    old_locs = moving_probe_frame(current, ukp, keys, partition_col)
    probe = old_locs.agg(
        F.count(F.lit(1)).alias("updated"),
        F.sum(
            (F.col("_old_part") != F.col("_new_part")).cast("long")
        ).alias("moved"),
        F.collect_set("_old_part").alias("old_parts"),
    ).collect()[0]
    updated = int(probe["updated"] or 0)
    moved = int(probe["moved"] or 0)
    new_parts = [r[0] for r in ukp.select("_new_part").distinct().collect()]
    parts = list(set(new_parts) | set(probe["old_parts"] or []))
    inserted = ukp.count() - updated
    touched = current.where(F.col(partition_col).isin(parts))
    # evict EVERY row of an updated key from the touched slice (old and
    # new partition alike), then add the batch
    merged = moving_merge_frame(touched, ukeys, updates, keys)
    # an eager localCheckpoint makes overwriting the path it read legal,
    # two I/O passes of the slice cheaper than a staging round trip
    staging = None
    if durable_staging:
        staging = commit.stage(merged, target_path)
        staged = spark.read.parquet(staging)
    else:
        staged = merged.localCheckpoint()
    staged.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy(partition_col).parquet(target_path)
    # dynamic overwrite only touches partitions PRESENT in the write: a
    # partition fully drained by evictions (its only rows moved away)
    # would silently keep its stale files — drop those directories
    # explicitly, encoding the value exactly as Spark escaped it in the
    # dir name (ADVICE r8: raw str() misses ':', '=', '/', quotes…).
    # The drop intent is journaled to a sidecar FIRST (post-commit, so
    # replaying it is always safe — the moved rows are already in their
    # new partitions) and cleared once done; a crash mid-drop leaves the
    # sidecar and _read_target completes the drops before the next read,
    # so stale drained rows cannot silently survive.
    parts_after = {
        r[0] for r in staged.select(partition_col).distinct().collect()
    }
    if staging is not None:
        shutil.rmtree(staging, ignore_errors=True)
    drained = [
        f"{partition_col}={_escape_partition_value(spark, gone)}"
        for gone in set(parts) - parts_after
    ]
    if drained:
        import json

        # written to a temp name and os.replace()d so a crash mid-write
        # can never leave a truncated sidecar that poisons every later
        # _read_target (ADVICE r9)
        sidecar = os.path.join(target_path, _PENDING_DROPS)
        tmp = f"{sidecar}.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(sorted(drained), fh)
        os.replace(tmp, sidecar)
        _complete_pending_drops(target_path)
    return {"inserted": inserted, "updated": updated, "moved": moved}


def scd2_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    current_col: str = "is_current",
) -> dict[str, int]:
    """Type-2 slowly-changing-dimension MERGE: history is preserved.

    Where :func:`merge_upsert` overwrites the matched row (type 1), this
    closes it — the previously-current version gets ``valid_to`` = the
    new version's timestamp and ``is_current`` = false — and opens the
    new version. Multiple versions of a key inside one batch chain in
    ``ts_col`` order (each row's ``valid_to`` is the next row's
    ``valid_from``). Returns ``{"opened": n, "closed": m}``.

    Scale: untouched keys are isolated with an anti join and rewritten
    unchanged; only matched current rows join the (tiny) first-version
    frame. On a lakehouse runtime this maps to the standard two-branch
    Delta MERGE (match on key AND is_current -> update close; insert all
    staged versions); see PERFORMANCE.md "MERGE sink".
    """
    w = Window.partitionBy(*keys).orderBy(F.col(ts_col).asc())
    staged = (
        updates.withColumn(valid_from, F.col(ts_col))
        .withColumn(valid_to, F.lead(ts_col).over(w))
        .withColumn(current_col, F.lead(ts_col).over(w).isNull())
        .drop(ts_col)
    )
    opened = staged.count()
    current = _read_target(spark, target_path)
    if current is None:
        _atomic_replace(staged, target_path)
        return {"opened": opened, "closed": 0}

    firsts = staged.groupBy(*keys).agg(F.min(valid_from).alias("__new_from"))
    open_rows = current.where(F.col(current_col))
    closing = (
        open_rows.join(F.broadcast(firsts), keys)
        .withColumn(valid_to, F.col("__new_from"))
        .withColumn(current_col, F.lit(False))
        .drop("__new_from")
    )
    closed = closing.count()
    untouched = current.join(F.broadcast(firsts.select(*keys)), keys, "left_anti")
    closed_history = current.where(~F.col(current_col)).join(
        F.broadcast(firsts.select(*keys)), keys, "left_semi"
    )
    merged = (
        untouched.select(staged.columns)
        .unionByName(closed_history.select(staged.columns))
        .unionByName(closing.select(staged.columns))
        .unionByName(staged)
    )
    _atomic_replace(merged, target_path)
    return {"opened": opened, "closed": closed}


def upsert_file_pruned(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    range_key: str,
    audit_col: str | None = None,
) -> dict[str, int]:
    """FILE-level MERGE: rewrite only the parquet files whose footer
    min/max range on ``range_key`` intersects the update batch's keys —
    every other file is left byte-for-byte untouched on disk.

    This is the no-Delta answer to reference K1 per-key upserts
    (reference src/pipeline/collectors/binance.py:76-125) at 100 TB:
    where :func:`upsert_partitioned` prunes at PARTITION granularity
    (days), this prunes at file granularity within a range-clustered
    table (:func:`..sinks.layout.write_range_sorted` keeps per-file
    ranges disjoint and tight). An hourly batch against a year of data
    rewrites a handful of files, not a day partition. ``range_key``
    must be one of ``keys`` (or functionally determined by them) so a
    merged key can never live outside the file ranges being rewritten.

    Mechanics: footer stats (:func:`..sinks.layout.parquet_file_ranges`)
    -> broadcast range-join against the batch's distinct ``range_key``
    values -> read ONLY intersecting files -> latest-wins reconcile ->
    write the merged slice to staging -> swap those files in place.
    Files with missing stats are always treated as touched. The
    delete+move swap is per-file, not one atomic directory rename; a
    production deployment commits the same file list through a
    Delta/Iceberg manifest instead (see PERFORMANCE.md MERGE note).
    Returns ``{"inserted": n, "updated": m, "files_rewritten": t,
    "files_untouched": u}``.
    """
    if range_key not in keys:
        raise ValueError(
            f"range_key {range_key!r} must be one of keys {keys}: pruning "
            "by a non-key range could leave a merged key's stale row "
            "alive in an unread file."
        )
    if audit_col:
        updates = updates.withColumn(audit_col, F.current_timestamp())
    current = _read_target(spark, target_path)
    if current is None:
        n = updates.count()
        _atomic_replace(updates, target_path)
        return {
            "inserted": n,
            "updated": 0,
            "files_rewritten": 0,
            "files_untouched": 0,
        }

    from .layout import parquet_file_ranges

    ranges = parquet_file_ranges(target_path, range_key)
    unprunable = [f for f, lo, _ in ranges if lo is None]
    prunable = [(f, lo, hi) for f, lo, hi in ranges if lo is not None]
    touched = set(unprunable)
    if prunable:
        rng = spark.createDataFrame(prunable, ["_file", "_lo", "_hi"])
        kvals = updates.select(F.col(range_key).alias("_k")).distinct()
        hits = (
            kvals.join(
                F.broadcast(rng),
                (F.col("_k") >= F.col("_lo")) & (F.col("_k") <= F.col("_hi")),
            )
            .select("_file")
            .distinct()
            .collect()
        )
        touched |= {r._file for r in hits}

    total = updates.count()
    if not touched:
        # pure insert outside every existing range: new file(s) only
        updates.select(current.columns).write.mode("append").parquet(
            target_path
        )
        return {
            "inserted": total,
            "updated": 0,
            "files_rewritten": 0,
            "files_untouched": len(ranges),
        }

    touched_df = spark.read.parquet(*sorted(touched))
    if audit_col and audit_col not in touched_df.columns:
        touched_df = touched_df.withColumn(
            audit_col, F.lit(None).cast("timestamp")
        )
    updated = updates.join(
        touched_df.select(*keys).distinct(), keys, "left_semi"
    ).count()
    survivors = touched_df.join(updates.select(*keys), keys, "left_anti")
    merged = survivors.select(updates.columns).unionByName(updates)

    # stage the merged slice (sorted on the range key so the replacement
    # files carry tight footer stats again), then swap per-file
    staging = f"{target_path}.staging-{uuid.uuid4().hex[:8]}"
    merged.sortWithinPartitions(range_key).write.mode("overwrite").parquet(
        staging
    )
    for f in touched:
        os.remove(f)
    tag = uuid.uuid4().hex[:8]
    for i, fname in enumerate(sorted(os.listdir(staging))):
        if fname.endswith(".parquet"):
            shutil.move(
                os.path.join(staging, fname),
                os.path.join(target_path, f"part-merge-{tag}-{i:05d}.parquet"),
            )
    shutil.rmtree(staging)
    return {
        "inserted": total - updated,
        "updated": updated,
        "files_rewritten": len(touched),
        "files_untouched": len(ranges) - len(touched),
    }


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
