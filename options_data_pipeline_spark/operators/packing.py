"""Token-budgeted shard packing for training-data exports.

Training jobs consume data as shards of roughly equal *token* count
(sequence packing starts from them); the exporter therefore has to
assign each document a shard id such that shards hold ``budget`` tokens
of consecutive documents in a stable order. The semantics are a running
token sum in (lang, doc order):

    shard_id = tokens_before_this_doc_in_lang  div  budget

A naive implementation is one window over ``partitionBy(lang)`` — which
serializes each language through a single task and dies on the dominant
language at 100 TB. This implements the classic **two-level distributed
prefix sum** instead, exactly (not approximately) equal to the naive
window because the segment key is ``doc_id div segment_width``:
segments are disjoint, *ordered* ranges of doc ids, so summing whole
earlier segments plus a local running sum inside the segment is the
global running sum.

    1. local pass:  window over (lang, segment) — parallel across
       segments, each bounded by segment_width rows;
    2. offsets:     per-(lang, segment) token totals (a tiny aggregate,
       one row per segment) get their own running sum over lang —
       negligible data, broadcast back;
    3. stitch:      global_before = segment_offset + local_before.

Scale: the only full-data exchange is the hash repartition implied by
the (lang, segment) window; the offset table is |segments| rows. No
global sort, no single-language bottleneck, deterministic across
reruns. Cite: reference has no layout management at all (PostgreSQL
hides it); this extends the §6 LLM-data surface.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def pack_token_shards(
    docs: DataFrame,
    budget: int,
    token_col: Column | None = None,
    lang_col: str = "lang",
    id_col: str = "doc_id",
    segment_width: int = 4096,
) -> DataFrame:
    """Adds ``n_tokens`` and ``shard_id`` to ``docs``.

    ``token_col`` defaults to whitespace token count of ``text``.
    Documents larger than ``budget`` still get exactly one shard id (the
    shard just runs over budget by that document — splitting documents
    is the sequence-packer's job downstream, not the sharder's).
    """
    n_tokens = (
        token_col if token_col is not None else F.size(F.split("text", " ", -1))
    ).cast("long")
    seg = (F.col(id_col) / segment_width).cast("long")
    with_seg = docs.withColumn("n_tokens", n_tokens).withColumn("__seg", seg)

    # 1. local running sum inside each (lang, segment)
    w_local = (
        Window.partitionBy(lang_col, "__seg")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = with_seg.withColumn(
        "__local_before", F.coalesce(F.sum("n_tokens").over(w_local), F.lit(0))
    )

    # 2. per-segment totals -> running offset per lang (|segments| rows)
    w_seg = (
        Window.partitionBy(lang_col)
        .orderBy("__seg")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        with_seg.groupBy(lang_col, "__seg")
        .agg(F.sum("n_tokens").alias("__seg_total"))
        .withColumn(
            "__offset", F.coalesce(F.sum("__seg_total").over(w_seg), F.lit(0))
        )
        .select(lang_col, "__seg", "__offset")
    )

    # 3. stitch: broadcast the tiny offset table back onto the data
    return (
        local.join(F.broadcast(offsets), [lang_col, "__seg"])
        .withColumn(
            "shard_id",
            F.expr(f"(__local_before + __offset) div {int(budget)}").cast("long"),
        )
        .drop("__seg", "__local_before", "__offset")
    )


def write_token_shards(
    docs: DataFrame,
    path: str,
    budget: int,
    lang_col: str = "lang",
    id_col: str = "doc_id",
    segment_width: int = 4096,
) -> None:
    """Export ``docs`` as training shards: one parquet partition per
    (lang, shard_id) where consecutive docs fill a ``budget``-token
    shard (assignment from :func:`pack_token_shards` — the two-level
    distributed prefix sum, no per-language bottleneck).
    Repartitioning by the shard key before the write gives one task —
    hence one file — per shard, which is exactly the unit a training
    job schedules."""
    packed = pack_token_shards(
        docs, budget, lang_col=lang_col, id_col=id_col, segment_width=segment_width
    )
    (
        packed.repartition(F.col(lang_col), F.col("shard_id"))
        .sortWithinPartitions(id_col)
        .write.mode("overwrite")
        .partitionBy(lang_col, "shard_id")
        .parquet(path)
    )


def greedy_sequence_pack(
    docs: DataFrame,
    *,
    keys: Iterable[str],
    order: Iterable[str],
    token_col: str,
    budget: int,
    pack_col: str = "pack_id",
    offset_col: str = "pack_offset",
) -> DataFrame:
    """No-split greedy sequence packing: within each key, documents in
    ``order`` fill fixed ``budget``-token training sequences; a document
    NEVER spans two sequences — when it does not fit, the current
    sequence is closed (padding in the trainer) and a new one starts.
    This is the stateful sibling of :func:`pack_token_shards` (which
    lets the running sum spill across shard boundaries and is therefore
    a pure prefix sum): the reset-on-overflow makes the recurrence

        fit   : offset = filled;  filled += t
        !fit  : pack += 1; offset = 0; filled = t     (filled + t > budget)

    non-decomposable by any window frame — same class as
    :mod:`.statefold`'s clamped fold, and executed the same way: one
    hash shuffle on the keys, partition-local sort, a single
    ``mapInPandas`` pass with dict state carried across Arrow batches
    (per-group ``applyInPandas`` loses by an order of magnitude on many
    small keys — measured on the clamped fold, same shape). Exact
    Python-int arithmetic, so the assignment is bit-deterministic under
    any partitioning and matches a DuckDB recursive-CTE oracle exactly.

    A document larger than ``budget`` still gets its own sequence
    (offset 0, running over budget by that one document) — oversized
    inputs are the chunker's job upstream (`doc_chunks`), exactly as
    :func:`pack_token_shards`'s docstring divides the labor.

    100 TB posture: parallelism = number of keys (shards), the natural
    unit real exporters pack within. A single dominant shard can be
    pre-split into ordered doc-id segments exactly like
    ``pack_token_shards``'s segment trick — pack ids then restart per
    segment, which is acceptable because sequences never reference
    anything outside their segment's files; the per-key sequential form
    here is the one whose output layout training jobs actually consume.

    Output keeps ``keys + order + token_col`` and appends ``pack_col``
    (0-based per key) and ``offset_col`` (token offset within the
    sequence), both BIGINT.
    """
    keys = list(keys)
    order = list(order)
    budget_i = int(budget)

    out_fields = [docs.schema[c] for c in keys + order + [token_col]]
    schema = T.StructType(
        out_fields
        + [
            T.StructField(pack_col, T.LongType()),
            T.StructField(offset_col, T.LongType()),
        ]
    )
    single_key = len(keys) == 1

    def fold(batches):
        state: dict = {}  # key -> (pack, filled)
        for pdf in batches:
            toks = pdf[token_col].to_numpy().tolist()
            if single_key:
                ks = pdf[keys[0]].to_numpy().tolist()
            else:
                ks = list(zip(*[pdf[c].to_numpy().tolist() for c in keys]))
            packs, offsets = [], []
            get = state.get
            for k, t in zip(ks, toks):
                pack, filled = get(k, (0, 0))
                t = int(t)
                if filled > 0 and filled + t > budget_i:
                    pack += 1
                    filled = 0
                packs.append(pack)
                offsets.append(filled)
                state[k] = (pack, filled + t)
            out = pdf[keys + order + [token_col]].copy()
            out[pack_col] = packs
            out[offset_col] = offsets
            yield out

    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    parted = (
        docs.select(*keys, *order, token_col)
        .repartition(n_parts, *keys)
        .sortWithinPartitions(*keys, *order)
    )
    return parted.mapInPandas(fold, schema=schema)


def greedy_sequence_pack_scan(
    docs: DataFrame,
    *,
    keys: Iterable[str],
    order: Iterable[str],
    token_col: str,
    budget: int,
    pack_col: str = "pack_id",
    offset_col: str = "pack_offset",
    num_partitions: int | None = None,
) -> DataFrame:
    """Two-phase distributed version of :func:`greedy_sequence_pack`
    for keys larger than a single task — the packing analogue of
    :func:`..operators.statefold.clamped_running_sum_scan`.

    The packing recurrence is not a capped affine map, so the segment
    composition needs a different closed form. The lemma that makes it
    compact is **first-reset independence**: once a segment's walk
    performs its first reset (at doc ``r``), everything after is the
    *fresh* walk of docs ``r..n`` — independent of the entering fill
    ``f0``. And ``r(f0) = min {i : c_i > budget - f0}`` (``c`` = token
    cumsum) can only land in the segment's first-budget's-worth of
    docs: candidate count ≤ ``budget`` because every doc holds ≥ 1
    token. So each segment is fully described by

        summary  (r=0): resets/exit of the fresh walk (f0 = 0), plus c_n
        candidates r≥1: (c_r, resets, exit) of "first reset at r"

    where resets/exit for every candidate come from one backward DP
    over two-pointer ``next(i) = min {j>i : c_j - c_{i-1} > budget}``
    jumps — O(segment) total, not O(segment × candidates).

    Phase A emits these tables ONLY for each partition's first and
    last key (the only keys that can span a partition boundary under
    range partitioning — interior keys start and finish locally), so
    the driver collects O(boundary segments × min(budget, segment
    docs)) rows, not data-sized. The driver folds the per-segment
    functions in partition order (binary search of the candidate list
    per step), broadcasts the entering ``(pack, fill)`` states, and
    phase B replays each segment's rows locally from its entering
    state over the SAME persisted partitioning (range bounds are
    sampled — unpinned, the two jobs could disagree; the statefold
    scan's contract).

    Precondition: token counts ≥ 1 (zero-token rows would decouple the
    ``filled > 0`` guard from the cumsum formulation; whitespace
    tokenization guarantees ≥ 1). Bit-equal to the grouped fold under
    any partitioning — pinned by tests/test_statefold_property.py,
    including a single key spread over every partition.
    """
    import pandas as pd

    keys = list(keys)
    order = list(order)
    budget_i = int(budget)
    spark = docs.sparkSession
    n_parts = num_partitions or spark.sparkContext.defaultParallelism

    parted = (
        docs.select(*keys, *order, token_col)
        .repartitionByRange(n_parts, *keys, *order)
        .sortWithinPartitions(*keys, *order)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    key_t = [docs.schema[k] for k in keys]
    seg_schema = T.StructType(
        [T.StructField("_pid", T.IntegerType())]
        + key_t
        + [
            T.StructField("_r", T.LongType()),
            T.StructField("_c", T.LongType()),
            T.StructField("_packs", T.LongType()),
            T.StructField("_exit", T.LongType()),
        ]
    )

    def _segment_rows(pid, key, toks):
        """Summary + candidate rows for one (partition, key) segment."""
        n = len(toks)
        c = [0] * (n + 1)
        for i in range(1, n + 1):
            c[i] = c[i - 1] + toks[i - 1]
        # next(i) = first j > i with c[j] - c[i-1] > budget (two-pointer)
        nxt = [0] * (n + 2)
        j = 1
        for i in range(1, n + 1):
            if j < i + 1:
                j = i + 1
            while j <= n and c[j] - c[i - 1] <= budget_i:
                j += 1
            nxt[i] = j
        packs_from = [0] * (n + 2)
        exit_from = [0] * (n + 2)
        for i in range(n, 0, -1):
            if nxt[i] > n:
                packs_from[i] = 1
                exit_from[i] = c[n] - c[i - 1]
            else:
                packs_from[i] = 1 + packs_from[nxt[i]]
                exit_from[i] = exit_from[nxt[i]]
        rows = [(pid, *key, 0, c[n], packs_from[1] - 1, exit_from[1])]
        r_cap = n
        for i in range(1, n + 1):
            if c[i] > budget_i:
                r_cap = i
                break
        for i in range(1, r_cap + 1):
            rows.append((pid, *key, i, c[i], packs_from[i], exit_from[i]))
        return rows

    def phase_a(batches):
        # stream the partition once, keeping only the FIRST key's and
        # the CURRENT (eventually last) key's token lists — interior
        # keys are discarded as soon as the next key starts, so task
        # memory is O(first + last segment), not O(partition)
        first_key = cur_key = None
        first_toks: list[int] = []
        cur_toks: list[int] = []
        pid = None
        for pdf in batches:
            pids = pdf["_pid"].values
            kcols = [pdf[c].values for c in keys]
            ts = pdf[token_col].values
            for i in range(len(ts)):
                pid = int(pids[i])
                k = tuple(col[i] for col in kcols)
                if first_key is None:
                    first_key = cur_key = k
                    cur_toks = first_toks
                elif k != cur_key:
                    cur_key = k
                    cur_toks = []
                cur_toks.append(int(ts[i]))
        out = []
        if first_key is not None:
            out.extend(_segment_rows(pid, first_key, first_toks))
            if cur_key != first_key:
                out.extend(_segment_rows(pid, cur_key, cur_toks))
        cols = ["_pid"] + keys + ["_r", "_c", "_packs", "_exit"]
        yield pd.DataFrame(out, columns=cols)

    segs = parted.mapInPandas(phase_a, schema=seg_schema).collect()

    # driver fold: evaluate each boundary segment's function at its
    # concrete entering fill, in partition order per key
    by_seg: dict[tuple, dict] = {}
    for r in segs:
        k = tuple(r[c] for c in keys)
        sk = (r["_pid"],) + k
        d = by_seg.setdefault(sk, {"cands": []})
        if r["_r"] == 0:
            d["c_n"] = int(r["_c"])
            d["packs0"] = int(r["_packs"])
            d["exit0"] = int(r["_exit"])
        else:
            d["cands"].append((int(r["_c"]), int(r["_packs"]), int(r["_exit"])))
    entering: dict[tuple, tuple[int, int]] = {}
    running: dict[tuple, tuple[int, int]] = {}
    for sk in sorted(by_seg, key=lambda s: s[0]):
        d = by_seg[sk]
        d["cands"].sort()
        k = sk[1:]
        p0, f0 = running.get(k, (0, 0))
        entering[sk] = (p0, f0)
        if f0 == 0:
            dp, ex = d["packs0"], d["exit0"]
        else:
            hit = next(
                (cd for cd in d["cands"] if cd[0] > budget_i - f0), None
            )
            if hit is None:
                dp, ex = 0, f0 + d["c_n"]
            else:
                dp, ex = hit[1], hit[2]
        running[k] = (p0 + dp, ex)
    b_entering = spark.sparkContext.broadcast(entering)

    out_fields = [docs.schema[c] for c in keys + order + [token_col]]
    out_schema = T.StructType(
        out_fields
        + [
            T.StructField(pack_col, T.LongType()),
            T.StructField(offset_col, T.LongType()),
        ]
    )

    def phase_b(batches):
        ent = b_entering.value
        state: dict[tuple, tuple[int, int]] = {}
        for pdf in batches:
            pids = pdf["_pid"].values
            kcols = [pdf[c].values for c in keys]
            ts = pdf[token_col].values
            packs, offsets = [], []
            for i in range(len(ts)):
                k = tuple(col[i] for col in kcols)
                st = state.get(k)
                if st is None:
                    st = ent.get((int(pids[i]),) + k, (0, 0))
                pack, filled = st
                t = int(ts[i])
                if filled > 0 and filled + t > budget_i:
                    pack += 1
                    filled = 0
                packs.append(pack)
                offsets.append(filled)
                state[k] = (pack, filled + t)
            out = pdf[keys + order + [token_col]].copy()
            out[pack_col] = packs
            out[offset_col] = offsets
            yield out

    result = parted.mapInPandas(phase_b, schema=out_schema).localCheckpoint()
    parted.unpersist()
    return result


def shard_summary(packed: DataFrame, lang_col: str = "lang") -> DataFrame:
    """One row per (lang, shard): doc/token counts and the id range —
    the manifest a training job reads to schedule shard downloads."""
    return packed.groupBy(lang_col, "shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("shard_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )
