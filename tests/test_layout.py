"""Layout sinks: range-sorted rewrite and partition compaction are pure
physical rewrites — identical content, asserted layout properties."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from options_data_pipeline_spark.sinks.layout import (
    compact_partitions,
    write_range_sorted,
)
from options_data_pipeline_spark.sources.tables import load_table

from .conftest import SF_DIR


@pytest.fixture
def tmp(tmp_path):
    return str(tmp_path)


def test_write_range_sorted_files_are_disjoint_and_sorted(spark, tmp):
    ev = load_table(spark, SF_DIR, "events").select("event_id", "ts", "value")
    out = f"{tmp}/events_sorted"
    write_range_sorted(ev, out, ["ts", "event_id"], num_files=4)

    files = sorted(
        os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")
    )
    assert len(files) == 4

    # same content as the source (pure physical rewrite)
    assert spark.read.parquet(out).count() == ev.count()
    assert (
        spark.read.parquet(out)
        .union(ev)
        .groupBy("event_id", "ts", "value")
        .count()
        .where(F.col("count") != 2)
        .count()
        == 0
    )

    # per-file (min, max) ts ranges are pairwise disjoint, rows sorted
    ranges = []
    for f in files:
        pdf = spark.read.parquet(f).select("ts", "event_id").toPandas()
        assert list(pdf.itertuples(index=False)) == sorted(
            pdf.itertuples(index=False)
        ), f"rows not sorted within {f}"
        ranges.append((pdf["ts"].min(), pdf["ts"].max()))
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo, "file key ranges overlap"


def test_compact_partitions_reduces_files_keeps_content(spark, tmp):
    t = f"{tmp}/t"
    df = spark.createDataFrame(
        [(i, f"d{i % 2}", float(i)) for i in range(100)], "k long, d string, v double"
    )
    # fragment: 8 files per partition
    df.repartition(8).write.partitionBy("d").mode("overwrite").parquet(t)
    # materialize eagerly: the compaction below replaces the files this
    # DataFrame's listing points at
    rows_before = {(r.k, r.d, r.v) for r in spark.read.parquet(t).collect()}

    metrics = compact_partitions(spark, t, "d", partitions=["d0"], files_per_partition=1)
    assert metrics["partitions_compacted"] == 1
    assert metrics["files_after"] < metrics["files_before"]
    d0 = os.path.join(t, "d=d0")
    assert len([f for f in os.listdir(d0) if f.endswith(".parquet")]) == 1
    # untouched partition keeps its fragmentation
    d1 = os.path.join(t, "d=d1")
    assert len([f for f in os.listdir(d1) if f.endswith(".parquet")]) > 1

    rows_after = {(r.k, r.d, r.v) for r in spark.read.parquet(t).collect()}
    assert rows_after == rows_before


def test_compact_partitions_crash_in_swap_rolls_forward(spark, tmp, monkeypatch):
    """Compaction commits every rewritten partition in one journaled
    swap: a crash between one partition's two renames leaves it missing
    from the table, and the next compaction rolls the swap forward first
    — every partition compacted, no row lost or doubled, nothing staged
    left behind."""
    t = f"{tmp}/t"
    df = spark.createDataFrame(
        [(i, f"d{i % 2}", float(i)) for i in range(100)], "k long, d string, v double"
    )
    df.repartition(8).write.partitionBy("d").mode("overwrite").parquet(t)
    rows_before = sorted(tuple(r) for r in spark.read.parquet(t).select("k", "d", "v").collect())
    rename, staged = os.rename, []

    def crashing_rename(src, dst):
        if ".staging-" in src:
            staged.append(src)
            if len(staged) == 2:
                raise OSError("injected: second partition moved out, not in")
        return rename(src, dst)

    monkeypatch.setattr(os, "rename", crashing_rename)
    with pytest.raises(OSError, match="injected"):
        compact_partitions(spark, t, "d", files_per_partition=1)
    monkeypatch.undo()
    assert [n for n in os.listdir(t) if not n.startswith(("_", "."))] == ["d=d0"]

    metrics = compact_partitions(spark, t, "d", files_per_partition=1)
    assert metrics == {"partitions_compacted": 2, "files_before": 2, "files_after": 2}
    for d in ("d=d0", "d=d1"):
        assert len([f for f in os.listdir(os.path.join(t, d)) if f.endswith(".parquet")]) == 1
    rows_after = sorted(tuple(r) for r in spark.read.parquet(t).select("k", "d", "v").collect())
    assert rows_after == rows_before
    assert sorted(os.listdir(tmp)) == ["t"]


def test_delta_only_partition_starts_at_one_file(spark, tmp):
    """ADVICE r11 (low): a slot populated ONLY by the appended delta
    physically has one file before compaction (the init write never
    created its directory) — the zorder_maintain oracle predicts
    files_before as has_init + has_delta, not 1 + touched.  Pin the
    filesystem physics that prediction rests on."""
    t = f"{tmp}/t"
    init = spark.createDataFrame(
        [(1, 0, 1.0), (2, 0, 2.0), (3, 1, 3.0)], "k long, slot long, v double"
    )
    init.repartition(F.col("slot")).write.partitionBy("slot").parquet(t)
    # delta touches slot 1 (exists) and slot 2 (delta-only)
    delta = spark.createDataFrame(
        [(4, 1, 4.0), (5, 2, 5.0)], "k long, slot long, v double"
    )
    delta.repartition(F.col("slot")).write.mode("append").partitionBy(
        "slot"
    ).parquet(t)

    def nfiles(slot):
        d = os.path.join(t, f"slot={slot}")
        return len([f for f in os.listdir(d) if f.endswith(".parquet")])

    assert nfiles(0) == 1  # init only, untouched
    assert nfiles(1) == 2  # init + delta
    assert nfiles(2) == 1  # delta-only: ONE file, not two


# --- token-budgeted shard packing -------------------------------------------


def _naive_shards(rows, budget):
    """Reference assignment: running token sum per lang in doc_id order."""
    out = {}
    by_lang = {}
    for doc_id, lang, n in sorted(rows, key=lambda r: (r[1], r[0])):
        before = by_lang.get(lang, 0)
        out[doc_id] = before // budget
        by_lang[lang] = before + n
    return out


def test_pack_token_shards_equals_naive_prefix_sum(spark):
    """The two-level distributed prefix sum must be bit-identical to the
    naive single-window semantics, across segment widths (including ones
    that split languages into many segments)."""
    from options_data_pipeline_spark.operators.packing import pack_token_shards

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "lang", "text")
    rows = [
        (r.doc_id, r.lang, len(r.text.split(" ")))
        for r in docs.collect()
    ]
    for width in (7, 64, 100000):  # many tiny segments ... one segment
        packed = pack_token_shards(docs, budget=1500, segment_width=width)
        got = {r.doc_id: r.shard_id for r in packed.collect()}
        assert got == _naive_shards(rows, 1500), f"segment_width={width}"


def test_write_token_shards_layout_and_roundtrip(spark, tmp):
    from options_data_pipeline_spark.operators.packing import write_token_shards

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "lang", "text")
    out = f"{tmp}/shards"
    budget = 2000
    write_token_shards(docs, out, budget=budget, segment_width=128)

    back = spark.read.parquet(out)
    # pure reshaping: every doc present exactly once
    assert back.count() == docs.count()
    assert back.select("doc_id").distinct().count() == docs.count()

    # shard budget property: each shard STARTS under budget (its offset is
    # shard_id*budget), so tokens(shard) <= budget + its largest doc
    per_shard = (
        back.groupBy("lang", "shard_id")
        .agg(F.sum("n_tokens").alias("tok"), F.max("n_tokens").alias("mx"))
        .collect()
    )
    for r in per_shard:
        assert r.tok <= budget + r.mx
    # shards within a lang are contiguous doc_id ranges
    rngs = (
        back.groupBy("lang", "shard_id")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .collect()
    )
    by_lang = {}
    for r in rngs:
        by_lang.setdefault(r.lang, []).append((r.shard_id, r.lo, r.hi))
    for lang, triples in by_lang.items():
        triples.sort()
        for (s1, _, hi1), (s2, lo2, _) in zip(triples, triples[1:]):
            assert s2 == s1 + 1 and lo2 > hi1, lang
    # one file per shard (the schedulable unit)
    for lang_dir in os.scandir(out):
        if not lang_dir.name.startswith("lang="):
            continue
        for shard_dir in os.scandir(lang_dir.path):
            if not shard_dir.name.startswith("shard_id="):
                continue
            files = [f for f in os.listdir(shard_dir.path) if f.endswith(".parquet")]
            assert len(files) == 1, shard_dir.path


# --- no-split greedy sequence packing ---------------------------------------


def _naive_sequence_pack(rows, budget):
    """Reference fold: per key in order, reset-on-overflow greedy fill."""
    out = {}
    state = {}
    for key, doc_id, t in sorted(rows):
        pack, filled = state.get(key, (0, 0))
        if filled > 0 and filled + t > budget:
            pack += 1
            filled = 0
        out[(key, doc_id)] = (pack, filled)
        state[key] = (pack, filled + t)
    return out


def test_greedy_sequence_pack_equals_naive_fold(spark):
    """The mapInPandas fold must be bit-identical to the sequential
    reference on the real corpus, for budgets spanning
    one-doc-per-pack up to everything-in-one-pack."""
    from options_data_pipeline_spark.operators.packing import greedy_sequence_pack

    docs = load_table(spark, SF_DIR, "documents").select(
        "lang", "source", "doc_id",
        F.size(F.split("text", " ", -1)).cast("long").alias("n_tokens"),
    )
    rows = [
        ((r.lang, r.source), r.doc_id, r.n_tokens) for r in docs.collect()
    ]
    for budget in (1, 256, 10**9):
        packed = greedy_sequence_pack(
            docs, keys=["lang", "source"], order=["doc_id"],
            token_col="n_tokens", budget=budget,
        )
        got = {
            ((r.lang, r.source), r.doc_id): (r.pack_id, r.pack_offset)
            for r in packed.collect()
        }
        assert got == _naive_sequence_pack(rows, budget), f"budget={budget}"


def test_greedy_sequence_pack_partitioning_invariant(spark):
    """Identical assignment regardless of the input's physical layout
    (the hash-repartition + sort inside the operator owns the order)."""
    from options_data_pipeline_spark.operators.packing import greedy_sequence_pack

    docs = load_table(spark, SF_DIR, "documents").select(
        "lang", "source", "doc_id",
        F.size(F.split("text", " ", -1)).cast("long").alias("n_tokens"),
    )
    base = greedy_sequence_pack(
        docs, keys=["lang", "source"], order=["doc_id"],
        token_col="n_tokens", budget=256,
    ).collect()
    shuffled = greedy_sequence_pack(
        docs.repartition(13, "doc_id"),
        keys=["lang", "source"], order=["doc_id"],
        token_col="n_tokens", budget=256,
    ).collect()
    key = lambda r: (r.lang, r.source, r.doc_id)
    assert sorted(map(tuple, base)) == sorted(map(tuple, shuffled))
    assert len({key(r) for r in base}) == len(base)


def test_greedy_sequence_pack_oversized_doc_own_pack(spark):
    """A document over budget gets its own sequence at offset 0 and the
    next document always opens a fresh one (chunking oversized docs is
    `doc_chunks`' job upstream)."""
    from options_data_pipeline_spark.operators.packing import greedy_sequence_pack

    rows = [("k", 1, 3), ("k", 2, 50), ("k", 3, 4), ("k", 4, 5)]
    df = spark.createDataFrame(rows, "key string, doc_id long, n_tokens long")
    got = {
        r.doc_id: (r.pack_id, r.pack_offset)
        for r in greedy_sequence_pack(
            df, keys=["key"], order=["doc_id"],
            token_col="n_tokens", budget=10,
        ).collect()
    }
    # doc1 fills 3; doc2 (50 > 10) overflows -> own pack; doc3 can't
    # join the over-budget pack -> new pack; doc4 fits after doc3.
    assert got == {1: (0, 0), 2: (1, 0), 3: (2, 0), 4: (2, 4)}


# --- Z-order clustered rewrite ----------------------------------------------


def _file_ranges(spark, out, col):
    """Per-file (min, max) of col, read back from the written files."""
    import pyarrow.parquet as pq

    ranges = []
    for f in sorted(os.listdir(out)):
        if not f.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(out, f), columns=[col])
        vals = t.column(col).to_pylist()
        ranges.append((min(vals), max(vals)))
    return ranges


def test_write_zordered_prunes_both_dimensions(spark, tmp):
    """Z-order files must give BOTH columns selective per-file ranges: a
    point-ish predicate on either dimension should skip most files —
    where a 1-D sort only helps its own column."""
    from options_data_pipeline_spark.sinks.layout import (
        write_range_sorted,
        write_zordered,
    )

    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    n_files = 16
    z_out, s_out = f"{tmp}/z", f"{tmp}/s"
    write_zordered(ev, z_out, "event_id", "user_id", num_files=n_files)
    write_range_sorted(ev, s_out, ["event_id"], num_files=n_files)

    # content identical
    assert spark.read.parquet(z_out).count() == ev.count()
    assert (
        spark.read.parquet(z_out).union(ev).distinct().count()
        == ev.distinct().count()
    )

    def hit_fraction(out, col, probe):
        rng = _file_ranges(spark, out, col)
        return sum(1 for lo, hi in rng if lo <= probe <= hi) / len(rng)

    ids = [r.event_id for r in ev.select("event_id").collect()]
    users = [r.user_id for r in ev.select("user_id").collect()]
    mid_id, mid_user = sorted(ids)[len(ids) // 2], sorted(users)[len(users) // 2]

    # both dimensions selective under Z-order: a point probe touches a
    # minority of files on each axis
    assert hit_fraction(z_out, "event_id", mid_id) <= 0.5
    assert hit_fraction(z_out, "user_id", mid_user) <= 0.5
    # whereas the 1-D sort leaves the second dimension unpruned
    assert hit_fraction(s_out, "event_id", mid_id) <= 0.2
    assert hit_fraction(s_out, "user_id", mid_user) >= 0.9


def test_write_zordered_three_dimensions(spark, tmp):
    """N-dim z-order: with 3 interleaved columns every dimension keeps a
    selective per-file range (the Delta ZORDER BY (a,b,c) shape)."""
    from options_data_pipeline_spark.sinks.layout import write_zordered_n

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "value"
    )
    out = f"{tmp}/z3"
    write_zordered_n(
        ev, out, ["event_id", "user_id", "value"], num_files=16
    )
    assert spark.read.parquet(out).count() == ev.count()

    def hit_fraction(col, probe):
        rng = _file_ranges(spark, out, col)
        return sum(1 for lo, hi in rng if lo <= probe <= hi) / len(rng)

    for col in ("event_id", "user_id", "value"):
        vals = sorted(r[0] for r in ev.select(col).collect())
        mid = vals[len(vals) // 2]
        assert hit_fraction(col, mid) <= 0.7, col


def test_morton_interleave_n_overflow_guard(spark):
    import pytest

    from options_data_pipeline_spark.sinks.layout import _morton_interleave_n
    from pyspark.sql import functions as F

    with pytest.raises(ValueError, match="overflow"):
        _morton_interleave_n([F.lit(1)] * 8, bits=8)


def test_write_zordered_timestamp_column(spark, tmp):
    """Temporal columns quantize through a numeric proxy (review r4 —
    approxQuantile is numeric-only, the old percent_rank was not)."""
    from options_data_pipeline_spark.sinks.layout import write_zordered

    ev = load_table(spark, SF_DIR, "events").select("ts", "user_id")
    out = f"{tmp}/zts"
    write_zordered(ev, out, "ts", "user_id", num_files=8)
    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    assert set(back.columns) == {"ts", "user_id"}


def test_write_zordered_rejects_string_column(spark, tmp):
    import pytest

    from options_data_pipeline_spark.sinks.layout import write_zordered

    ev = load_table(spark, SF_DIR, "events").select("event_type", "user_id")
    with pytest.raises(ValueError, match="quantile ordering"):
        write_zordered(ev, f"{tmp}/zs", "event_type", "user_id", num_files=4)


# --- z-order -----------------------------------------------------------------


def _py_interleave(x: int, y: int, bits: int = 10) -> int:
    z = 0
    for b in range(bits):
        z |= ((x >> b) & 1) << (2 * b)
        z |= ((y >> b) & 1) << (2 * b + 1)
    return z


def test_zorder_interleave_matches_python_reference(spark):
    from pyspark.sql import functions as F

    from options_data_pipeline_spark.operators import zorder as Z

    pts = [(0, 0), (1023, 1023), (1, 0), (0, 1), (512, 256), (700, 33)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r.x, r.y): r.z
        for r in df.select(
            "x", "y", Z.interleave_bits(F.col("x"), F.col("y")).alias("z")
        ).collect()
    }
    for x, y in pts:
        assert got[(x, y)] == _py_interleave(x, y), (x, y)


def test_zorder_interleave_sql_matches_spark(spark):
    import random

    import duckdb
    from pyspark.sql import functions as F

    from options_data_pipeline_spark.operators import zorder as Z

    rng = random.Random(7)
    pts = [(rng.randrange(1024), rng.randrange(1024)) for _ in range(50)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = sorted(
        r.z
        for r in df.select(
            Z.interleave_bits(F.col("x"), F.col("y")).alias("z")
        ).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE pts (x BIGINT, y BIGINT)")
    con.executemany("INSERT INTO pts VALUES (?, ?)", pts)
    want = sorted(
        r[0]
        for r in con.sql(
            f"SELECT {Z.interleave_sql('x', 'y')} FROM pts"
        ).fetchall()
    )
    assert got == want


def test_zorder_quantize_endpoints_and_monotone(spark):
    from pyspark.sql import functions as F

    from options_data_pipeline_spark.operators import zorder as Z

    df = spark.range(0, 5000).select(F.col("id").alias("v"))
    q = df.select(
        "v",
        Z.quantize(F.col("v"), F.lit(0), F.lit(4999)).alias("q"),
    ).orderBy("v").collect()
    assert q[0].q == 0 and q[-1].q == 1023
    assert all(b.q >= a.q for a, b in zip(q, q[1:]))  # monotone
    assert all(0 <= r.q <= 1023 for r in q)


def test_zorder_buckets_are_tight_tiles_in_both_dims(spark):
    """On a full uniform 1024x1024 grid the 256 z-buckets (top 8 bits)
    are exactly 64x64 tiles — tight in BOTH dims, which is the whole
    point vs a single-column sort (full-range boxes in dim 2)."""
    from pyspark.sql import functions as F

    from options_data_pipeline_spark.operators import zorder as Z

    # a 64x64 subsample of the grid (step 16 in each dim) keeps the test
    # fast while still touching every bucket
    xs = spark.range(0, 1024, 16).select(F.col("id").alias("x"))
    ys = spark.range(0, 1024, 16).select(F.col("id").alias("y"))
    grid = xs.crossJoin(ys)
    z = Z.interleave_bits(F.col("x"), F.col("y"))
    boxes = (
        grid.select(F.shiftright(z, 12).alias("bucket"), "x", "y")
        .groupBy("bucket")
        .agg(
            (F.max("x") - F.min("x")).alias("wx"),
            (F.max("y") - F.min("y")).alias("wy"),
        )
        .collect()
    )
    assert len(boxes) == 256
    assert all(r.wx <= 63 and r.wy <= 63 for r in boxes)
