"""Unit tests for the session-scoped caches.

Both caches trade repeated derivation for reuse of immutable inputs; a
mis-keyed entry would silently serve one query's data to another, so the
key separation rules are pinned here.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from options_data_pipeline_spark.operators.artifacts import (
    _CACHE,
    session_artifact,
)
from options_data_pipeline_spark.sources.tables import _TABLE_CACHE, load_table

from .conftest import SF_DIR


def test_session_artifact_builds_once_per_key(spark):
    calls = []

    def build():
        calls.append(1)
        return spark.range(3).withColumn("x", F.col("id") * 2)

    a = session_artifact(spark, "test:k1", build)
    b = session_artifact(spark, "test:k1", build)
    assert len(calls) == 1
    assert a is b
    assert {r.x for r in b.collect()} == {0, 2, 4}


def test_session_artifact_distinct_keys_do_not_collide(spark):
    a = session_artifact(spark, "test:ka", lambda: spark.range(2))
    b = session_artifact(spark, "test:kb", lambda: spark.range(5))
    assert a.count() == 2 and b.count() == 5


def test_session_artifact_keys_namespaced_by_application(spark):
    session_artifact(spark, "test:ns", lambda: spark.range(1))
    app = spark.sparkContext.applicationId
    assert any(k[0] == app and k[1] == "test:ns" for k in _CACHE)
    # no key from a foreign application id can be served to this session
    assert all(k[0] == app for k in _CACHE if k[1] == "test:ns")


def test_table_cache_separates_sf_dirs(spark):
    small = load_table(spark, "/root/testdata/sf0.001", "region")
    same = load_table(spark, "/root/testdata/sf0.001", "region")
    other = load_table(spark, "/root/testdata/sf0.01", "region")
    assert small is same       # cache hit: identical frame object
    assert other is not small  # different snapshot, different entry
    app = spark.sparkContext.applicationId
    assert ( app, "/root/testdata/sf0.001", "region") in _TABLE_CACHE


def test_table_cache_frames_stay_valid_across_uses(spark):
    df = load_table(spark, SF_DIR, "nation")
    n1 = df.count()
    n2 = load_table(spark, SF_DIR, "nation").count()
    assert n1 == n2 and n1 > 0


def test_persisted_artifact_survives_rebuild_requests(spark, tmp_path):
    """store_dir turns the memo into a persisted artifact store: after
    the first build the parquet is the source of truth - a later
    consumer (here: fresh key cache, poisoned builder) reads the store
    instead of rebuilding."""
    import options_data_pipeline_spark.operators.artifacts as A

    store = str(tmp_path / "store")
    built = []

    def build():
        built.append(1)
        return spark.range(4).withColumn("y", F.col("id") + 10)

    a = A.session_artifact(spark, "test:persist/v1", build, store_dir=store)
    assert a.count() == 4 and len(built) == 1

    # simulate a different session: clear the in-memory memo entirely
    A._CACHE.clear()

    def poisoned():
        raise AssertionError("must be served from the store, not rebuilt")

    b = A.session_artifact(spark, "test:persist/v1", poisoned, store_dir=store)
    assert {r.y for r in b.collect()} == {10, 11, 12, 13}


def test_table_cache_serves_a_rewritten_table_afresh(spark, tmp_path):
    d = str(tmp_path)
    spark.range(3).write.parquet(f"{d}/t.parquet")
    assert load_table(spark, d, "t").count() == 3
    spark.range(10, 15).write.mode("overwrite").parquet(f"{d}/t.parquet")
    assert sorted(r.id for r in load_table(spark, d, "t").collect()) == list(range(10, 15))


def test_table_cache_hit_does_not_reread(spark):
    first = load_table(spark, SF_DIR, "events")
    sc = spark.sparkContext
    sc.setJobGroup("table-cache-hit", "repeat load of an unchanged table")
    try:
        again = load_table(spark, SF_DIR, "events")
    finally:
        sc._jsc.clearJobGroup()  # noqa: SLF001 - no pyspark wrapper
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)  # noqa: SLF001
    assert again is first
    assert not sc.statusTracker().getJobIdsForGroup("table-cache-hit")
