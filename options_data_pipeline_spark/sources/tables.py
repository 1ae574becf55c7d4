"""Benchmark table registry.

Loads the driver-generated parquet tables (``TESTDATA.md``) with schema
normalization so downstream operators always see proper Spark types.

The ``events`` table is written with nanosecond parquet timestamps, which
Spark 4 can only read as ``LongType`` (``spark.sql.legacy.parquet.nanosAsLong``).
We truncate to microseconds exactly like DuckDB does when it coerces
TIMESTAMP_NS -> TIMESTAMP, so the oracle and the engine agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sinks.commit import snapshot

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def ensure_session_conf(spark: SparkSession) -> None:
    """Apply runtime-settable configs this engine depends on.

    The external driver owns the SparkSession it hands to ``entry()`` /
    ``queries()``; it does not know about our session factory. Everything
    here is a runtime SQL conf (not a static Spark conf), so setting it on
    an already-running session is legal and idempotent.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")


# (applicationId, sf_dir, name) -> (snapshot token, loaded DataFrame).
# A DataFrame is an immutable logical plan that pins the file listing it
# was built from, so reusing one across queries is safe while the files
# are unchanged — and skips the ~100 ms of file listing +
# footer/schema read that spark.read.parquet pays per call (tens of
# seconds across a 90-query benchmark session).  Each hit re-checks the
# table's snapshot token (the commit record's: path, size and mtime of
# every data file), so a table rewritten under the same path is read
# afresh.  Keyed by applicationId so a frame never leaks into another
# session.
_TABLE_CACHE: dict[tuple[str, str, str], tuple[list, DataFrame]] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one benchmark table, normalizing event-time columns."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    # Re-pin session invariants on EVERY access, not just cache misses:
    # the NTZ->TIMESTAMP cast embedded in a cached plan is evaluated with
    # the session timezone at execution time, so a consumer that drifted
    # the conf between queries would silently shift cached tables' values.
    ensure_session_conf(spark)
    path = f"{sf_dir}/{name}.parquet"
    token = snapshot(path)
    cached = _TABLE_CACHE.get(key)
    if cached is not None and cached[0] == token:
        return cached[1]
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # nanos -> micros, exact integer truncation (matches DuckDB's coercion;
        # double division would round and drift by 1us on ~half the rows)
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Parquet micros timestamps with isAdjustedToUTC=false arrive as
    # TIMESTAMP_NTZ under Spark 4's NTZ inference. The whole engine (and the
    # DuckDB oracle) treats event time as instants in a UTC session, and
    # several time functions (unix_micros, window(), to_utc_timestamp) only
    # accept TIMESTAMP. Cast NTZ -> TIMESTAMP; with the session pinned to UTC
    # above this relabels the type without changing any stored value.
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    _TABLE_CACHE[key] = (token, df)
    while len(_TABLE_CACHE) > 64:
        _TABLE_CACHE.pop(next(iter(_TABLE_CACHE)))
    return df


def parallelized(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Repartition up to the session's parallelism — but only when the
    scan is under-partitioned.

    The benchmark parquet files are written as a single row group, so a
    scan yields 1-3 partitions and any map-heavy expression work
    (regexp parse, hyperplane dots, shingling) runs on as many cores. On
    production data with proper row-group sizing the guard makes this a
    no-op — we never pay a gratuitous full shuffle of a big table.
    """
    target = spark.sparkContext.defaultParallelism
    nparts = getattr(df, "_odps_nparts", None)
    if nparts is None:
        # the physical-RDD probe costs ~10-100 ms of driver work; stash it
        # on the (cached, immutable) frame so repeat consumers skip it
        nparts = df.rdd.getNumPartitions()
        try:
            df._odps_nparts = nparts
        except AttributeError:
            pass
    if nparts < target:
        return df.repartition(target)
    return df


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register each table as a temp view for spark.sql() access."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
