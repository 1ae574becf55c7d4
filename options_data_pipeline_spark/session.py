"""SparkSession factory.

Every session is pinned to UTC (the reference stores TIMESTAMPTZ in UTC
throughout; reference src/pipeline/collectors/binance_1m.py:112-123)
and enables AQE so that skewed shuffles and small partitions are re-planned
at runtime — essential posture for the 100 TB target even though tests run
on ``local[*]``.

Two confs pay each plan's driver-side cost once: the gold tables are
small and the workloads repeat the same plans, so the fixed cost per
query (code generation, py4j round trips) is most of its cost.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# Generated classes the codegen cache holds.  The pipeline's working set
# is about 230 classes (114 for the analytics query mix, about 120 for an
# incremental run's set-up and batches); Guava splits the cache into 4 LRU
# segments that evict independently, so it is sized at about 4x the union.
# Spark's default is 100.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "options-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine.

    Notes on individual knobs:

    - ``spark.sql.session.timeZone=UTC``: all reference semantics are UTC.
    - ``spark.sql.adaptive.enabled`` + skewJoin: runtime re-planning.
    - ``spark.sql.legacy.parquet.nanosAsLong``: the benchmark ``events``
      table carries nanosecond parquet timestamps, which Spark 4 rejects
      by default; we read them as longs and normalize to TimestampType
      in :mod:`options_data_pipeline_spark.sources.tables`.
    - Arrow enabled for the (rare) Pandas-UDF paths — everything on the
      hot path is native Catalyst expressions.
    - ``spark.sql.codegen.cache.maxEntries`` (static; takes effect only
      when this call starts the SparkContext): with Spark's default of
      100 entries, a warm round of the 7 analytics queries recompiled 88
      of the 114 classes it needs, and an incremental batch 29-30, of
      which 4 are new because the batch's literals change.  At
      :data:`CODEGEN_CACHE_ENTRIES` a warm repeat of a plan compiles
      nothing.
    - ``spark.python.sql.dataFrameDebugging.enabled=false``: pyspark 4
      captures the Python call site of every Column method, which costs
      an active-session lookup, a conf read and an origin set and clear
      on the JVM: 11 py4j round trips per Column operator instead of 1.
      Building the 7 analytics plans took 8,200-8,700 round trips (about
      1.6-1.9 s of a 4-5 s round) with it and 2,700-3,500 without; an
      incremental batch 5,000-5,300 and 2,600-3,000.  The cost: an
      error raised at run time no longer names the Python line that
      built the failing expression (the ``DataFrameQueryContext`` of the
      message is missing).  With ANSI off almost no runtime error path
      carries one; analysis errors still raise at the offending call.
      pyspark reads this conf once per process, at the first Column call
      with an active session, so it applies only to a session this
      function creates before any such call.

    ``extra_conf`` overrides any of these.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # permissive classic semantics: invalid make_date/casts yield NULL
        # (mirrors the reference's skip-unparseable behavior, deribit.py:90-92)
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
