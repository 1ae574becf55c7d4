"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference crypto OHLC/options pipeline
(nickhopes/options-data-pipeline), re-expressed Spark-first.

Layout
------
- ``session``    : SparkSession factory (UTC, AQE, parquet nanos handling)
- ``schemas``    : explicit StructTypes for every domain table
- ``sources``    : parquet table registry + REST collector adapters
- ``functions``  : scalar expression library (rounding, calendar anchors,
                   instrument parsing, pct change)
- ``operators``  : relational operators (session OHLC rollup, option OHLC,
                   gap scan, dedup, simhash, similarity/ANN, as-of join,
                   salted join, connected components, text stats,
                   multimodal binary kernels)
- ``sinks``      : keyed-upsert / insert-if-absent / CDC sinks over one
                   merge core and one commit path (staged write, journaled
                   swap, commit record), plus layout jobs
- ``streaming``  : Structured Streaming jobs (dedup ingest, foreachBatch
                   lookback-recompute MERGE, applyInPandasWithState)
- ``jobs``       : batch lifecycles (watermark sync, gap repair, backfill,
                   daily/weekly/monthly session + option OHLC aggregation)
- ``plans``      : query registry binding operators to the benchmark tables,
                   each with a DuckDB oracle SQL twin
"""

__version__ = "0.1.0"
