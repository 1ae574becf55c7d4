"""End-to-end corpus curation job: the LLM-data lifecycle as ONE
composable flow, the way §3's reference flows compose collection →
aggregation → upsert for market data.

Stages (all reusing the individually-oracle-checked operators):

1. exact + fuzzy dedup — connected components of the near-dup graph
   (MinHash-verified pairs via the shared artifact store), survivor =
   highest-quality member per cluster (merit, not arrival order);
2. quality gate — deterministic heuristic score, threshold filter;
3. PII scrub — regexp redaction pass on the survivors;
4. shard packing — token-budgeted shards via the two-level distributed
   prefix sum, written one file per shard.

Returns the metrics dict a pipeline run records: docs in, dropped by
dedup, dropped by quality, redactions applied, shards and tokens out.
Every stage is a DataFrame transformation — the job materializes once
at the final write; counts ride `Observation`s or tiny aggregates, not
extra full scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def curate_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    quality_min: float = 0.3,
    shard_budget: int = 20_000,
) -> dict:
    """Run the full curation pipeline over the ``documents`` table and
    write training shards to ``out_path``. Returns run metrics."""
    from ..operators.packing import write_token_shards
    from ..operators.pii import detect_pii, redact_pii
    from ..operators.textstats import quality_score
    from ..sources.tables import load_table
    from ..plans.text import q_cluster_survivors, q_dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    n_in = docs.count()

    # 1. fuzzy dedup: drop every clustered doc that is not its cluster's
    # highest-quality survivor (exact dups are a special case: identical
    # text -> same cluster)
    clusters = q_dedup_clusters(spark, sf_dir).select(
        F.col("node").alias("doc_id"), "component"
    )
    survivors = q_cluster_survivors(spark, sf_dir).select(
        F.col("survivor").alias("doc_id")
    )
    clustered_losers = clusters.join(survivors, "doc_id", "left_anti")
    deduped = docs.join(
        F.broadcast(clustered_losers.select("doc_id")), "doc_id", "left_anti"
    )

    # 2. quality gate
    scored = quality_score(deduped)
    kept = scored.where(F.col("quality_score") >= quality_min)

    # 3. PII scrub: count hits on the original text, then redact
    scrubbed = redact_pii(detect_pii(kept))

    # 4. pack + write shards on the redacted text length
    to_pack = scrubbed.select(
        "doc_id",
        "lang",
        F.col("redacted_text").alias("text"),
        F.size(F.split(F.col("redacted_text"), " ")).cast("long").alias(
            "n_tokens"
        ),
    )
    write_token_shards(to_pack, out_path, budget=shard_budget)

    out = spark.read.parquet(out_path)
    stats = out.agg(
        F.count(F.lit(1)).alias("docs_out"),
        F.sum("n_tokens").alias("tokens_out"),
        F.countDistinct("lang", "shard_id").alias("shards_out"),
    ).first()
    n_dedup_dropped = clustered_losers.count()
    n_quality_dropped = n_in - n_dedup_dropped - stats.docs_out
    redactions = scrubbed.agg(F.sum("n_pii").alias("n")).first().n
    return {
        "docs_in": n_in,
        "dedup_dropped": n_dedup_dropped,
        "quality_dropped": n_quality_dropped,
        "docs_out": stats.docs_out,
        "tokens_out": int(stats.tokens_out),
        "shards_out": stats.shards_out,
        "redactions": int(redactions or 0),
    }


def curation_report(spark: SparkSession, out_path: str) -> DataFrame:
    """Per-(lang, shard) manifest of a curated corpus written by
    :func:`curate_corpus` — the dataset card a training job consumes."""
    out = spark.read.parquet(out_path)
    return out.groupBy("lang", "shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )
