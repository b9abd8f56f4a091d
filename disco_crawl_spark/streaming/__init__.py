"""Structured Streaming form of the reference's Kinesis post-processing
pipeline (postprocessor/README.md:3-16).

The reference chains five Kinesis streams (qualified_urls → verified_raw →
verified_bs4 → verified_goose → readability_scored), one OS process per
shard, memoizing each stage as an S3 object (base_node.py:58-96). Here the
whole chain is ONE streaming query: readStream over the pages/crawl_log
table → text extraction + readability + quality columns → writeStream with
checkpointing. Shards become partitions; stage memoization becomes
exactly-once micro-batch semantics (fixing the duplicate-records bug the
reference documents, postprocessor/README.md:23); the missing
checkpointing (settings.py:20-21 'TODO') is a checkpointLocation.

``run_postprocess_batch`` is the batch form of the same transformation,
applied incrementally under null-guard memoization (process_bs4.py:22-23);
the crawl engine does not call it (its rounds parse pages through
``udfs.parse_page`` directly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import textstats
from .. import udfs


def postprocess_columns(df: DataFrame, html_col: str = "html",
                        url_col: str = "url") -> DataFrame:
    """The stage chain as column transforms: raw-repair+text (process_raw +
    process_bs4), readability struct (process_readability), plus quality/
    token stats (our training-data additions), and the verified_goose
    main-content stage (goose3 when importable, a deterministic stdlib
    heuristic otherwise — refsem.goose_text). Only textract is skipped:
    acknowledged broken in the reference (process_textract.py:34)."""
    parsed = df.withColumn(
        "_p", udfs.parse_page(F.col(html_col), F.col(url_col),
                              F.coalesce(F.parse_url(F.col(url_col),
                                                     F.lit("HOST")),
                                         F.lit("")),
                              F.lit("https"),
                              F.lit(None).cast("string")))
    out = (parsed
           .withColumn("text_extracted", F.col("_p.text"))
           .withColumn("title", F.col("_p.title"))
           .withColumn("keywords", F.col("_p.keywords"))
           .withColumn("content_hash", F.col("_p.content_hash"))
           .drop("_p"))
    # the verified_goose stage: main-content text (goose3 when importable,
    # stdlib heuristic otherwise — refsem.goose_text)
    out = out.withColumn("text_goose", udfs.goose_text(F.col(html_col)))
    return out.withColumn(
        "readability", textstats.readability_struct(F.col("text_extracted")))


def run_postprocess_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    available_now: bool = True,
):
    """Streaming query over a pages parquet directory. ``available_now``
    processes the current backlog then stops (used in tests and backfills);
    without it the query follows new files — the live-crawl tail."""
    src = (spark.readStream.schema(
        "url string, warc_ts timestamp, html binary, text string, lang string")
        .parquet(input_path))
    out = postprocess_columns(src)
    writer = (out.writeStream.format("parquet")
              .option("path", output_path)
              .option("checkpointLocation", checkpoint_path)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_postprocess_batch(df: DataFrame) -> DataFrame:
    """Batch-round form with the reference's idempotence semantics: rows
    that already carry text are not recomputed (stage memoization,
    process_bs4.py:22-23)."""
    fresh = postprocess_columns(df.filter(F.col("text").isNull()))
    done = (df.filter(F.col("text").isNotNull())
            .withColumn("text_extracted", F.col("text"))
            .withColumn("title", F.lit(None).cast("string"))
            .withColumn("keywords", F.lit(None).cast("array<string>"))
            .withColumn("content_hash", F.lit(None).cast("string"))
            .withColumn("text_goose", F.lit(None).cast("string"))
            .withColumn("readability",
                        textstats.readability_struct(F.col("text"))))
    return fresh.unionByName(done)
