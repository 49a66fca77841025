"""Streaming corpus cleaning: the quality-classifier gate + exact streaming
dedup applied to documents AS THEY ARRIVE — the ingestion edge of a
training-data pipeline, where filtering before landing is 100× cheaper than
cleaning a landed corpus.

The scorer is the SAME codegen'd column as the batch operator
(text_analysis.quality_probability_col — one definition, no batch/stream
drift). Dedup is exact on the content fingerprint via streaming
``dropDuplicates``: state is one md5 per *distinct surviving* document.
Scale note: that state is unbounded over an infinite stream by design (a
duplicate must be recognized however late it arrives); where re-crawl
windows allow forgetting, swap in ``dropDuplicatesWithinWatermark`` keyed
on an event-time column (see streaming/joins.dedup_stream for that form) —
same plan otherwise.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from komodo_data_spark.functions.text_features import tokens
from komodo_data_spark.operators.text_analysis import (
    QUALITY_LR_KEEP_THRESHOLD,
    quality_probability_col,
)
from komodo_data_spark.streaming.stores import file_stream


def clean_docs(docs):
    """The gate itself (works on batch AND streaming frames): quality
    probability >= threshold, then exact-dedup on the normalized content
    fingerprint. Returns (doc_id, source, content_fp, p_keep)."""
    d = docs.withColumn("toks", tokens())
    return (
        d.withColumn("p_keep", quality_probability_col())
        .filter(F.col("p_keep") >= QUALITY_LR_KEEP_THRESHOLD)
        .withColumn("content_fp", F.md5(F.concat_ws(" ", "toks")))
        .dropDuplicates(["content_fp"])
        .select("doc_id", "source", "content_fp", "p_keep")
    )


def start_corpus_clean_stream(
    spark: SparkSession,
    docs_dir: str,
    out_path: str,
    checkpoint: str,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Drain a documents parquet directory through the gate into a clean
    parquet table. One file per micro-batch (crawl-dump arrival shape)."""
    return (
        clean_docs(file_stream(spark, docs_dir, max_files_per_trigger))
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
