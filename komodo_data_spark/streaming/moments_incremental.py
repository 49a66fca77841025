"""Incremental moments store: the streaming lifecycle of
``operators/timeseries.events_rollup_merge``.

The batch op proves merge(hourly partials) == direct daily aggregate; this
module makes the partials a PERSISTED, stream-maintained table, so daily
(or monthly) statistics are assembled from stored KB-scale state and
today's rollup never re-reads raw history — the plain-statistics member of
the incremental-store family (sketches.py = distinct counts,
bm25_incremental.py = term stats, drift.py = PSI reference).

Design (same rules as every store here):
- Each micro-batch writes its own hourly partial rows under an
  ``epoch_id=`` partition (the epoch-store protocol,
  ``streaming/stores.py``).
- An hour spanning several micro-batches simply appears once per epoch;
  the shared ``merge_daily`` fold is associative-commutative over partial
  rows, so no compaction is ever REQUIRED for correctness. A retention
  fold can still collapse old epochs to one row per hour — also via
  ``merge to hour grain``, state stays O(|hours|).
- The daily readout calls the batch op's own kernels (``hourly_partials``
  is used by the per-batch writer, ``merge_daily`` by the reader), so
  stream and batch can never disagree on the state shape or the fold —
  pinned by test against ``events_rollup_merge`` on the same rows.

Scale: per-batch work is one map-side-combinable aggregate over the batch
(≤ |hours in batch| rows shuffle); the readout scans only the partial
store (|hours| × |epochs touched| rows, KBs at any corpus size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from komodo_data_spark.operators.timeseries import hourly_partials, merge_daily
from komodo_data_spark.streaming.stores import overwrite_partitions, start_batches


def write_batch_partials(
    batch_df: DataFrame, epoch_id: int, store_path: str
) -> None:
    """One micro-batch -> its hourly partial rows, epoch-partitioned."""
    overwrite_partitions(
        hourly_partials(batch_df).withColumn("epoch_id", F.lit(int(epoch_id))),
        store_path,
        "epoch_id",
    )


def start_moments_stream(
    spark: SparkSession,
    events_dir: str,
    store_path: str,
    checkpoint: str,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    from komodo_data_spark.streaming.windows import events_stream

    return start_batches(
        events_stream(spark, events_dir, max_files_per_trigger),
        checkpoint,
        lambda b, e: write_batch_partials(b, e, store_path),
    )


def daily_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Daily statistics assembled from the stored partials — identical
    output schema and values to the batch ``events_rollup_merge`` over the
    same underlying rows."""
    return merge_daily(spark.read.parquet(store_path))


def compact_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Retention fold: collapse all epochs to one row per hour (the state
    an operator would persist long-term). Returns the folded frame; the
    caller owns the rewrite so crash-safety can go through the publish
    protocol (sources/publish.py) like the other stores."""
    return (
        spark.read.parquet(store_path)
        .groupBy("hour")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("n_values").alias("n_values"),
            F.sum("sum_v").alias("sum_v"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
            F.sum("sumsq_v").alias("sumsq_v"),
        )
    )
