"""Incremental quantile store: the streaming lifecycle of
``operators/timeseries.events_value_percentiles_hist``.

Percentile monitoring (p50/p90/p99 of a metric) is the most-asked
streaming statistic, and the one the incremental-store family was
missing (sketches.py = distinct counts, moments_incremental.py = plain
statistics, bm25_incremental.py = term stats, drift.py = PSI). The
mergeable representation is a FIXED-GRID histogram: per-batch
(event_type, bin) counts merge with ZERO error (counts add — unlike
t-digest/KLL merges, which drift), so the stream readout equals the
batch operator over the same rows EXACTLY, and the only approximation —
grid resolution, bounded by one bin width — is pinned against the exact
percentile by test.

Design (same rules as every store here):
- Each micro-batch writes its own (event_type, bin, n) partial rows
  under an ``epoch_id=`` partition (the epoch-store protocol,
  ``streaming/stores.py``).
- A bin spanning several micro-batches simply appears once per epoch;
  the shared read-time fold (``percentiles_from_partials``) sums counts,
  so no compaction is ever REQUIRED for correctness. The retention fold
  collapses old epochs to one row per (event_type, bin) — state stays
  O(|event_types| × VHIST_BINS) forever.
- Writer and reader call the batch op's own kernels
  (``value_hist_partials`` / ``percentiles_from_partials``), so stream
  and batch can never disagree on the state shape, the grid, or the
  interpolation rule — pinned by test against
  ``events_value_percentiles_hist`` on the same rows.

Scale: per-batch work is one map-side-combinable aggregate over the
batch (≤ |types|×256 rows shuffle); the readout scans only the partial
store (|types| × 256 × |epochs touched| rows, KBs at any corpus size).
Per-batch latency is flat over stream lifetime (BENCH_STREAM row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from komodo_data_spark.operators.timeseries import (
    percentiles_from_partials,
    value_hist_partials,
)
from komodo_data_spark.streaming.stores import overwrite_partitions, start_batches


def write_batch_partials(
    batch_df: DataFrame, epoch_id: int, store_path: str
) -> None:
    """One micro-batch -> its (event_type, bin) count rows, epoch-partitioned."""
    overwrite_partitions(
        value_hist_partials(batch_df).withColumn("epoch_id", F.lit(int(epoch_id))),
        store_path,
        "epoch_id",
    )


def start_value_quantile_stream(
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


def percentiles_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """The percentile panel assembled from stored partials — identical
    output schema and values to the batch
    ``events_value_percentiles_hist`` over the same underlying rows."""
    return percentiles_from_partials(spark.read.parquet(store_path))


def compact_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Retention fold: collapse all epochs to one row per (event_type,
    bin). Returns the folded frame; the caller owns the rewrite so
    crash-safety can go through the publish protocol (sources/publish.py)
    like the other stores."""
    return (
        spark.read.parquet(store_path)
        .groupBy("event_type", "b")
        .agg(
            F.sum("n").alias("n"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
        )
    )
