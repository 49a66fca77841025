"""Streaming distribution-drift monitor (population stability index).

The batch form (operators/events_analytics.events_value_psi_drift) audits a
LANDED table day by day; the ingestion edge wants the same signal per
micro-batch, against a FROZEN reference distribution, so a drifting
producer is caught while the batch is still in flight — the monitor a
training-data pipeline puts next to its expectations gate
(streaming/expectations.py).

Design:
- The reference is a tiny parquet table (event_type × bin counts) built
  once from a trusted corpus slice by ``write_reference``; at 100 TB it is
  KBs — the stream broadcasts it into every batch.
- Each micro-batch collapses to bin counts in ONE map-side-combinable
  aggregate (the only shuffle, types × bins rows), PSI arithmetic runs on
  that KB-scale frame, and one log row per (epoch, event_type) is appended
  to the drift log's epoch partition (the epoch-store protocol,
  ``streaming/stores.py``), so foreachBatch replay cannot double-log.
- Smoothing and binning share the batch op's constants: stream PSI ==
  batch PSI on the same rows (pinned by test).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from komodo_data_spark.operators.events_analytics import (
    _HIST_HI,
    _HIST_LO,
    _PSI_BINS,
    _PSI_SMOOTH,
)
from komodo_data_spark.streaming.stores import overwrite_partitions, start_batches


def bin_col() -> F.Column:
    """THE PSI bin assignment for a ``value`` column (fixed width over
    [_HIST_LO, _HIST_HI), edge-clamped) — shared by the streaming monitor
    and the batch auditor so their binning cannot drift apart."""
    width = (_HIST_HI - _HIST_LO) / _PSI_BINS
    return F.least(
        F.greatest(
            F.floor((F.col("value") - F.lit(_HIST_LO)) / F.lit(width)),
            F.lit(0),
        ),
        F.lit(_PSI_BINS - 1),
    )


def value_bins(ev: DataFrame) -> DataFrame:
    """(event_type, bin, n) for an events frame."""
    return (
        ev.select("event_type", bin_col().alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def write_reference(ev: DataFrame, ref_path: str) -> None:
    """Freeze the reference distribution from a trusted events frame."""
    value_bins(ev).withColumnRenamed("n", "n_ref").write.mode(
        "overwrite"
    ).parquet(ref_path)


def psi_of(bins: DataFrame, ref: DataFrame, keys: list[str]) -> DataFrame:
    """PSI per ``keys`` group of ``bins`` (counts per keys+bin) against the
    frozen reference (event_type, bin, n_ref). Dense-spines both sides so
    empty bins contribute their smoothed term; pure KB-scale arithmetic."""
    from pyspark.sql import Window

    spine = (
        bins.select(*keys)
        .distinct()
        .select(
            *keys,
            F.explode(F.sequence(F.lit(0), F.lit(_PSI_BINS - 1))).alias("bin"),
        )
    )
    dense = spine.join(bins, [*keys, "bin"], "left").select(
        *keys, "bin", F.coalesce("n", F.lit(0)).alias("n")
    )
    joined = (
        dense.join(F.broadcast(ref), ["event_type", "bin"], "left")
        .select(
            *keys, "bin", "n", F.coalesce("n_ref", F.lit(0)).alias("n_ref")
        )
        .withColumn("day_total", F.sum("n").over(Window.partitionBy(*keys)))
        .withColumn(
            "ref_total", F.sum("n_ref").over(Window.partitionBy(*keys))
        )
    )
    smooth = F.lit(_PSI_SMOOTH)
    pad = F.lit(_PSI_SMOOTH * _PSI_BINS)
    p = (F.col("n") + smooth) / (F.col("day_total") + pad)
    q = (F.col("n_ref") + smooth) / (F.col("ref_total") + pad)
    return (
        joined.withColumn("term", (p - q) * F.log(p / q))
        .groupBy(*keys)
        .agg(F.sum("term").alias("psi"), F.sum("n").alias("n_events"))
    )


def monitor_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch_id: int,
    ref_path: str,
    log_path: str,
) -> None:
    """One micro-batch -> one drift-log row per event_type present."""
    ref = spark.read.parquet(ref_path)
    log = psi_of(value_bins(batch_df), ref, ["event_type"]).withColumn(
        "epoch_id", F.lit(int(epoch_id))
    )
    overwrite_partitions(log, log_path, "epoch_id")


def start_drift_monitor(
    spark: SparkSession,
    events_dir: str,
    ref_path: str,
    log_path: str,
    checkpoint: str,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    from komodo_data_spark.streaming.windows import events_stream

    return start_batches(
        events_stream(spark, events_dir, max_files_per_trigger),
        checkpoint,
        lambda b, e: monitor_batch(spark, b, e, ref_path, log_path),
    )


def drift_log(spark: SparkSession, log_path: str) -> DataFrame:
    """All drift-log rows so far: (epoch_id, event_type, psi, n_events)."""
    return spark.read.parquet(log_path).select(
        "epoch_id", "event_type", "psi", "n_events"
    )
