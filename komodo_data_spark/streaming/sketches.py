"""Incremental frequency-sketch maintenance over the events stream.

The streaming sibling of operators/stats_ops.events_heavy_hitters_merged:
each micro-batch collapses to ONE persisted approx_top_k state row in its
epoch partition, and the heavy-hitter query combines + estimates over the
stored sketches at read time — no replay of ingested batches, ever.

Why this shape at 100 TB: the per-batch write is O(sketch) ≈ KBs no matter
how many rows the batch carried, the store grows by one row per batch (not
per key), and the read-side combine is a single tiny aggregation. Replay
safety, retention and crash recovery follow the epoch-store protocol
(``streaming/stores.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from komodo_data_spark.streaming.stores import (
    _INFLIGHT_MARKER,  # noqa: F401 - the file a crashed fold leaves here
    _TMP_EPOCH,
    compact_fold_store,
    overwrite_partitions,
    start_batches,
)

MAX_ITEMS_TRACKED = 100_000


def accumulate_batch(
    spark: SparkSession, batch_df: DataFrame, epoch_id: int, sketch_path: str
) -> None:
    """Collapse one micro-batch into a single sketch row in its epoch
    partition."""
    sk = batch_df.agg(
        F.expr(f"approx_top_k_accumulate(user_id, {MAX_ITEMS_TRACKED})").alias("sk")
    ).withColumn("epoch_id", F.lit(int(epoch_id)))
    overwrite_partitions(sk, sketch_path, "epoch_id")


def start_sketch_maintenance(
    spark: SparkSession,
    events: DataFrame,
    sketch_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """Maintain the per-batch sketch store from a streaming events frame."""
    return start_batches(
        events.select("user_id"),
        checkpoint,
        lambda b, e: accumulate_batch(spark, b, e, sketch_path),
    )


def heavy_hitters_from_store(
    spark: SparkSession, sketch_path: str, min_events: int, k: int = 1000
) -> DataFrame:
    """Combine every stored batch sketch and return keys with
    count >= min_events — same output contract as stats_ops'
    events_heavy_hitters, without touching the raw events.

    No driver-local existence pre-check: the store path may live on any
    Hadoop-visible filesystem (s3://, hdfs://, ...), where ``os.path``
    would wrongly report absence. A missing store surfaces as Spark's own
    scheme-aware PATH_NOT_FOUND from the read itself."""
    # a compaction that crashed between staging and marker install leaves
    # the scratch epoch_id=-2 partition holding a full copy of every count;
    # reads must never combine it (the re-run discards and refolds it)
    store = spark.read.parquet(sketch_path).filter(
        F.col("epoch_id") != _TMP_EPOCH
    )
    # approx_top_k_combine over ZERO rows crashes (scala.MatchError) — seed
    # with a valid empty sketch so an empty store means "no hitters yet"
    seed = (
        spark.range(0)
        .selectExpr("id AS user_id")
        .agg(
            F.expr(
                f"approx_top_k_accumulate(user_id, {MAX_ITEMS_TRACKED})"
            ).alias("sk")
        )
    )
    merged = store.select("sk").unionByName(seed).agg(
        F.expr(
            f"approx_top_k_estimate("
            f"approx_top_k_combine(sk, {MAX_ITEMS_TRACKED}), {k})"
        ).alias("tk")
    )
    return (
        merged.select(F.explode("tk").alias("e"))
        .select(F.col("e.item").alias("user_id"), F.col("e.count").alias("n_events"))
        .filter(F.col("n_events") >= min_events)
    )


def compact_store(spark: SparkSession, sketch_path: str) -> int:
    """Fold every per-epoch sketch row into ONE base row so the store stays
    O(1) instead of one-row-per-batch forever — the retention pass that
    makes the per-epoch write pattern sustainable over years of batches.

    Mergeability is the whole point of the sketch choice: combine(combine(
    a, b), c) == combine(a, b, c), so folding historical epochs into a base
    row changes no downstream estimate (pinned by test).

    Crash-reentrant through the marker-protocol fold
    (``stores.compact_fold_store``); run while the maintenance stream is
    paused. Returns the number of epoch partitions folded away.
    """
    return compact_fold_store(
        sketch_path,
        spark,
        lambda store: store.agg(
            F.expr(f"approx_top_k_combine(sk, {MAX_ITEMS_TRACKED})").alias(
                "sk"
            )
        ),
    )
