"""Incremental hourly-rate EWMA: the ``events_ewma_hourly`` monitor
maintained as a streaming counter store.

Per micro-batch, one tiny (event_type, day, h) count frame lands in that
epoch's partition — sum-mergeable state, the same counter-store shape as
``mix_incremental``. Reads fold base + epochs with one grid-bounded
aggregate and apply the SAME ``ewma_from_counts`` math as the batch
operator, so stream and batch cannot disagree (and the dyadic alpha makes
the equality BIT-exact, not just tolerance-close). Writes, retention and
crash recovery follow the epoch-store protocol (``streaming/stores.py``).

Why incremental: the corpus-scale work of the batch monitor is the count
aggregate; everything after it runs on a KB-scale grid. Keeping the
partials per epoch means "what is the smoothed rate NOW" never re-reads
landed history — each batch adds O(types x 24) rows and the read is
O(store), exactly the hypertable continuous-aggregate lifecycle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from komodo_data_spark.streaming.stores import (
    compact_fold_store,
    overwrite_partitions,
    read_fold_store,
    start_batches,
)

_COUNT_SCHEMA = "event_type string, day bigint, h bigint, n bigint"


def counts_batch(batch_df: DataFrame, epoch_id: int, store_path: str) -> None:
    """Fold one micro-batch into its epoch partition of the counter store.
    The aggregation is the batch operator's own ``hourly_counts`` kernel."""
    from komodo_data_spark.operators.timeseries import hourly_counts

    overwrite_partitions(
        hourly_counts(batch_df).withColumn("epoch_id", F.lit(int(epoch_id))),
        store_path,
        "epoch_id",
    )


def start_incremental_ewma(
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
        lambda b, e: counts_batch(b, e, store_path),
    )


def read_ewma(spark: SparkSession, store_path: str) -> DataFrame:
    """Current smoothed hourly rates from the counter store: fold base +
    epochs per (event_type, day, h), then the shared batch math."""
    from komodo_data_spark.operators.timeseries import ewma_from_counts

    store = read_fold_store(spark, store_path)
    if store is None:
        return ewma_from_counts(spark.createDataFrame([], _COUNT_SCHEMA))
    return ewma_from_counts(
        store.groupBy("event_type", "day", "h").agg(F.sum("n").alias("n"))
    )


def compact_ewma_store(spark: SparkSession, store_path: str) -> int:
    """Fold epoch partitions into the O(1) base via the shared
    marker-protocol fold (sum merge is NOT crash-safe without it)."""
    return compact_fold_store(
        store_path,
        spark,
        lambda store: store.groupBy("event_type", "day", "h").agg(
            F.sum("n").alias("n")
        ),
    )
