"""Incremental source-mix statistics: the temperature-sampling weights
(``docs_temperature_mix``) maintained as a streaming counter store.

Per micro-batch, one tiny (source, n_tokens) sum lands in that epoch's
partition — sum-mergeable state, the counter analogue of the sketch
store. Reads fold base + epochs with one |sources|-bounded aggregate and
apply the SAME ``temperature_weights`` function as the batch operator, so
stream and batch can never disagree on the math. Writes, retention and
crash recovery follow the epoch-store protocol (``streaming/stores.py``).

Why incremental: re-deriving mixture weights from 100 TB for every batch
of new arrivals re-tokenizes the corpus; this store keeps O(|sources|)
rows per epoch and folds to O(|sources|) total, making "what should the
sampling distribution be NOW" a constant-time read.

A sum store carries no key that could expose a fresh-checkpoint restart,
so unlike ``compact_export`` nothing can detect it after the fact:
restarting with a NEW checkpoint must target a NEW store path (or an
emptied one), never a store that already holds folded history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from komodo_data_spark.streaming.stores import (
    compact_fold_store,
    file_stream,
    overwrite_partitions,
    read_fold_store,
    start_batches,
)


def counts_batch(batch_df: DataFrame, epoch_id: int, store_path: str) -> None:
    """Fold one micro-batch into its epoch partition of the counter store.
    The aggregation is the batch operator's own helper — both halves of
    the math (counting AND weighting) are shared, so the two paths cannot
    drift."""
    from komodo_data_spark.operators.pipeline_ops import (
        per_source_token_counts,
    )

    overwrite_partitions(
        per_source_token_counts(batch_df).withColumn(
            "epoch_id", F.lit(int(epoch_id))
        ),
        store_path,
        "epoch_id",
    )


def start_incremental_mix(
    spark: SparkSession,
    docs_dir: str,
    store_path: str,
    checkpoint: str,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    return start_batches(
        file_stream(spark, docs_dir, max_files_per_trigger),
        checkpoint,
        lambda b, e: counts_batch(b, e, store_path),
    )


def read_mix_weights(spark: SparkSession, store_path: str) -> DataFrame:
    """Current temperature-sampling weights from the counter store: fold
    base + epochs per source, then the shared batch math."""
    from komodo_data_spark.operators.pipeline_ops import temperature_weights

    store = read_fold_store(spark, store_path)
    if store is None:  # never-populated store: empty weights frame
        return temperature_weights(
            spark.createDataFrame([], "source string, n_tokens bigint")
        )
    return temperature_weights(
        store.groupBy("source").agg(F.sum("n_tokens").alias("n_tokens"))
    )


def compact_mix_store(spark: SparkSession, store_path: str) -> int:
    """Fold epoch partitions into the O(1) base via the shared
    marker-protocol fold (sum merge is NOT crash-safe without it)."""
    return compact_fold_store(
        store_path,
        spark,
        lambda store: store.groupBy("source").agg(
            F.sum("n_tokens").alias("n_tokens")
        ),
    )
