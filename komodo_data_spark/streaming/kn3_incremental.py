"""Incremental trigram-Kneser-Ney model (streaming twin of
``text_kneser_ney3_logprob``).

The batch operator's ONLY corpus-sized work is the pair of token-count
aggregates (trigram counts m3, bigram counts m2 —
``text_analysis._kn3_count_frames``); every model quantity after that is
a type-level aggregate over those counts, and counts are ADDITIVE. So the
ingest-pipeline form is a sum-mergeable counter store: each micro-batch
of documents lands its own (kind, u, v, w, n) count partial in that
epoch's partition, reads fold base + epochs with one aggregate, and
scoring applies the SAME ``_kn3_score`` kernel — a fully drained stream's
scores equal the batch operator's over the same corpus (same integer
model frames; the per-doc avg(ln p) is float-order sensitive in its last
ulp, pinned by test at 1e-12 relative).

The two count shapes share one store schema with a ``kind`` discriminator
(``tri`` rows carry (u, v, w), ``bi`` rows carry (u, NULL, w)) so the
fold, retention, and crash-recovery paths are single-store — the
``mix_incremental`` counter-store lifecycle verbatim, on the epoch-store
protocol's marker fold (``streaming/stores.py``).

Scale (100 TB of history): per-batch work is two map-side-combinable
aggregates over the batch only; the store grows O(distinct n-gram types),
not O(corpus tokens); "score these docs under the model of everything
seen so far" never re-reads landed history.
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

_COUNT_SCHEMA = "kind string, u string, v string, w string, n bigint"


def kn3_count_partials(batch_df: DataFrame) -> DataFrame:
    """One micro-batch's additive count partial in the store schema —
    the batch operator's own count kernel, tagged by kind."""
    from komodo_data_spark.operators.text_analysis import _kn3_count_frames

    m3, m2 = _kn3_count_frames(batch_df)
    tri = m3.select(
        F.lit("tri").alias("kind"), "u", "v", "w", F.col("c").alias("n")
    )
    bi = m2.select(
        F.lit("bi").alias("kind"),
        F.col("u2").alias("u"),
        F.lit(None).cast("string").alias("v"),
        "w",
        F.col("c2").alias("n"),
    )
    return tri.unionByName(bi)


def counts_batch(batch_df: DataFrame, epoch_id: int, store_path: str) -> None:
    """Fold one micro-batch into its epoch partition."""
    overwrite_partitions(
        kn3_count_partials(batch_df).withColumn("epoch_id", F.lit(int(epoch_id))),
        store_path,
        "epoch_id",
    )


def start_incremental_kn3(
    spark: SparkSession,
    docs_dir: str,
    store_path: str,
    checkpoint: str,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """File-source document stream (doc_id, text, ...) -> counter store."""
    return start_batches(
        file_stream(spark, docs_dir, max_files_per_trigger),
        checkpoint,
        lambda b, e: counts_batch(b, e, store_path),
    )


def _folded_counts(spark: SparkSession, store_path: str) -> DataFrame:
    store = read_fold_store(spark, store_path)
    if store is None:
        return spark.createDataFrame([], _COUNT_SCHEMA)
    return store.groupBy("kind", "u", "v", "w").agg(F.sum("n").alias("n"))


def read_kn3_scores(
    spark: SparkSession, store_path: str, docs: DataFrame
) -> DataFrame:
    """Score ``docs`` (doc_id, text) under the model of everything the
    store has seen: fold base + epochs per n-gram type, split by kind,
    then the shared batch scoring kernel (``_kn3_score``)."""
    from komodo_data_spark.operators.text_analysis import (
        _grams3,
        _kn3_score,
    )

    counts = _folded_counts(spark, store_path)
    m3 = counts.filter(F.col("kind") == "tri").select(
        "u", "v", "w", F.col("n").alias("c")
    )
    m2 = counts.filter(F.col("kind") == "bi").select(
        F.col("u").alias("u2"), "w", F.col("n").alias("c2")
    )
    return _kn3_score(_grams3(docs), m3, m2)


def compact_kn3_store(spark: SparkSession, store_path: str) -> int:
    """Fold epoch partitions into the O(1) base via the shared
    marker-protocol fold (sum merge is NOT crash-safe without it)."""
    return compact_fold_store(
        store_path,
        spark,
        lambda store: store.groupBy("kind", "u", "v", "w").agg(
            F.sum("n").alias("n")
        ),
    )
