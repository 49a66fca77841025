"""Incremental trigram-Kneser-Ney model (streaming twin of
``text_kneser_ney3_logprob``).

The batch operator's ONLY corpus-sized work is its count fold
(``text_analysis._gram_counts``: trigram and bigram counts from one gram
explode, ``text_analysis._grams``); every model quantity after that is a
type-level aggregate over those counts, and counts are ADDITIVE. So the
ingest-pipeline form is a sum-mergeable counter store: each micro-batch
of documents lands its own (kind, u, v, w, n) count partial — the fold
itself, whose order tag is ``kind`` — in that epoch's partition, reads
fold base + epochs with one aggregate, and scoring applies the SAME
Kneser-Ney scorer (``text_analysis._kn_score``) — a fully drained
stream's scores equal the batch operator's over the same corpus (same
integer model frames; the per-doc avg(ln p) is float-order sensitive in
its last ulp, pinned by test at 1e-12 relative).

The two count shapes share one store schema with the ``kind``
discriminator (``tri`` rows carry (u, v, w), ``bi`` rows carry
(u, NULL, w)) so the fold, retention, and crash-recovery paths are
single-store — the ``mix_incremental`` counter-store lifecycle verbatim,
on the epoch-store protocol's marker fold (``streaming/stores.py``).

Scale (100 TB of history): per-batch work is one map-side-combinable
aggregate over the batch only; the store grows O(distinct n-gram types),
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
    """One micro-batch's additive count partial in the store schema: the
    batch operator's own count fold, whose order tag is ``kind``."""
    from komodo_data_spark.operators.text_analysis import _gram_counts

    return _gram_counts(batch_df, (3, 2)).select("kind", "u", "v", "w", "n")


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


def _fold(store: DataFrame) -> DataFrame:
    return store.groupBy("kind", "u", "v", "w").agg(F.sum("n").alias("n"))


def read_kn3_scores(
    spark: SparkSession, store_path: str, docs: DataFrame
) -> DataFrame:
    """Score ``docs`` (doc_id, text) under the model of everything the
    store has seen: fold base + epochs per n-gram type, then the batch
    operator's Kneser-Ney scorer (``text_analysis._kn_score``) with no
    OOV mass, as ``text_kneser_ney3_logprob`` scores. An event the store
    has not counted backs off to the level below; a word it never saw
    scores NULL, which the average skips. An empty store scores nothing."""
    from komodo_data_spark.operators.text_analysis import _grams, _kn_score

    store = read_fold_store(spark, store_path)
    if store is None:
        store, docs = spark.createDataFrame([], _COUNT_SCHEMA), docs.limit(0)
    grams = _grams(docs, (3,), ["doc_id"])
    return _kn_score(grams, _fold(store), 3, 0.0, ["doc_id"])


def compact_kn3_store(spark: SparkSession, store_path: str) -> int:
    """Fold epoch partitions into the O(1) base via the shared
    marker-protocol fold (sum merge is NOT crash-safe without it)."""
    return compact_fold_store(store_path, spark, _fold)
