"""Streaming DSIR importance-weight gate for document ingestion.

The batch operator (``operators/pipeline_ops.docs_dsir_weights``) scores
a finished corpus against a target-domain model; a production pipeline
wants the same verdict at the edge, so off-target data is diverted
before it lands in the curated corpus — this closes the streaming-twin
symmetry for the data-SELECTION stage the way the decontamination /
PII / compression gates close it for the data-CLEANING stages. Both
sides call ONE model fit (``pipeline_ops.dsir_fit_llr``) and ONE
scoring kernel (``pipeline_ops.dsir_annotate``, bucket definition
``pipeline_ops._dsir_bucket``), so the gate and the batch scorer cannot
disagree about any document.

Model store: a parquet directory partitioned by ``version=N``.
``update_dsir_model_store`` fits the (b, llr) table from a corpus
snapshot and publishes it into its own version partition (idempotent
re-publish). Unlike the benchmark-SHINGLE store
(where versions are releases that accumulate and the gate screens
against their union), a DSIR model is a frozen estimator that newer
fits SUPERSEDE — the gate reads only the LATEST version at every
micro-batch, so a refit landing mid-stream re-scores all SUBSEQUENT
batches while already-published epochs keep the verdicts they got from
the model in force at their ingestion (a retro-score of history is the
batch operator's job).

Per micro-batch: annotate every row pass-through (one output row per
input row — duplicate and NULL doc_ids ride through unchanged, per the
compression-gate review finding), split keep/diverted on the importance
weight, and write each side to the batch's own ``epoch_id=N`` partition
(the epoch-store protocol, ``streaming/stores.py``).

Scale: the model is ≤ DSIR_BUCKETS (256) rows no matter the corpus size
and is broadcast by the shared kernel; the corpus side pays one
groupBy/join on a unique batch-local row key — high-cardinality,
skew-free, batch-bounded state. Store reads are O(1) per batch and the
store grows only with refits, so per-batch latency stays flat over
stream lifetime (BENCH_STREAM row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from komodo_data_spark.operators.pipeline_ops import (
    dsir_annotate,
    dsir_fit_llr,
)
from komodo_data_spark.streaming.stores import (
    file_stream,
    overwrite_partitions,
    require_store,
    start_batches,
)

#: Keep threshold: a document whose importance weight is at or above this
#: is admitted. 0.0 = "at least as target-like as the raw pool average",
#: the natural zero of the log-likelihood ratio; the batch scorer reports
#: the raw weight and leaves thresholding to the consumer.
DEFAULT_MIN_LOG_WEIGHT = 0.0


def update_dsir_model_store(
    corpus_docs: DataFrame, store_path: str, version: int
) -> None:
    """Fit the DSIR (b, llr) model from a corpus snapshot and publish it
    into the store's ``version=N`` partition (idempotent re-publish; a
    crashed write is simply re-run)."""
    overwrite_partitions(
        dsir_fit_llr(corpus_docs).withColumn("version", F.lit(int(version))),
        store_path,
        "version",
    )


def load_dsir_model(spark: SparkSession, store_path: str) -> DataFrame:
    """The LATEST published model version — newer fits supersede older
    ones (see module docstring for why this store is latest-wins while
    the benchmark-shingle store is union-of-versions)."""
    store = spark.read.parquet(store_path)
    latest = store.agg(F.max("version").alias("v"))
    return (
        store.join(F.broadcast(latest), F.col("version") == F.col("v"))
        .select("b", "llr")
    )


def dsir_gate_batch(
    batch_df: DataFrame,
    epoch_id: int,
    store_path: str,
    keep_path: str,
    diverted_path: str,
    min_log_weight: float = DEFAULT_MIN_LOG_WEIGHT,
) -> None:
    spark = batch_df.sparkSession
    llr = load_dsir_model(spark, store_path)
    annotated = (
        dsir_annotate(batch_df, llr)
        .withColumn("keep", F.col("log_weight") >= F.lit(min_log_weight))
        .withColumn("epoch_id", F.lit(int(epoch_id)))
        # two output branches must not re-run the scoring join; same
        # contract as the compression and decontamination gates
        .localCheckpoint(eager=True)
    )
    keep = annotated.filter(F.col("keep")).drop("keep")
    overwrite_partitions(keep, keep_path, "epoch_id")
    drop = annotated.filter(~F.col("keep")).drop("keep")
    overwrite_partitions(drop, diverted_path, "epoch_id")


def start_docs_dsir_gate(
    spark: SparkSession,
    docs_dir: str,
    store_path: str,
    keep_path: str,
    diverted_path: str,
    checkpoint: str,
    min_log_weight: float = DEFAULT_MIN_LOG_WEIGHT,
    max_files_per_trigger: int = 16,
) -> StreamingQuery:
    """Gate a documents file-source stream on DSIR importance weight.

    Fails fast if no model version has ever been published — the
    latest-wins store read inside every foreachBatch would otherwise kill
    the streaming query with a bare path-not-found on the first
    micro-batch instead of a clear precondition error at start time.
    """
    require_store(spark, store_path, "DSIR model")
    return start_batches(
        file_stream(spark, docs_dir, max_files_per_trigger),
        checkpoint,
        lambda b, e: dsir_gate_batch(
            b, e, store_path, keep_path, diverted_path, min_log_weight
        ),
    )
