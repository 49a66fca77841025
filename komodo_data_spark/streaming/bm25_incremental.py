"""Incremental BM25 retrieval index (streaming twin of text_bm25_rank).

The batch operator scores a fixed bag-of-words query over a closed
corpus. The ingest-pipeline form maintains the index incrementally: each
micro-batch appends (a) its query-term postings — one (doc_id, term, tf,
dl) row per matching doc-term, a vanishing fraction of the batch — and
(b) a one-row corpus-counter fact (n_docs, sum_dl). Scoring happens at
READ time from the accumulated store, so document frequencies and the
average document length always reflect the whole corpus seen so far —
``bm25_from_store`` over a fully drained stream equals
``text_bm25_rank`` over the same corpus — same ranking, same integer
fields, scores identical up to float-summation order (the counters
reconstruct the exact avg(dl) = sum/count arithmetic, but the per-doc
term-score sum is order-sensitive in its last ulp; pinned by test at
1e-12 relative).

Both writes follow the epoch-store protocol (``streaming/stores.py``), so
at-least-once foreachBatch replay cannot double-count a batch's postings
or its corpus counters. Postings are plain facts —
retention folds them with the shared DISTINCT compaction; the counter
store stays one row per epoch (negligible) and is summed at read.

Scale (100 TB of history): per-batch work is one map-side-filtered
aggregation over the batch (query-term postings only — the |q|-term
IN-filter runs before any shuffle) plus a two-value counter row; the
store grows O(matching doc-terms), not O(corpus tokens). Read-time
scoring joins the postings (already one row per doc-term) against a
|q|-row df frame and takes top-k with a heap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from komodo_data_spark.functions.text_features import tokens
from komodo_data_spark.operators.text_analysis import (
    BM25_B,
    BM25_K1,
    BM25_QUERY,
    BM25_TOPK,
)
from komodo_data_spark.streaming.stores import (
    compact_distinct_store,
    file_stream,
    overwrite_partitions,
    read_store,
    start_batches,
)


def _postings_path(store_path: str) -> str:
    import os

    return os.path.join(store_path, "postings")


def _counters_path(store_path: str) -> str:
    import os

    return os.path.join(store_path, "counters")


def index_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch_id: int,
    store_path: str,
) -> None:
    """Fold one micro-batch of documents (doc_id, text) into the index."""
    d = batch_df.select(
        "doc_id", F.size(tokens()).alias("dl"), tokens().alias("toks")
    )
    postings = (
        d.select("doc_id", "dl", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(BM25_QUERY))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
    )
    counters = d.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    epoch = F.lit(int(epoch_id))
    overwrite_partitions(
        postings.withColumn("epoch_id", epoch), _postings_path(store_path), "epoch_id"
    )
    overwrite_partitions(
        counters.withColumn("epoch_id", epoch), _counters_path(store_path), "epoch_id"
    )


def start_incremental_bm25(
    spark: SparkSession,
    docs_dir: str,
    store_path: str,
    checkpoint: str,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Stream a documents parquet directory into the BM25 index."""
    return start_batches(
        file_stream(spark, docs_dir, max_files_per_trigger).select("doc_id", "text"),
        checkpoint,
        lambda b, e: index_batch(spark, b, e, store_path),
    )


def bm25_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Score the fixed query against everything indexed so far: identical
    formula (and identical arithmetic) to ``text_bm25_rank`` over the
    union of all ingested batches."""
    counters = spark.read.parquet(_counters_path(store_path)).agg(
        F.sum("n_docs").cast("double").alias("n_docs"),
        (F.sum("sum_dl") / F.sum("n_docs")).alias("avgdl"),
    )
    # Counters exist but postings don't (None): every ingested batch
    # lacked the query terms entirely — a valid empty index, so return an
    # empty top-k, not a read error.
    tf = read_store(spark, _postings_path(store_path))
    if tf is None:
        return spark.createDataFrame(
            [],
            "doc_id long, bm25_score double, n_terms_matched long, dl long",
        )
    # DISTINCT guards the one replay interleaving the epoch partitions
    # can't: a batch replayed AFTER compaction folded it into the base
    # re-writes its epoch partition, duplicating rows (base + epoch).
    # Postings rows are deterministic facts, so the duplicates are exact
    # and fold away here — df counts and per-doc sums stay correct.
    tf = tf.select("doc_id", "term", "tf", "dl").distinct()
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(counters))
        .select(
            "doc_id",
            "dl",
            (
                F.log(
                    1.0
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (BM25_K1 + 1.0))
                / (
                    F.col("tf")
                    + BM25_K1
                    * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("term_score"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("term_score").alias("bm25_score"),
            F.count(F.lit(1)).alias("n_terms_matched"),
            F.max("dl").alias("dl"),
        )
        .orderBy(F.desc("bm25_score"), F.asc("doc_id"))
        .limit(BM25_TOPK)
    )


def compact_bm25_postings(spark: SparkSession, store_path: str) -> int:
    """Fold postings epochs into the ``epoch_id=-1`` base. Postings are
    plain facts — one row per (doc, term) regardless of epoch — so the
    DISTINCT fold preserves scores exactly. Folding the max epoch is safe
    here even though a replay may re-write that epoch partition after the
    fold (duplicating its rows next to the base copy): scoring reads the
    postings DISTINCT, so exact duplicates cannot inflate df or per-doc
    sums. The counter store is one row per epoch and needs no
    compaction."""
    return compact_distinct_store(
        spark, _postings_path(store_path), ["doc_id", "term", "tf", "dl"]
    )
