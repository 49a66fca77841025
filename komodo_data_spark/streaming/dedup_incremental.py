"""Incremental streaming near-duplicate detection (MinHash-LSH).

The batch detector (operators/dedup.dedup_minhash_lsh) answers "which pairs
in THIS corpus are near-dups". A production ingest pipeline needs the
incremental question: as new documents stream in, which of them near-match
ANY document ever seen — without replaying the corpus. This module keeps a
persistent band-key store and, per micro-batch:

1. computes the batch's LSH band keys (the same ``bands_of`` the batch
   detector uses — one code path, no drift),
2. joins them against the accumulated store (new × old) AND against
   themselves (new × new) to emit candidate pairs,
3. appends the batch's bands to the store.

Both writes follow the epoch-store protocol (``streaming/stores.py``), so
foreachBatch's at-least-once replay cannot duplicate state or output.

Scale (100 TB of history): the store holds LSH_BANDS rows per document —
O(corpus), but each row is (doc_id, band_id, band_hash) ≈ 50 bytes, and the
per-batch probe is an equi-join on (band_id, band_hash) whose build side is
the BATCH (tiny, broadcastable), not the store; the store side is scanned
pruned to the probed band keys once bucketed/Z-ordered on band_hash. The
candidate output is pairs-only; exact-Jaccard verification stays a
downstream batch op over the referenced documents (pairs carry doc ids, not
text). Candidate emission is at-least-once ACROSS epochs when a replay
splits differently — consumers dedup by (doc_i, doc_j), which
``candidates_from_store`` does at read time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from komodo_data_spark.operators.dedup import bands_of, postings_of
from komodo_data_spark.streaming.stores import (
    compact_distinct_store,
    file_stream,
    overwrite_partitions,
    read_store,
    start_batches,
)


def _pairs(left: DataFrame, right: DataFrame) -> DataFrame:
    """Ordered candidate pairs from two band-key frames (equi-join on the
    band key; doc_i < doc_j canonicalization)."""
    return (
        left.alias("a")
        .join(right.alias("b"), ["band_id", "band_hash"])
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_i"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_j"),
        )
        .distinct()
    )


def detect_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch_id: int,
    store_path: str,
    pairs_path: str,
) -> None:
    """Process one micro-batch of documents (doc_id, text)."""
    bands = bands_of(postings_of(batch_df)).localCheckpoint()
    # A missing store (or one an all-short-docs first batch left with zero
    # partitions) means "no history yet"; any other read failure raises,
    # so the batch retries instead of committing without its
    # new-vs-history pairs.
    store = read_store(spark, store_path)
    cand = _pairs(bands, bands)
    if store is not None:
        store = store.select("doc_id", "band_id", "band_hash")
        cand = cand.union(_pairs(bands, store)).distinct()
    epoch = F.lit(int(epoch_id))
    overwrite_partitions(cand.withColumn("epoch_id", epoch), pairs_path, "epoch_id")
    overwrite_partitions(bands.withColumn("epoch_id", epoch), store_path, "epoch_id")


def start_incremental_dedup(
    spark: SparkSession,
    docs_dir: str,
    store_path: str,
    pairs_path: str,
    checkpoint: str,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Stream a documents parquet directory through the incremental
    detector. ``max_files_per_trigger=1`` makes each file its own batch —
    the arrival granularity of a crawl-dump pipeline."""
    return start_batches(
        file_stream(spark, docs_dir, max_files_per_trigger).select("doc_id", "text"),
        checkpoint,
        lambda b, e: detect_batch(spark, b, e, store_path, pairs_path),
    )


def candidates_from_store(spark: SparkSession, pairs_path: str) -> DataFrame:
    """All candidate pairs detected so far, deduped across epochs."""
    return spark.read.parquet(pairs_path).select("doc_i", "doc_j").distinct()


def compact_band_store(spark: SparkSession, store_path: str) -> int:
    """Fold all epoch partitions of the band store into the reserved
    ``epoch_id=-1`` base partition — band rows are plain facts (doc_id,
    band_id, band_hash), so the fold is a DISTINCT, and future probes see
    exactly the same key set (pinned by test). Run while the detection
    stream is paused.
    """
    # Folding even an uncommitted max epoch is safe HERE because candidate
    # emission is monotone: a replayed batch probing its own bands in the
    # base re-derives exactly the pairs it already emitted (deduped at
    # read time). Non-monotone stores (block_scrub) must keep the max
    # epoch out of the fold.
    return compact_distinct_store(
        spark, store_path, ["doc_id", "band_id", "band_hash"]
    )
