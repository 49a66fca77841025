"""Incremental streaming repeated-block scrub (C4-style line dedup).

The batch operator (operators/dedup.dedup_repeated_blocks) answers "scrub
every corpus-repeated block, keeping only its first occurrence" over a
closed corpus. The ingest-pipeline form is incremental: as documents
stream in, a block must be scrubbed if it was EVER seen before — in any
earlier micro-batch, or earlier (by (doc_id, pos)) within this batch —
without replaying history. This module keeps a persistent block store
and, per micro-batch:

1. decomposes the batch with the SAME ``blocked_docs`` /
   ``block_occurrences`` builders as the batch operator (one code path,
   no drift),
2. builds the scrub set: any batch block already in the store scrubs at
   every occurrence (keeper = -1 — its keeper was emitted in a previous
   epoch); a batch block repeated within the batch keeps its minimal
   (doc_id, pos) occurrence,
3. writes the scrubbed per-doc rows and appends the batch's distinct
   blocks to the store.

Both writes follow the epoch-store protocol (``streaming/stores.py``), so
foreachBatch's at-least-once replay cannot duplicate state or output.

When files arrive in doc_id order, the union of scrubbed outputs equals
the batch operator's result over the full corpus (pinned by test): the
global min-(doc_id, pos) keeper is then always the first arrival.
Out-of-order arrival keeps exactly one occurrence per repeated block too
— just the first ARRIVED rather than the globally minimal one, which is
the only keeper an online pipeline can honor without rewriting history.

Scale (100 TB of history): the store holds one ~60-byte row per DISTINCT
block — O(corpus tokens / BLOCK_TOKENS) worst case, but natural corpora
repeat heavily and the store folds epochs via DISTINCT
(``compact_block_store``). The per-batch probe is an equi-join on blk
whose build side is the BATCH's distinct blocks (tiny, broadcastable); at
warehouse scale the store side prunes to the probed keys once bucketed on
blk. Reassembly stays row-local (the scrub set folds to a one-row
broadcast map), exactly as in the batch operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from komodo_data_spark.operators.dedup import (
    POS_BASE,
    block_occurrences,
    blocked_docs,
    scrub_blocks,
)
from komodo_data_spark.streaming.stores import (
    compact_distinct_store,
    file_stream,
    overwrite_partitions,
    read_store,
    start_batches,
)


def scrub_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch_id: int,
    store_path: str,
    out_path: str,
) -> None:
    """Process one micro-batch of documents (doc_id, text)."""
    blocked = blocked_docs(batch_df).localCheckpoint()
    occ = block_occurrences(blocked)
    stats = occ.groupBy("blk").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.col("doc_id") * POS_BASE + F.col("pos")).alias("batch_keeper"),
    )
    # None = no history yet (missing or zero-partition store); any other
    # read failure raises so the epoch retries instead of emitting
    # unscrubbed docs that the committed checkpoint never corrects.
    seen = read_store(spark, store_path)
    if seen is not None:
        # History is STRICTLY-earlier epochs (plus the compacted -1 base).
        # A crash between the store write and the checkpoint commit
        # replays this epoch with its OWN blocks already on disk — without
        # this filter the replay would see them as history and scrub every
        # block of every replayed doc.
        seen = (
            seen.filter(
                (F.col("epoch_id") == -1) | (F.col("epoch_id") < int(epoch_id))
            )
            .select("blk")
            .distinct()
        )
        stats = stats.join(
            seen.withColumn("in_history", F.lit(True)), "blk", "left"
        )
    else:
        stats = stats.withColumn("in_history", F.lit(None).cast("boolean"))
    dup = (
        stats.filter(F.col("in_history").isNotNull() | (F.col("n") >= 2))
        .select(
            "blk",
            F.when(F.col("in_history").isNotNull(), F.lit(-1))
            .otherwise(F.col("batch_keeper"))
            .alias("keeper"),
        )
    )
    scrubbed = scrub_blocks(blocked, dup).select(
        "doc_id",
        "n_blocks",
        "n_removed",
        F.length("clean_text").alias("clean_len"),
        F.md5("clean_text").alias("clean_fp"),
    )
    epoch = F.lit(int(epoch_id))
    overwrite_partitions(scrubbed.withColumn("epoch_id", epoch), out_path, "epoch_id")
    overwrite_partitions(
        occ.select("blk").distinct().withColumn("epoch_id", epoch),
        store_path,
        "epoch_id",
    )


def start_incremental_block_scrub(
    spark: SparkSession,
    docs_dir: str,
    store_path: str,
    out_path: str,
    checkpoint: str,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Stream a documents parquet directory through the incremental scrub.
    ``max_files_per_trigger=1`` makes each file its own batch — the
    arrival granularity of a crawl-dump pipeline."""
    return start_batches(
        file_stream(spark, docs_dir, max_files_per_trigger).select("doc_id", "text"),
        checkpoint,
        lambda b, e: scrub_batch(spark, b, e, store_path, out_path),
    )


def scrubbed_from_store(spark: SparkSession, out_path: str) -> DataFrame:
    """All scrubbed per-doc rows emitted so far (one row per doc arrival)."""
    return spark.read.parquet(out_path).select(
        "doc_id", "n_blocks", "n_removed", "clean_len", "clean_fp"
    )


def compact_block_store(
    spark: SparkSession,
    store_path: str,
    committed_through: int | None = None,
) -> int:
    """Fold epoch partitions of the block store into the reserved
    ``epoch_id=-1`` base partition (DISTINCT block membership; probes see
    the same key set). The scrub decision is NOT monotone, so folding an
    epoch whose checkpoint has not committed would defeat scrub_batch's
    strictly-earlier-epoch replay guard: the replayed batch would find its
    own blocks in the base, treat them as history, and scrub every block
    of every replayed doc. By default the highest epoch — the only one
    that can be uncommitted — is therefore excluded; pass
    ``committed_through`` (the last committed batch id from the query's
    progress) to fold it too once it is known safe."""
    return compact_distinct_store(
        spark,
        store_path,
        ["blk"],
        keep_max_epoch=True,
        committed_through=committed_through,
    )
