"""Incremental capped-SimHash near-duplicate detection (media payloads).

The batch detector (``multimodal_ops.media_simhash_pairs_capped``)
answers "which payload pairs in THIS corpus are within Hamming distance
MEDIA_HAMMING_MAX, generated only through segment buckets under the
occupancy cap". A production ingest needs the incremental question: as
new payloads stream in, which of them near-match ANY payload ever seen
— without replaying the corpus, and without a flash crowd of one viral
template turning the probe join quadratic. This module keeps a
persistent segment-key store whose per-key occupancy GROWS with
history; per micro-batch:

1. 32-bit SimHash signatures of the batch over the shared media byte
   4-gram features (``_media_gram_toks`` + ``_simhash_signatures`` —
   one feature definition with the batch detector, no drift),
2. the batch's (doc_id, simhash, seg_id, seg_val) segment rows
   (``pigeonhole_widths`` — the same signature split as batch),
3. occupancy per key over store + batch; keys above ``key_cap`` are
   SKIPPED for candidate generation this epoch,
4. candidates = batch×batch plus batch×store on the kept keys, each
   verified with the exact Hamming distance before emission,
5. the batch's segment rows append to the store UNFILTERED (occupancy
   must keep accumulating for hot buckets even while they are skipped).

CAP SEMANTICS UNDER STREAMING: the cap is evaluated against occupancy
AT PROBE TIME (history + this batch). A bucket that later crosses the
cap stops producing NEW pairs but does not retract pairs it emitted
while cold — the production-desirable monotone behavior (a template
going viral must not retract old detections). Consequently the
accumulated stream output EQUALS the batch capped detector over the
same corpus whenever no key crosses the cap mid-stream (pinned by
test), and is otherwise a superset of it restricted to early-cold
buckets; every emitted pair is exact-Hamming-verified either way.

Scale (100 TB of history): the store is O(corpus) rows of
(doc_id, simhash, seg_id, seg_val) ≈ 40 bytes; the per-batch probe is
an equi-join whose build side is the BATCH's kept segment rows (tiny,
broadcastable) and whose store side prunes to the probed keys once
bucketed on (seg_id, seg_val); the occupancy aggregate is one
map-side-combinable count over the same store scan. The cap bounds the
per-key probe cost at cap·|batch keys| regardless of how degenerate
history's signature distribution becomes. Writes follow the epoch-store
protocol (``streaming/stores.py``), and the history read excludes the
current epoch's partition (``epoch_id < epoch``), so at-least-once
replay cannot double-count occupancy (batch + its own stored copy) or
duplicate output rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from komodo_data_spark.operators.dedup import (
    _simhash_pigeonhole_segs,
    _simhash_signatures,
    pigeonhole_widths,
)
from komodo_data_spark.operators.multimodal_ops import (
    MEDIA_HAMMING_MAX,
    MEDIA_SEG_CAP,
    MEDIA_SIMHASH_BITS,
    _media_gram_toks,
)
from komodo_data_spark.streaming.stores import (
    compact_distinct_store,
    file_stream,
    overwrite_partitions,
    read_store,
    start_batches,
)

SEG_STORE_COLS = ("doc_id", "simhash", "seg_id", "seg_val")


def _verified_pairs(left: DataFrame, right: DataFrame, hmax: int) -> DataFrame:
    """Exact-Hamming-verified ordered pairs from two segment frames
    joined on the segment key (both carry simhash on the row)."""
    return (
        left.alias("a")
        .join(right.alias("b"), ["seg_id", "seg_val"])
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_i"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_j"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= hmax)
        .distinct()
    )


def detect_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch_id: int,
    store_path: str,
    pairs_path: str,
    key_cap: int = MEDIA_SEG_CAP,
) -> None:
    """Process one micro-batch of documents (doc_id, text)."""
    d = batch_df.filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    ).withColumn("toks", _media_gram_toks())
    sig = _simhash_signatures(d.filter(F.size("toks") > 0))
    segs = _simhash_pigeonhole_segs(
        sig, pigeonhole_widths(MEDIA_SIMHASH_BITS, MEDIA_HAMMING_MAX)
    ).localCheckpoint()  # occupancy count + both joins + store write
    # None = no history yet; any other read failure raises so the epoch
    # retries instead of silently dropping new-vs-history pairs.
    store = read_store(spark, store_path)
    if store is not None:
        # Exclude this epoch's own partition (and any later one) from the
        # history view: after a store write that committed but whose
        # checkpoint did not, the replayed batch would otherwise see its
        # own segment rows AS history — doubling occupancy for its keys
        # (flipping true occupancy in (cap/2, cap] over the cap) and then
        # dynamically overwriting the epoch's pairs partition with the
        # smaller post-flip set, silently losing verified pairs. The base
        # partition (epoch_id=-1) and all strictly-earlier epochs remain.
        store = store.filter(F.col("epoch_id") < int(epoch_id)).select(
            *SEG_STORE_COLS
        )
    occ_src = (
        segs.select("seg_id", "seg_val")
        if store is None
        else segs.select("seg_id", "seg_val").unionByName(
            store.select("seg_id", "seg_val")
        )
    )
    ok = (
        occ_src.groupBy("seg_id", "seg_val")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") <= key_cap)
        .select("seg_id", "seg_val")
    )
    segs_ok = segs.join(ok, ["seg_id", "seg_val"], "left_semi")
    cand = _verified_pairs(segs_ok, segs_ok, MEDIA_HAMMING_MAX)
    if store is not None:
        store_ok = store.join(ok, ["seg_id", "seg_val"], "left_semi")
        cand = cand.union(
            _verified_pairs(segs_ok, store_ok, MEDIA_HAMMING_MAX)
        ).distinct()
    epoch = F.lit(int(epoch_id))
    overwrite_partitions(cand.withColumn("epoch_id", epoch), pairs_path, "epoch_id")
    overwrite_partitions(
        segs.select(*SEG_STORE_COLS).withColumn("epoch_id", epoch),
        store_path,
        "epoch_id",
    )


def start_incremental_simhash(
    spark: SparkSession,
    docs_dir: str,
    store_path: str,
    pairs_path: str,
    checkpoint: str,
    key_cap: int = MEDIA_SEG_CAP,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Stream a documents parquet directory through the incremental
    capped detector. ``max_files_per_trigger=1`` makes each file its own
    batch — the arrival granularity of a crawl-dump pipeline."""
    return start_batches(
        file_stream(spark, docs_dir, max_files_per_trigger).select("doc_id", "text"),
        checkpoint,
        lambda b, e: detect_batch(spark, b, e, store_path, pairs_path, key_cap),
    )


def pairs_from_store(spark: SparkSession, pairs_path: str) -> DataFrame:
    """All verified near-dup pairs detected so far, deduped across
    epochs (a pair re-derived by a replayed epoch is identical —
    hamming is a function of the two signatures)."""
    return spark.read.parquet(pairs_path).select(
        "doc_i", "doc_j", "hamming"
    ).distinct()


def compact_seg_store(spark: SparkSession, store_path: str) -> int:
    """Fold all epoch partitions of the segment store into the reserved
    ``epoch_id=-1`` base partition. Segment rows are plain facts and
    each document contributes each seg_id EXACTLY ONCE, so the DISTINCT
    fold preserves per-key occupancy exactly — future cap decisions and
    probes see the same key multiset (pinned by test). Run while the
    detection stream is paused.

    ``keep_max_epoch=True`` because this store is occupancy-driven (NOT
    monotone): only the highest epoch can belong to an uncommitted batch,
    and folding it into the base would let its replay re-write the epoch
    partition while the base still holds the folded copy — per-key
    occupancy inflated until the next compaction, spurious cap refusals
    meanwhile (the ``compact_band_store`` crash-window rationale)."""
    return compact_distinct_store(
        spark, store_path, list(SEG_STORE_COLS), keep_max_epoch=True
    )
