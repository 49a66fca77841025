"""Incremental streaming ANN index (sign-bit LSH / IVF-style postings).

The batch ANN ladder (operators/similarity.py) answers top-k over a corpus
that exists up front. A production embedding pipeline needs the
incremental form: vectors arrive continuously (new crawl shards re-encoded,
fresh documents embedded) and queries probe EVERYTHING indexed so far —
without re-bucketing the corpus per run. This module keeps a persistent
bucket-postings store, per micro-batch:

1. computes each vector's sign-bit bucket with the SAME ``_bucket``
   expression the batch operator uses (one code path, no drift) plus its
   precomputed norm,
2. appends (vec_id, bucket, e, nrm) rows to the batch's own ``epoch_id=N``
   partition (the epoch-store protocol, ``streaming/stores.py``).

This is the IVF storage layout (cell key + vector payload co-located), so
reads never re-join the base embeddings table: ``knn_from_store`` runs
the batch ``knn_lsh_signbits`` search itself (``similarity._knn_lsh``)
over the store, so it answers exactly what the batch query answers over
the same accumulated corpus (pinned by the stream==batch test).

Scale (100 TB of vectors): the store is O(corpus) rows but append-only and
epoch-partitioned; probes are equi-joins keyed by bucket with the QUERY
side broadcast, so the store is never shuffled — and once bucketed/
Z-ordered on the bucket key, a probe scans only the touched cells.
Retention: ``compact_ann_store`` folds epoch partitions into the
``epoch_id=-1`` base via the shared DISTINCT fold — vector rows are plain
facts, so the fold is idempotent and probe results are provably unchanged
(same fact set). Cross-lineage replays (a fresh checkpoint re-indexing old
arrivals under new epochs) can duplicate a vec_id across epochs; reads
collapse to one row per vec_id at probe time, so results stay stable even
before compaction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from komodo_data_spark.operators.similarity import (
    ANN_K,
    _bucket,
    _knn_lsh,
    _nrm,
    _top_k,
)
from komodo_data_spark.streaming.stores import (
    compact_distinct_store,
    file_stream,
    overwrite_partitions,
    read_store,
    start_batches,
)

STORE_COLS = ("vec_id", "bucket", "e", "nrm")


def index_batch(
    batch_df: DataFrame, epoch_id: int, store_path: str
) -> None:
    """Index one micro-batch of embeddings (vec_id, embedding)."""
    rows = (
        batch_df.filter(F.col("embedding").isNotNull())
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("e"),
        )
        .withColumn("bucket", _bucket(F.col("e")))
        .withColumn("nrm", _nrm(F.col("e")))
        .select(*STORE_COLS)
        .withColumn("epoch_id", F.lit(int(epoch_id)))
    )
    overwrite_partitions(rows, store_path, "epoch_id")


def start_incremental_ann_index(
    spark: SparkSession,
    emb_dir: str,
    store_path: str,
    checkpoint: str,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Stream an embeddings parquet directory into the index store."""
    return start_batches(
        file_stream(spark, emb_dir, max_files_per_trigger).select(
            "vec_id", "embedding"
        ),
        checkpoint,
        lambda b, e: index_batch(b, e, store_path),
    )


def _latest_per_vec(
    spark: SparkSession, store_path: str, cols: tuple[str, ...]
) -> DataFrame | None:
    """The store's ``cols``, one row per vec_id: cross-lineage duplicate
    epochs collapse deterministically to the highest epoch's row. None if
    the store never accumulated a vector."""
    store = read_store(spark, store_path)
    if store is None:
        return None
    return _top_k(store, "vec_id", [F.desc("epoch_id")], 1, "rn_").select(*cols)


def read_index(spark: SparkSession, store_path: str) -> DataFrame | None:
    """The accumulated index, one row per vec_id (see ``_latest_per_vec``)."""
    return _latest_per_vec(spark, store_path, STORE_COLS)


def knn_from_store(
    spark: SparkSession, store_path: str, top_k: int = ANN_K
) -> DataFrame | None:
    """Approximate top-k neighbors per query (vec_id < N_QUERIES),
    restricted to the query's bucket — ``knn_lsh_signbits``'s search
    (``similarity._knn_lsh``) over the indexed corpus, served from the
    store alone."""
    v = read_index(spark, store_path)
    return None if v is None else _knn_lsh(v, top_k)


def compact_ann_store(spark: SparkSession, store_path: str) -> int:
    """Fold epoch partitions into the ``epoch_id=-1`` base. Vector rows
    are DISTINCT-mergeable facts; indexing is monotone (a replayed batch
    re-derives identical rows), so folding even the max epoch is safe —
    the band-store argument, not the block-scrub one."""
    return compact_distinct_store(spark, store_path, list(STORE_COLS))
