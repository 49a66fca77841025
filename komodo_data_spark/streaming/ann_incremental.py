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
reads never re-join the base embeddings table: ``knn_from_store`` is one
bucket equi-join between the (broadcast) query side and the store, exact
cosine inside the bucket, per-query top-k — identical semantics to the
batch ``knn_lsh_signbits`` over the same accumulated corpus (pinned by the
stream==batch test).

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

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from komodo_data_spark.operators.similarity import (
    N_QUERIES,
    _bucket,
    _cos_pre,
    _nrm,
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
    w = Window.partitionBy("vec_id").orderBy(F.desc("epoch_id"))
    return (
        store.withColumn("rn_", F.row_number().over(w))
        .filter(F.col("rn_") == 1)
        .select(*cols)
    )


def read_index(spark: SparkSession, store_path: str) -> DataFrame | None:
    """The accumulated index, one row per vec_id (see ``_latest_per_vec``)."""
    return _latest_per_vec(spark, store_path, STORE_COLS)


def knn_from_store(
    spark: SparkSession, store_path: str, top_k: int = 3
) -> DataFrame | None:
    """Approximate top-k neighbors per query (vec_id < N_QUERIES),
    restricted to the query's bucket — ``knn_lsh_signbits`` over the
    indexed corpus, served from the store alone."""
    v = read_index(spark, store_path)
    if v is None:
        return None
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qnrm"),
        F.col("bucket").alias("qbucket"),
    )
    scored = v.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("qbucket"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cos_pre(F.col("qe"), F.col("e"), F.col("qnrm"), F.col("nrm")).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_k)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


def compact_ann_store(spark: SparkSession, store_path: str) -> int:
    """Fold epoch partitions into the ``epoch_id=-1`` base. Vector rows
    are DISTINCT-mergeable facts; indexing is monotone (a replayed batch
    re-derives identical rows), so folding even the max epoch is safe —
    the band-store argument, not the block-scrub one."""
    return compact_distinct_store(spark, store_path, list(STORE_COLS))
