"""PQ-coded incremental ANN index (frozen IVFPQ model + streaming encoder).

The float store (``ann_incremental.py``) carries each indexed vector as 64
raw doubles — fine as the oracle-anchored baseline, wrong at 100 TB of
vectors: the corpus-sized side of an ANN index should carry PQ codes, the
layout the batch ``knn_ivfpq_adc`` rung already computes. This module is
that upgrade:

1. ``publish_ivfpq_model`` freezes the index GEOMETRY from a training
   corpus: the k-means coarse cells and the per-subspace residual
   codebooks from the shared batch fit (``similarity._ivfpq_fit`` — one
   code path, no drift). Production refreshes the model on a schedule;
   between refreshes it is immutable, which is what makes streaming
   encoding embarrassingly parallel.
2. ``encode_batch`` encodes each micro-batch of arrivals against the
   frozen model through the batch fit's own expressions (nearest coarse
   cell, residual, per-subspace code argmin) and appends (vec_id,
   cell_id, codes) rows to the batch's own ``epoch_id=N`` partition (the
   epoch-store protocol, ``streaming/stores.py``).
3. ``knn_from_pq_store`` serves ADC top-k from the store alone through
   the batch search itself (``similarity._ivfpq_knn``: probed cells,
   broadcast codebook reconstruction, exact-float queries). Identical
   results to batch ``knn_ivfpq_adc`` over the same accumulated rows when
   the model was fit on that corpus (pinned by the stream==batch test).

Store width: a row is (vec_id, cell_id, PQ_M=4 small-int codes) instead of
(vec_id, bucket, 64 doubles, norm) — 4 codes vs 512 bytes of floats
(256× in-memory for the vector payload; measured 43.9× on disk at sf0.001
against the float store over identical rows — 4,635 vs 203,594 bytes,
parquet encoding included; the gap narrows from 256× because both stores
pay per-row vec_id/metadata overhead. Pinned >= 4× by
test_incremental_pq_index_matches_batch_ivfpq).

Scale (100 TB of vectors): the store is O(corpus) rows but each row is a
few bytes of codes; probes equi-join on cell_id with the query side
broadcast, so the store never shuffles, and the model (cells + codebooks)
is KMEANS_K + M·IVFPQ_K rows regardless of corpus size. Retention:
``compact_pq_store`` folds epoch partitions via the shared DISTINCT fold
(code rows are plain facts; encoding against a frozen model is monotone —
a replayed batch re-derives identical rows).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from komodo_data_spark.operators.similarity import (
    TOP_K,
    _ivfpq_fit_shared,
    _ivfpq_knn,
    _ivfpq_residuals,
    _kmeans_assign,
    _nrm,
    _pq_assign,
    _pq_decode,
    _pq_subvectors,
)
from komodo_data_spark.streaming.ann_incremental import _latest_per_vec
from komodo_data_spark.streaming.stores import (
    compact_distinct_store,
    file_stream,
    overwrite_partitions,
    require_store,
    start_batches,
)

PQ_STORE_COLS = ("vec_id", "cell_id", "codes")


def _cells_path(model_path: str) -> str:
    return os.path.join(model_path, "cells")


def _codebooks_path(model_path: str) -> str:
    return os.path.join(model_path, "codebooks")


def publish_ivfpq_model(
    spark: SparkSession, sf_dir: str, model_path: str
) -> None:
    """Fit the batch IVFPQ index on a training corpus and freeze its
    geometry: coarse cells (cid, ce) and residual codebooks (m, cid, ce).
    Both frames are model-sized (KMEANS_K and PQ_M·IVFPQ_K rows), so the
    publish is a scan-heavy fit with a tiny write."""
    cells, _, cents, _ = _ivfpq_fit_shared(spark, sf_dir)
    cells.write.mode("overwrite").parquet(_cells_path(model_path))
    cents.write.mode("overwrite").parquet(_codebooks_path(model_path))


def read_ivfpq_model(
    spark: SparkSession, model_path: str
) -> tuple[DataFrame, DataFrame]:
    """(cells, codebooks) of a published model — tiny frames, meant to be
    broadcast by every consumer."""
    return (
        spark.read.parquet(_cells_path(model_path)),
        spark.read.parquet(_codebooks_path(model_path)),
    )


def encode_batch(
    batch_df: DataFrame, epoch_id: int, model_path: str, store_path: str
) -> None:
    """Encode one micro-batch of embeddings (vec_id, embedding) against
    the frozen model into (vec_id, cell_id, codes) rows. Every step is the
    batch fit's own expression run against the published frames: nearest
    cell ``_kmeans_assign``, residual ``_ivfpq_residuals``, codes
    ``_pq_assign`` — so a vector encodes to the identical row in the
    stream and in batch ``knn_ivfpq_adc``'s build (the stream==batch
    parity pin)."""
    spark = batch_df.sparkSession
    cells, cents = read_ivfpq_model(spark, model_path)
    v = batch_df.filter(F.col("embedding").isNotNull()).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    resid = _ivfpq_residuals(_kmeans_assign(v, cells), cells)
    sub = _pq_subvectors(resid, "r", keys=("vec_id", "cell_id"))
    rows = (
        _pq_assign(sub, cents)
        .groupBy("vec_id", "cell_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "cid"))),
                lambda x: x["cid"],
            ).alias("codes")
        )
    )
    overwrite_partitions(
        rows.select(*PQ_STORE_COLS).withColumn("epoch_id", F.lit(int(epoch_id))),
        store_path,
        "epoch_id",
    )


def start_incremental_pq_index(
    spark: SparkSession,
    emb_dir: str,
    model_path: str,
    store_path: str,
    checkpoint: str,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Stream an embeddings parquet directory into the PQ code store.
    The model must be published first (``require_store`` precondition —
    the operator error should surface here, not as a path-not-found
    inside the first micro-batch)."""
    require_store(spark, _cells_path(model_path), "IVFPQ coarse-cell")
    require_store(spark, _codebooks_path(model_path), "IVFPQ codebook")
    return start_batches(
        file_stream(spark, emb_dir, max_files_per_trigger).select(
            "vec_id", "embedding"
        ),
        checkpoint,
        lambda b, e: encode_batch(b, e, model_path, store_path),
    )


def read_pq_index(spark: SparkSession, store_path: str) -> DataFrame | None:
    """The accumulated code store, one row per vec_id (same latest-epoch
    collapse as the float store). None if nothing was ever indexed."""
    return _latest_per_vec(spark, store_path, PQ_STORE_COLS)


def knn_from_pq_store(
    spark: SparkSession,
    model_path: str,
    store_path: str,
    queries: DataFrame,
    top_k: int = TOP_K,
) -> DataFrame | None:
    """ADC top-k per query served from the code store alone — batch
    ``knn_ivfpq_adc``'s search (``similarity._ivfpq_knn``) over the
    accumulated corpus. ``queries`` is an exact-float (vec_id, embedding)
    frame (queries are never quantized; that is the A in ADC); each
    stored row decodes through the broadcast codebook, and the store
    side never shuffles."""
    idx = read_pq_index(spark, store_path)
    if idx is None:
        return None
    cells, cents = read_ivfpq_model(spark, model_path)
    codes = idx.select(
        "vec_id", "cell_id", F.posexplode("codes").alias("m", "cid")
    )
    rr = _pq_decode(codes, cents, keys=("vec_id", "cell_id"), out="rr")
    q = (
        queries.filter(F.col("embedding").isNotNull())
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("qe"),
        )
        .withColumn("qnrm", _nrm(F.col("qe")))
    )
    return _ivfpq_knn(rr, q, cells, top_k)


def compact_pq_store(spark: SparkSession, store_path: str) -> int:
    """Fold epoch partitions into the ``epoch_id=-1`` base. Code rows are
    DISTINCT-mergeable facts and encoding against a frozen model is
    monotone (a replayed batch re-derives identical rows), so folding
    every epoch is safe — the band-store argument."""
    return compact_distinct_store(spark, store_path, list(PQ_STORE_COLS))
