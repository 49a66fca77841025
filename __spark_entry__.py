"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (TPC-H Q1 pricing summary) on
sf0.001. ``queries()`` lists every registered operator and
``oracle_sql()`` pairs each with the DuckDB-runnable ANSI SQL it is
compared against at sf0.01. A query is declared in one place, with
``@query`` at its def (``komodo_data_spark/registry.py``); this file only
puts the ``_PRIORITY`` window first.

Column names are aliased identically on both sides — the driver sorts
columns by name before hashing values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from komodo_data_spark.registry import QueryFn, registered

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from komodo_data_spark.operators import relational

    return relational.q1_pricing_summary(spark, SF0001)


def _registry() -> dict[str, tuple[QueryFn, str | None]]:
    """name -> (query callable, oracle SQL or None for rows-only checks):
    the ``@query`` catalog with the ``_PRIORITY`` window first."""
    reg = registered()
    # updating an existing key keeps its position: the window stays first
    return {**{name: reg[name] for name in _PRIORITY}, **reg}


# The driver records correctness rows for the FIRST 50 registry entries in
# registration order. The r13 window (round-12 verdict ask #2): (a) every
# query that has NEVER had a driver row (this round's three approx twins +
# the four r12 additions the r12 window missed), (b) the round-12
# second-half queries whose implementations changed after the r12 window
# froze (driver-unwitnessed since), (c) every query this round's
# optimizations touched, (d) stalest-witness fill. Queries outside the
# window keep their oracle pairing and are verified by the judge's full
# scripts/check.py re-run.
_PRIORITY: tuple[str, ...] = (
    # --- (a) never driver-witnessed ---
    "docs_quality_quantile_filter_approx",  # NEW r13 (rows-only sketch twin)
    "docs_perplexity_buckets_approx",  # NEW r13 (rows-only sketch twin)
    "events_mad_outliers_approx",  # NEW r13 (rows-only sketch twin)
    "dedup_embedding_recall_sampled",
    "knn_lsh_recall_sampled",
    "kmeans_clusters_published",
    "dedup_semantic_published",
    # --- (b) r12 second-half changes the r12 window missed ---
    "dedup_simhash",
    "dedup_simhash_recall",  # also r13: slice width
    "media_simhash_pairs",
    "media_simhash_pairs_capped",
    "media_simhash_capped_recall",
    "media_simhash_recall",  # also r13: slice width
    "text_bpe_train_apply",
    "text_bpe_merges",
    "text_bpe_merges_batched",
    "text_bpe_batched_train_apply",
    "text_bpe_published_apply",
    "text_bpe_encode",
    "text_bpe_packed_sequences",
    "text_nb_quality_classifier",
    "text_nb_calibration",
    "session_overlap_pairs",
    "text_kneser_ney3_apply",
    # --- (c) changed in round 13 ---
    "text_kneser_ney3_logprob",  # one-pass model counts
    "docs_quality_quantile_filter",  # shared scored frame
    "docs_quality_band_filter",  # shared scored frame
    "docs_quality_token_weighted_filter",  # shared scored frame
    "kmeans_clusters",  # map-side Lloyd argmin
    "dedup_semantic",  # map-side Lloyd argmin
    "knn_pq_adc",  # map-side PQ argmin
    "knn_pq_recall",
    "knn_pq_published_adc",  # fused map-side encode+reconstruct
    "knn_ivfpq_adc",
    "knn_ivfpq_recall",
    "dedup_minhash_recall_sampled",  # eval-slice width
    "dedup_minhash_oph_recall",  # eval-slice width
    "graph_components",  # star-CC round machinery
    "dedup_clusters_star",  # star-CC round machinery
    "dedup_fuzzy_prefix",  # PassJoin structs as parsed SQL
    "dedup_fuzzy_prefix_capped",
    "dedup_fuzzy_capped_recall",
    "customers_fuzzy_name_pairs",
    "docs_perplexity_buckets",  # exact anchor of the new approx twin
    "events_mad_outliers",  # exact anchor of the new approx twin
    # --- (d) stalest driver witnesses (last seen r04) ---
    "knn_quantized_recall",
    "media_decoded_features",
    "media_frame_dedup",
    "media_metadata",
    "media_metadata_arrow",
)


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _sql) in _registry().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: sql for name, (_fn, sql) in _registry().items() if sql is not None
    }
