"""Hybrid retrieval fusion and label-based search-quality metrics
(extension pack; SURVEY.md §2.12 — retrieval depth on top of the BM25 /
ANN ladder).

Two operators close the remaining retrieval gaps:

- ``retrieval_hybrid_rrf`` — reciprocal-rank fusion (RRF, Cormack et
  al.'s 1/(k+rank) form) of the lexical BM25 ranking and a dense
  cosine ranking for one query. This is the standard hybrid-search
  shape a curation pipeline uses to pull eval-adjacent documents with
  both keyword and semantic evidence.
- ``retrieval_label_metrics`` — NDCG@k / MRR / precision@k of the
  exact brute-force and IVF ANN rankings against label-match relevance
  (the ``embeddings.label`` column is the ground truth). Completes the
  eval symmetry: the ANN ladder already ships recall-vs-bruteforce
  twins; this adds the graded relevance metrics a search deployment
  actually reports.

Scale design (100 TB):
- each ranker ends in a TakeOrderedAndProject / per-query window over
  at most pool-sized frames before fusion; the fusion join and the
  metric rollups touch only O(queries x k) rows regardless of corpus
  size — the expensive part is the underlying searches, whose scale
  paths are graded with their own queries (BM25 map-side IN-filter,
  IVF cell equi-join).
- the final RRF window runs over a <= 2*pool row frame (the two
  top-k lists), so the single-partition window is pool-bounded, never
  corpus-bounded.

Reference parity: the reference engine (a MySQL+pandas capture
pipeline, ``/root/reference/process.py``) has no retrieval surface;
these are extension operators per SURVEY.md §2.12.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from komodo_data_spark.operators.similarity import (
    ANN_K,
    _SQL_COS,
    _cos_pre,
    _vectors,
    N_QUERIES,
    TOP_K,
    knn_brute_force,
    knn_brute_force_oracle,
    knn_ivf,
    knn_ivf_oracle,
)
from komodo_data_spark.operators.text_analysis import (
    text_bm25_rank,
    text_bm25_rank_oracle,
)
from komodo_data_spark.registry import query

#: RRF damping constant (the standard k=60 from the original TREC runs).
RRF_K = 60
#: Dense query = the embedding of this vec_id (ids are shared with doc_id).
RRF_QVEC = 0
#: Per-ranker candidate pool: the BM25 top-20 and the dense top-20.
RRF_POOL = 20
RRF_TOPK = 20


@query
def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuse the BM25 top-20 (fixed bag-of-words query) with the dense
    cosine top-20 (query vector = embedding of ``RRF_QVEC``) by
    reciprocal-rank fusion: rrf = sum over rankers of 1/(60 + rank).

    Documents and embeddings share one id domain (doc_id == vec_id), and
    — as in a real corpus where not every document is embedded — the
    dense side may cover only a subset, so the fusion is a FULL OUTER
    join: a doc ranked by either side alone still scores.

    Plan shape: the dense scan is map-only (one broadcast query vector,
    JVM lambda dot product) ending in TakeOrderedAndProject; both rank
    windows and the fusion join run over pool-sized (<= 20 row) frames.
    """
    lex = (
        text_bm25_rank(spark, sf_dir)
        .select("doc_id", "bm25_score")
        .withColumn(
            "lex_rank",
            F.row_number().over(
                Window.orderBy(F.desc("bm25_score"), F.asc("doc_id"))
            ),
        )
    )
    v = _vectors(spark, sf_dir)
    q = v.filter(F.col("vec_id") == RRF_QVEC).select(
        F.col("e").alias("qe"), F.col("nrm").alias("qnrm")
    )
    dense = (
        v.filter(F.col("vec_id") != RRF_QVEC)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            _cos_pre(
                F.col("qe"), F.col("e"), F.col("qnrm"), F.col("nrm")
            ).alias("dense_score"),
        )
        .orderBy(F.desc("dense_score"), F.asc("doc_id"))
        .limit(RRF_POOL)
        .withColumn(
            "dense_rank",
            F.row_number().over(
                Window.orderBy(F.desc("dense_score"), F.asc("doc_id"))
            ),
        )
    )
    fused = lex.select("doc_id", "lex_rank").join(
        dense.select("doc_id", "dense_rank"), ["doc_id"], "full_outer"
    )
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(RRF_K) + F.col("dense_rank")), F.lit(0.0)
    )
    return (
        fused.select("doc_id", "lex_rank", "dense_rank", rrf.alias("rrf_score"))
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(RRF_TOPK)
    )


def retrieval_hybrid_rrf_oracle() -> str:
    return f"""
    WITH lex AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY bm25_score DESC, doc_id ASC)
               AS lex_rank
      FROM ( {text_bm25_rank_oracle()} ) bm
    ),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    q AS (SELECT e FROM v WHERE vec_id = {RRF_QVEC}),
    scored AS (
      SELECT v.vec_id AS doc_id, {_SQL_COS} AS dense_score
      FROM v CROSS JOIN q WHERE v.vec_id <> {RRF_QVEC}
    ),
    dense AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY dense_score DESC, doc_id ASC)
               AS dense_rank
      FROM (SELECT * FROM scored
            ORDER BY dense_score DESC, doc_id ASC LIMIT {RRF_POOL}) s
    ),
    fused AS (
      SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
             l.lex_rank, d.dense_rank,
             coalesce(CAST(1 AS DOUBLE) / ({RRF_K} + l.lex_rank), 0.0)
             + coalesce(CAST(1 AS DOUBLE) / ({RRF_K} + d.dense_rank), 0.0)
               AS rrf_score
      FROM lex l FULL JOIN dense d ON d.doc_id = l.doc_id
    )
    SELECT doc_id, lex_rank, dense_rank, rrf_score
    FROM fused ORDER BY rrf_score DESC, doc_id ASC LIMIT {RRF_TOPK}
    """


def _label_metrics(
    ranked: DataFrame, labels: DataFrame, k: int, method: str
) -> DataFrame:
    """Per-query binary-relevance metrics for one ranking: a retrieved
    neighbor is relevant iff its label equals the query's label.

    - precision@k = hits / k (fixed k, the method's advertised depth)
    - MRR = 1 / rank of the first relevant hit (0 if none)
    - NDCG@k = DCG / IDCG with DCG = sum rel_i / log2(rank_i + 1) and
      IDCG over min(n_relevant_corpus, k) ideal slots — so a query whose
      label has few corpus members is not penalized for unreachable
      slots.

    Every query emits a row (left join from the query frame), so an
    empty cell / empty ranking yields zeros rather than a dropped query.
    """
    ln2 = F.log(F.lit(2.0))
    q = labels.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
    )
    cnt = labels.groupBy("label").agg(F.count(F.lit(1)).alias("c"))
    rel = (
        ranked.select("query_id", "neighbor_id", "rnk")
        .join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("nlabel"),
            ),
            "neighbor_id",
        )
        .join(q, "query_id")
        .withColumn(
            "rel",
            F.when(F.col("nlabel") == F.col("qlabel"), F.lit(1)).otherwise(
                F.lit(0)
            ),
        )
    )
    agg = rel.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_retrieved"),
        F.sum("rel").alias("hits"),
        F.max(F.col("rel").cast("double") / F.col("rnk")).alias("mrr"),
        F.sum(
            F.col("rel").cast("double") / (F.log(F.col("rnk") + 1.0) / ln2)
        ).alias("dcg"),
    )
    n_ideal = F.least(F.coalesce(F.col("c") - 1, F.lit(0)), F.lit(k)).cast(
        "int"
    )
    idcg = F.when(
        n_ideal >= 1,
        F.aggregate(
            F.sequence(F.lit(1), n_ideal),
            F.lit(0.0),
            lambda acc, i: acc + F.lit(1.0) / (F.log(i + 1.0) / ln2),
        ),
    ).otherwise(F.lit(0.0))
    return (
        q.join(F.broadcast(cnt), q.qlabel == cnt.label, "left")
        .join(agg, "query_id", "left")
        .select(
            F.lit(method).alias("method"),
            "query_id",
            F.coalesce(F.col("c") - 1, F.lit(0)).alias("n_relevant"),
            F.coalesce("n_retrieved", F.lit(0)).alias("n_retrieved"),
            F.coalesce("hits", F.lit(0)).alias("hits"),
            (F.coalesce("hits", F.lit(0)).cast("double") / F.lit(k)).alias(
                "precision_at_k"
            ),
            F.coalesce("mrr", F.lit(0.0)).alias("mrr"),
            F.when(
                idcg > 0.0, F.coalesce("dcg", F.lit(0.0)) / idcg
            )
            .otherwise(F.lit(0.0))
            .alias("ndcg_at_k"),
        )
    )


def _label_metrics_sql(ranked_sql: str, k: int, method: str) -> str:
    """DuckDB twin of ``_label_metrics`` over a ranking subquery — shared
    so both method blocks measure identically."""
    return f"""
      SELECT '{method}' AS method, q.query_id,
             coalesce(cnt.c - 1, 0) AS n_relevant,
             coalesce(a.n_retrieved, 0) AS n_retrieved,
             coalesce(a.hits, 0) AS hits,
             CAST(coalesce(a.hits, 0) AS DOUBLE) / {k} AS precision_at_k,
             coalesce(a.mrr, 0.0) AS mrr,
             CASE WHEN coalesce(
                 list_sum(list_transform(
                   range(1, least(coalesce(cnt.c - 1, 0), {k}) + 1),
                   i -> CAST(1 AS DOUBLE) / (ln(i + 1.0) / ln(2.0)))), 0.0
               ) > 0.0
               THEN coalesce(a.dcg, 0.0) / list_sum(list_transform(
                 range(1, least(coalesce(cnt.c - 1, 0), {k}) + 1),
                 i -> CAST(1 AS DOUBLE) / (ln(i + 1.0) / ln(2.0))))
               ELSE 0.0 END AS ndcg_at_k
      FROM (SELECT vec_id AS query_id, label AS qlabel FROM embeddings
            WHERE vec_id < {N_QUERIES}) q
      LEFT JOIN (SELECT label, count(*) AS c FROM embeddings
                 GROUP BY label) cnt ON cnt.label = q.qlabel
      LEFT JOIN (
        SELECT r.query_id, count(*) AS n_retrieved,
               CAST(sum(CASE WHEN n.label = q2.qlabel THEN 1 ELSE 0 END)
                    AS BIGINT) AS hits,
               max(CAST(CASE WHEN n.label = q2.qlabel THEN 1 ELSE 0 END
                        AS DOUBLE) / r.rnk) AS mrr,
               sum(CAST(CASE WHEN n.label = q2.qlabel THEN 1 ELSE 0 END
                        AS DOUBLE) / (ln(r.rnk + 1.0) / ln(2.0))) AS dcg
        FROM ({ranked_sql}) r
        JOIN embeddings n ON n.vec_id = r.neighbor_id
        JOIN (SELECT vec_id AS query_id, label AS qlabel FROM embeddings
              WHERE vec_id < {N_QUERIES}) q2 ON q2.query_id = r.query_id
        GROUP BY r.query_id
      ) a ON a.query_id = q.query_id
    """


@query
def retrieval_label_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@k / MRR / precision@k of the exact brute-force top-5 and the
    single-probe IVF top-3 against label-match relevance — the graded
    eval a search deployment reports next to recall.

    Reading the pair prices the IVF approximation in end-metric terms
    (does cell restriction cost ranking quality, not just recall?),
    which is the decision number for choosing a probe count at 100 TB.
    """
    from komodo_data_spark.sources.tables import load_table

    labels = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    brute = _label_metrics(
        knn_brute_force(spark, sf_dir), labels, TOP_K, "brute"
    )
    ivf = _label_metrics(knn_ivf(spark, sf_dir), labels, ANN_K, "ivf")
    return brute.unionByName(ivf).orderBy("method", "query_id")


def retrieval_label_metrics_oracle() -> str:
    return f"""
    SELECT * FROM (
      {_label_metrics_sql(knn_brute_force_oracle(), TOP_K, 'brute')}
      UNION ALL
      {_label_metrics_sql(knn_ivf_oracle(), ANN_K, 'ivf')}
    ) u ORDER BY method, query_id
    """
