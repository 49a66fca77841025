"""Approximate-nearest-neighbor search over ``embeddings`` (north-star
extension; SURVEY.md §2.12).

Two paths, same output shape (query_id, neighbor_id, cosine, rnk):

- ``knn_brute_force`` — exact baseline: broadcast the (small) query set
  against every vector, score with JVM higher-order functions, rank with a
  window partitioned by query. At 100 TB the scored frame shuffles only
  |Q|×k rows after a map-side TakeOrdered; the scan side never shuffles.
- ``knn_lsh_signbits`` — scale path: sign-bit (random-hyperplane-style) LSH
  with axis-aligned planes. Bucketing is a pure projection; candidate
  scoring touches only same-bucket pairs (2^bits-fold candidate reduction)
  and the bucket id is an equi-join key, so Catalyst plans a hash join
  instead of a nested loop.

Plus two recall/coverage variants: ``knn_ivf`` (coarse-quantize to centroid
cells, search the query's cell) and ``knn_lsh_multiprobe`` (probe the home
bucket and all one-bit-flip buckets — the standard recall dial).

Cosine math runs in double on both engines; the driver's value hash rounds
to 9 significant digits, absorbing fold-order differences.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from komodo_data_spark.sources.tables import load_table

N_QUERIES = 10  # vec_id < 10 are the query vectors
TOP_K = 5
LSH_BITS = 4  # sign bits of the first 4 dims -> 16 buckets


def _dot(e_a: Column, e_b: Column) -> Column:
    return F.aggregate(
        F.zip_with(e_a, e_b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _nrm(e: Column) -> Column:
    return F.sqrt(F.aggregate(e, F.lit(0.0), lambda acc, v: acc + v * v))


def _cos_pre(e_a: Column, e_b: Column, n_a: Column, n_b: Column) -> Column:
    """cosine with PRE-computed norms: sqrt(Σx²) is per-vector, so computing
    it inside the pair expression re-evaluates two 64-element interpreted
    folds per candidate pair; hoisting it to the (broadcast/scan) row cuts
    the per-pair work to the dot product alone. Bit-identical result:
    dot / (sqrt(na)*sqrt(nb)) either way."""
    return _dot(e_a, e_b) / (n_a * n_b)


_SQL_COS = (
    "list_sum(list_transform(range(1, len(q.e)+1), i -> q.e[i] * v.e[i]))"
    " / (sqrt(list_sum(list_transform(q.e, x -> x * x)))"
    " * sqrt(list_sum(list_transform(v.e, x -> x * x))))"
)


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    # repartition: the single-row-group testdata parquet would otherwise pin
    # all cosine evaluation to one task (see dedup._spread)
    return (
        load_table(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
        .withColumn("nrm", _nrm(F.col("e")))
    )


def knn_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for each query vector (vec_id < 10)."""
    v = _vectors(spark, sf_dir)
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    scored = (
        v.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cos_pre(
                F.col("qe"), F.col("e"), F.col("qnrm"), F.col("nrm")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


def knn_brute_force_oracle() -> str:
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    q AS (SELECT vec_id AS query_id, e FROM v WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.query_id, v.vec_id AS neighbor_id, {_SQL_COS} AS cosine
      FROM q JOIN v ON v.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
      ) AS rnk FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= {TOP_K}
    """


def _bucket(e: Column) -> Column:
    """Sign-bit LSH bucket: bit i set iff e[i] > 0 (axis-aligned planes)."""
    out = F.lit(0)
    for i in range(LSH_BITS):
        out = out + F.when(F.element_at(e, i + 1) > 0, F.lit(2**i)).otherwise(
            F.lit(0)
        )
    return out


def _sql_bucket(alias: str) -> str:
    terms = [
        f"(CASE WHEN {alias}.e[{i + 1}] > 0 THEN {2**i} ELSE 0 END)"
        for i in range(LSH_BITS)
    ]
    return "(" + " + ".join(terms) + ")"


def knn_lsh_signbits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-3 neighbors per query, restricted to the query's LSH
    bucket — the equi-join-keyed scale variant of knn_brute_force."""
    v = _vectors(spark, sf_dir).withColumn("bucket", _bucket(F.col("e")))
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qnrm"),
        F.col("bucket").alias("qbucket"),
    )
    scored = (
        v.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cos_pre(
                F.col("qe"), F.col("e"), F.col("qnrm"), F.col("nrm")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


def knn_lsh_signbits_oracle() -> str:
    return f"""
    WITH v0 AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    v AS (SELECT vec_id, e, {_sql_bucket("v0")} AS bucket FROM v0),
    q AS (SELECT vec_id AS query_id, e, bucket AS qbucket
          FROM v WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.query_id, v.vec_id AS neighbor_id, {_SQL_COS} AS cosine
      FROM q JOIN v ON v.bucket = q.qbucket AND v.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
      ) AS rnk FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= 3
    """


def registry():
    """Driver-contract entries: name -> (query fn, oracle SQL)."""
    return {
        "knn_brute_force": (knn_brute_force, knn_brute_force_oracle()),
        "knn_lsh_signbits": (knn_lsh_signbits, knn_lsh_signbits_oracle()),
        "knn_ivf": (knn_ivf, knn_ivf_oracle()),
        "knn_lsh_multiprobe": (knn_lsh_multiprobe, knn_lsh_multiprobe_oracle()),
        "knn_ivf_multiprobe": (knn_ivf_multiprobe, knn_ivf_multiprobe_oracle()),
        "knn_lsh_recall": (knn_lsh_recall, knn_lsh_recall_oracle()),
        "knn_lsh_recall_sampled": (
            knn_lsh_recall_sampled,
            knn_lsh_recall_sampled_oracle(),
        ),
        "knn_ivf_recall": (knn_ivf_recall, knn_ivf_recall_oracle()),
        "knn_quantized_recall": (
            knn_quantized_recall,
            knn_quantized_recall_oracle(),
        ),
        "knn_pq_adc": (knn_pq_adc, knn_pq_adc_oracle()),
        "knn_pq_recall": (knn_pq_recall, knn_pq_recall_oracle()),
        "knn_pq_published_adc": (knn_pq_published_adc, knn_pq_adc_oracle()),
        "knn_ivfpq_adc": (knn_ivfpq_adc, knn_ivfpq_adc_oracle()),
        "knn_ivfpq_recall": (knn_ivfpq_recall, knn_ivfpq_recall_oracle()),
        "kmeans_clusters": (kmeans_clusters, kmeans_clusters_oracle()),
        "kmeans_clusters_published": (
            kmeans_clusters_published,
            kmeans_clusters_oracle(),
        ),
        "dedup_semantic": (dedup_semantic, dedup_semantic_oracle()),
        "dedup_semantic_published": (
            dedup_semantic_published,
            dedup_semantic_oracle(),
        ),
        "embeddings_vector_stats": (
            embeddings_vector_stats,
            embeddings_vector_stats_oracle(),
        ),
        "embeddings_centroid_similarity": (
            embeddings_centroid_similarity,
            embeddings_centroid_similarity_oracle(),
        ),
        "embeddings_dim_covariance": (
            embeddings_dim_covariance,
            embeddings_dim_covariance_oracle(),
        ),
        "embeddings_hard_negatives": (
            embeddings_hard_negatives,
            embeddings_hard_negatives_oracle(),
        ),
        "embeddings_top_pc": (
            embeddings_top_pc,
            embeddings_top_pc_oracle(),
        ),
    }


N_CELLS = 8  # IVF coarse cells (centroids = first N_CELLS vectors)


def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse-quantize every vector to its nearest "centroid"
    (deterministically, the first N_CELLS vectors stand in for k-means
    centroids), then search only the query's cell.

    This is the production ANN shape at 100 TB: cell assignment is one
    broadcast join + per-row argmax (map-side); the search join is
    equi-keyed on cell_id so it hash-partitions instead of nested-looping.
    Recall improves with multi-cell probing (assign queries to p nearest
    cells) — single-probe here keeps the oracle a plain SQL mirror.
    """
    v = _vectors(spark, sf_dir)
    cents = v.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("cell_id"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cnrm"),
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.desc("csim"), F.asc("cell_id")
    )
    assigned = (
        v.join(F.broadcast(cents))
        .withColumn(
            "csim",
            _cos_pre(F.col("e"), F.col("ce"), F.col("nrm"), F.col("cnrm")),
        )
        .withColumn("crnk", F.row_number().over(w_assign))
        .filter(F.col("crnk") == 1)
        .select("vec_id", "e", "nrm", "cell_id")
    )
    q = assigned.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qnrm"),
        F.col("cell_id").alias("qcell"),
    )
    scored = (
        assigned.join(
            F.broadcast(q),
            (F.col("cell_id") == F.col("qcell"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cos_pre(
                F.col("qe"), F.col("e"), F.col("qnrm"), F.col("nrm")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


def knn_ivf_oracle() -> str:
    cos_cv = (
        "list_sum(list_transform(range(1, len(v.e)+1), i -> v.e[i] * c.ce[i]))"
        " / (sqrt(list_sum(list_transform(v.e, x -> x * x)))"
        " * sqrt(list_sum(list_transform(c.ce, x -> x * x))))"
    )
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    c AS (SELECT vec_id AS cell_id, e AS ce FROM v WHERE vec_id < {N_CELLS}),
    sim AS (
      SELECT v.vec_id, v.e, c.cell_id, {cos_cv} AS csim,
        row_number() OVER (
          PARTITION BY v.vec_id ORDER BY {cos_cv} DESC, c.cell_id ASC
        ) AS crnk
      FROM v CROSS JOIN c
    ),
    assigned AS (SELECT vec_id, e, cell_id FROM sim WHERE crnk = 1),
    q AS (SELECT vec_id AS query_id, e, cell_id AS qcell
          FROM assigned WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.query_id, v.vec_id AS neighbor_id, {_SQL_COS} AS cosine
      FROM q JOIN assigned v
        ON v.cell_id = q.qcell AND v.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
      ) AS rnk FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= 3
    """


def knn_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-bit LSH: each query searches its own bucket plus the
    LSH_BITS single-bit-flip neighbor buckets (5 probes at 4 bits).

    Recall rises toward brute-force while candidate volume stays
    ~(probes/2^bits) of the corpus; probes explode map-side into equi-join
    keys, so the plan stays a hash join — the standard recall/cost dial for
    LSH at scale. Buckets partition the space, so probe sets are disjoint
    and no pair-dedup is needed.
    """
    v = _vectors(spark, sf_dir).withColumn("bucket", _bucket(F.col("e")))
    probes = F.array(
        F.col("qbucket"),
        *[
            F.col("qbucket").bitwiseXOR(F.lit(1 << i))
            for i in range(LSH_BITS)
        ],
    )
    q = (
        v.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("qe"),
            F.col("nrm").alias("qnrm"),
            F.col("bucket").alias("qbucket"),
        )
        .withColumn("probe", F.explode(probes))
    )
    scored = (
        v.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("probe"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cos_pre(
                F.col("qe"), F.col("e"), F.col("qnrm"), F.col("nrm")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


def knn_lsh_multiprobe_oracle() -> str:
    probe_list = "[qbucket" + "".join(
        f", xor(qbucket, {1 << i})" for i in range(LSH_BITS)
    ) + "]"
    return f"""
    WITH v0 AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    v AS (SELECT vec_id, e, {_sql_bucket("v0")} AS bucket FROM v0),
    q0 AS (SELECT vec_id AS query_id, e, bucket AS qbucket
           FROM v WHERE vec_id < {N_QUERIES}),
    q AS (SELECT query_id, e, unnest({probe_list}) AS probe FROM q0),
    scored AS (
      SELECT q.query_id, v.vec_id AS neighbor_id, {_SQL_COS} AS cosine
      FROM q JOIN v ON v.bucket = q.probe AND v.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
      ) AS rnk FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= 3
    """


IVF_PROBES = 2  # search the query's 2 nearest cells


def knn_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with multi-cell probing: queries search their IVF_PROBES nearest
    cells instead of one — the IVF recall dial (same role as bit-flip
    probing for LSH). Candidate volume scales with probes/N_CELLS of the
    corpus; every join stays equi-keyed on cell_id. Cells partition the
    vectors, so probe results are disjoint and need no dedup."""
    v = _vectors(spark, sf_dir)
    cents = v.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("cell_id"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cnrm"),
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.desc("csim"), F.asc("cell_id")
    )
    ranked = (
        v.join(F.broadcast(cents))
        .withColumn(
            "csim",
            _cos_pre(F.col("e"), F.col("ce"), F.col("nrm"), F.col("cnrm")),
        )
        .withColumn("crnk", F.row_number().over(w_assign))
    )
    assigned = ranked.filter(F.col("crnk") == 1).select(
        "vec_id", "e", "nrm", "cell_id"
    )
    q = (
        ranked.filter(
            (F.col("vec_id") < N_QUERIES) & (F.col("crnk") <= IVF_PROBES)
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("qe"),
            F.col("nrm").alias("qnrm"),
            F.col("cell_id").alias("qcell"),
        )
    )
    scored = (
        assigned.join(
            F.broadcast(q),
            (F.col("cell_id") == F.col("qcell"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cos_pre(
                F.col("qe"), F.col("e"), F.col("qnrm"), F.col("nrm")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


def knn_ivf_multiprobe_oracle() -> str:
    cos_cv = (
        "list_sum(list_transform(range(1, len(v.e)+1), i -> v.e[i] * c.ce[i]))"
        " / (sqrt(list_sum(list_transform(v.e, x -> x * x)))"
        " * sqrt(list_sum(list_transform(c.ce, x -> x * x))))"
    )
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    c AS (SELECT vec_id AS cell_id, e AS ce FROM v WHERE vec_id < {N_CELLS}),
    sim AS (
      SELECT v.vec_id, v.e, c.cell_id, {cos_cv} AS csim,
        row_number() OVER (
          PARTITION BY v.vec_id ORDER BY {cos_cv} DESC, c.cell_id ASC
        ) AS crnk
      FROM v CROSS JOIN c
    ),
    assigned AS (SELECT vec_id, e, cell_id FROM sim WHERE crnk = 1),
    q AS (SELECT vec_id AS query_id, e, cell_id AS qcell
          FROM sim WHERE vec_id < {N_QUERIES} AND crnk <= {IVF_PROBES}),
    scored AS (
      SELECT q.query_id, v.vec_id AS neighbor_id, {_SQL_COS} AS cosine
      FROM q JOIN assigned v
        ON v.cell_id = q.qcell AND v.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
      ) AS rnk FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= 3
    """


# --------------------------------------------------------------------------
# ANN quality evaluation: recall@K of the LSH index vs exact ground truth
# --------------------------------------------------------------------------


def _recall_vs_bruteforce(bf: DataFrame, approx: DataFrame) -> DataFrame:
    """Per-query recall@K rollup shared by every ANN recall eval.

    Plan shape: both inputs end as K rows per query; the semi-join on
    (query_id, neighbor_id) and the per-query rollup shuffle only
    O(queries × K) rows regardless of corpus size — the expensive part is
    the underlying searches, not the evaluation.

    The truth side is referenced TWICE (the hit semi-join and the
    per-query denominator); un-checkpointed, every recall eval ran the
    entire brute-force search twice. The lazy localCheckpoint is
    O(queries × K) rows — scale-free — and GC-released.
    """
    bf = bf.select("query_id", "neighbor_id").localCheckpoint(eager=False)
    approx = approx.select("query_id", "neighbor_id")
    hits = (
        bf.join(approx, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    truth = bf.groupBy("query_id").agg(F.count(F.lit(1)).alias("k"))
    return (
        truth.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            (F.coalesce("n_hit", F.lit(0)).cast("double") / F.col("k")).alias(
                "recall"
            ),
        )
        .orderBy("query_id")
    )


def _recall_oracle(
    approx_sql: str, truth_sql: str | None = None, prelude: str = ""
) -> str:
    """DuckDB twin of _recall_vs_bruteforce — THE top-K recall tail every
    ANN recall oracle shares. ``approx_sql`` and ``truth_sql`` (default:
    the exact ``knn_brute_force`` search) are (query_id, neighbor_id)
    searches; ``prelude`` holds CTEs both read (a sampled query set)."""
    truth_sql = knn_brute_force_oracle() if truth_sql is None else truth_sql
    prelude = f"{prelude},\n    " if prelude else ""
    return f"""
    WITH {prelude}bf AS (
      SELECT query_id, neighbor_id FROM ({truth_sql}) b
    ),
    ap AS (
      SELECT query_id, neighbor_id FROM ({approx_sql}) l
    ),
    hits AS (
      SELECT bf.query_id, count(*) AS n_hit
      FROM bf SEMI JOIN ap
        ON ap.query_id = bf.query_id AND ap.neighbor_id = bf.neighbor_id
      GROUP BY bf.query_id
    ),
    truth AS (SELECT query_id, count(*) AS k FROM bf GROUP BY query_id)
    SELECT t.query_id, coalesce(h.n_hit, 0) AS n_hit,
           coalesce(h.n_hit, 0)::DOUBLE / t.k AS recall
    FROM truth t LEFT JOIN hits h ON h.query_id = t.query_id
    ORDER BY t.query_id
    """


def knn_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@K of sign-bit LSH against the exact brute-force top-K — the
    evaluation loop every ANN deployment runs before trusting an index."""
    return _recall_vs_bruteforce(
        knn_brute_force(spark, sf_dir), knn_lsh_signbits(spark, sf_dir)
    )


def knn_lsh_recall_oracle() -> str:
    return _recall_oracle(knn_lsh_signbits_oracle())


def knn_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@K of single-probe IVF against the exact brute-force top-K —
    completes the eval ladder: every approximate search path (sign-bit
    LSH, IVF cells, int8 quantization) ships with a measured-recall twin.
    The single-probe figure is the one the multiprobe dial improves; read
    both this and ``knn_ivf_multiprobe`` to price the recall/latency
    trade."""
    return _recall_vs_bruteforce(
        knn_brute_force(spark, sf_dir), knn_ivf(spark, sf_dir)
    )


def knn_ivf_recall_oracle() -> str:
    return _recall_oracle(knn_ivf_oracle())


#: Query budget for the SAMPLED-truth recall eval (round-11 verdict ask
#: #5): ~this many query vectors at ANY corpus size, drawn by a
#: deterministic md5 hash gate over vec_id — the production eval mode.
#: The fixed ``vec_id < N_QUERIES`` probe reads the same 10 vectors at
#: every scale; the sampled mode stratifies the query draw uniformly
#: across the id space and keeps the exact-truth cost at
#: O(budget · corpus) — linear per decade — so the recall evidence
#: extends to sf10 without a quadratic truth side.
KNN_RECALL_SAMPLE_QUERIES = 32

#: Modulus of the query-sampling hash gate. The shared corpus gate
#: (pipeline_ops._bucket_col) uses % 100, whose granularity floors a
#: slice at 1%% of the corpus — fine for document slices, but a 1%% floor
#: on QUERIES would turn the truth side quadratic again past 100× the
#: budget (the finer-modulus form the dedup sampling docstring points
#: production at). Same md5 construction, wider modulus.
_KNN_SAMPLE_MOD = 100_000


def knn_lsh_recall_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``knn_lsh_recall`` with a SAMPLED query set — the production form
    of the ANN eval loop at corpus scale: ~KNN_RECALL_SAMPLE_QUERIES
    query vectors drawn by the deterministic md5 gate (stratified
    uniformly over the id space, identical draw in the oracle), exact
    top-K truth computed for THOSE queries over the FULL corpus (one
    broadcast-query scan, linear in the corpus at any scale), and the
    sign-bit LSH search restricted to the same queries. Per-query rows
    (query_id, n_hit, recall), ordered.

    Scale: the fixed ``vec_id < N_QUERIES`` eval probes the same 10
    vectors at every sf; this one keeps a constant-size but
    corpus-representative query draw, so the recall figure is measured
    at sf1/sf10 in BENCH_SCALING where the fixed probe says nothing —
    truth cost O(budget · corpus), never quadratic.
    """
    from komodo_data_spark.operators.dedup import _recall_sample_buckets
    from komodo_data_spark.operators.pipeline_ops import _bucket_col

    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    gate = _bucket_col(F.col("vec_id"), mod=_KNN_SAMPLE_MOD) < (
        _recall_sample_buckets(n_vecs, KNN_RECALL_SAMPLE_QUERIES, _KNN_SAMPLE_MOD)
    )
    v = _vectors(spark, sf_dir).withColumn("bucket", _bucket(F.col("e")))
    # small frame (≈ the budget), consumed by the truth and detector
    # subtrees — materialize once, GC-released
    q = (
        v.filter(gate)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("qe"),
            F.col("nrm").alias("qnrm"),
            F.col("bucket").alias("qbucket"),
        )
        .localCheckpoint(eager=False)
    )

    def topk(candidates: DataFrame, k: int) -> DataFrame:
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("neighbor_id")
        )
        return (
            candidates.select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                _cos_pre(
                    F.col("qe"), F.col("e"), F.col("qnrm"), F.col("nrm")
                ).alias("cosine"),
            )
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
        )

    bf = topk(
        v.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")), TOP_K
    )
    det = topk(
        v.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        ),
        3,
    )
    return _recall_vs_bruteforce(bf, det)


def knn_lsh_recall_sampled_oracle() -> str:
    from komodo_data_spark.operators.dedup import _sql_sample_gate

    gate = _sql_sample_gate(
        "embeddings", KNN_RECALL_SAMPLE_QUERIES, "vec_id", _KNN_SAMPLE_MOD
    )

    def topk(on: str, k: int) -> str:
        return f"""
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, v.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.query_id ORDER BY {_SQL_COS} DESC,
                 v.vec_id ASC
               ) AS rnk
        FROM qq q JOIN vv v ON {on}
      ) WHERE rnk <= {k}"""

    return _recall_oracle(
        topk("v.bucket = q.qbucket AND v.vec_id <> q.query_id", 3),
        truth_sql=topk("v.vec_id <> q.query_id", TOP_K),
        prelude=f"""v0 AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    vv AS (SELECT vec_id, e, {_sql_bucket("v0")} AS bucket FROM v0),
    qq AS (SELECT vec_id AS query_id, e, bucket AS qbucket
           FROM vv WHERE {gate})""",
    )


# --------------------------------------------------------------------------
# iterative numeric: k-means (fixed 2-iteration unroll)
# --------------------------------------------------------------------------

KMEANS_K = 4
KMEANS_ITERS = 2


def _sqdist(e_a, e_b):
    return F.aggregate(
        F.zip_with(e_a, e_b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _kmeans_assign(v: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment of a (vec_id, e) frame — the ONE
    assignment expression shared by the Lloyd fit, the published-model
    apply (``kmeans_apply_published``), and the streaming PQ encoder's
    coarse step, so a frozen centroid frame assigns every vector to the
    identical cell the fit did (published≡refit rides on this).

    Shape (r13, guide §2.4): the K centroids are folded into ONE array
    row and broadcast; the argmin is a map-side ``array_min`` over the
    per-centroid (d, cid) structs — the lexicographic (d, cid) minimum
    the old crossJoin + groupBy ``F.min(struct)`` computed, WITHOUT
    shuffling the corpus vectors through a K-fanned exchange. Every
    Lloyd iteration and every encode pass loses one corpus-sized
    shuffle; at 100 TB the assignment never leaves the scan tasks.
    An empty centroid frame assigns nothing (zero rows, like
    ``_pq_assign``), never a NULL cid."""
    cands = cents.agg(
        F.collect_list(F.struct(F.col("cid"), F.col("ce"))).alias("_cands")
    ).filter(F.size("_cands") > 0)
    return v.crossJoin(F.broadcast(cands)).select(
        "vec_id",
        F.array_min(
            F.transform(
                "_cands",
                lambda c: F.struct(
                    _sqdist(F.col("e"), c["ce"]).alias("d"),
                    c["cid"].alias("cid"),
                ),
            )
        )["cid"].alias("cid"),
        "e",
    )


def _kmeans_fit(spark: SparkSession, sf_dir: str):
    """Shared 2-iteration Lloyd fit (see kmeans_clusters docstring): returns
    (centroids(cid, ce), final_assignment(vec_id, cid, e))."""
    v = _vectors(spark, sf_dir).select("vec_id", "e")
    centroids = v.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ce")
    )

    def assign(cents):
        return _kmeans_assign(v, cents)

    for _ in range(KMEANS_ITERS):
        assigned = assign(centroids)
        centroids = (
            assigned.select("cid", F.posexplode("e").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cid", F.transform("pm", lambda s: s["m"]).alias("ce"))
        )
    return centroids, assign(centroids)


def _kmeans_fit_shared(spark: SparkSession, sf_dir: str):
    """``_kmeans_fit`` memoized per session: three consumers
    (``kmeans_clusters``, ``dedup_semantic``, ``_ivfpq_fit``) each
    re-ran the Lloyd chain over the same corpus. The fit is
    deterministic in sf_dir (first-K init, fixed iterations), so the
    memoized (centroids, assignment) checkpoints are frame-identical to
    a refit; both frames are the standard build-once index artifacts
    (centroids KMEANS_K rows; the assignment one narrow row per
    vector)."""
    from komodo_data_spark.operators.model_memo import session_model

    def fit():
        centroids, assigned = _kmeans_fit(spark, sf_dir)
        return (
            centroids.localCheckpoint(eager=True),
            assigned.localCheckpoint(eager=True),
        )

    return session_model(spark, "kmeans", (sf_dir,), fit)


def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means over the embeddings (k=4, 2 fixed Lloyd iterations,
    deterministic init = the first k vectors) — the iterative-numeric
    pattern on DataFrames: assignment is a broadcast of k centroids +
    min_by aggregate-free argmin per row; the centroid update is
    posexplode → per-(cluster, dim) mean → re-assemble, one shuffle per
    iteration keyed by (cluster, dim). Fixed unrolling keeps the plan
    finite (same trade as graph_pagerank); convergence-checked loops add
    a localCheckpoint per round like pipeline_ops.dedup_clusters.
    Output: cluster sizes + centroid norm (scalar digest of the centroid,
    engine-portable for the oracle).
    """
    centroids, assigned = _kmeans_fit_shared(spark, sf_dir)
    return _kmeans_clusters_from(centroids, assigned)


def _kmeans_clusters_from(
    centroids: DataFrame, assigned: DataFrame
) -> DataFrame:
    """Cluster-size/centroid-norm digest from fit artifacts — shared by
    the in-session and published-model paths."""
    sizes = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        centroids.join(sizes, "cid", "left")
        .select(
            "cid",
            F.coalesce("n_members", F.lit(0)).alias("n_members"),
            _nrm(F.col("ce")).alias("centroid_norm"),
        )
        .orderBy("cid")
    )


def _kmeans_model_path(model_path: str) -> str:
    import os

    return os.path.join(model_path, "centroids")


def publish_kmeans_model(
    spark: SparkSession, sf_dir: str, model_path: str
) -> None:
    """Freeze the fitted k-means cell model: the (cid, ce) centroid frame
    — KMEANS_K rows regardless of corpus size. The centroids ARE the
    model: every consumer re-derives the assignment with the fit's own
    ``_kmeans_assign`` argmin, so published ≡ refit by construction
    (the BPE merge-table / flat-PQ codebook contract). This is the same
    cell frame ``publish_ivfpq_model`` writes as the composed index's
    coarse quantizer — one fit serves the clustering, semantic-dedup,
    and IVFPQ families."""
    centroids, _ = _kmeans_fit_shared(spark, sf_dir)
    centroids.write.mode("overwrite").parquet(_kmeans_model_path(model_path))


def read_kmeans_model(spark: SparkSession, model_path: str) -> DataFrame:
    """The published centroid frame (cid, ce) — tiny, meant to be
    broadcast by every consumer."""
    return spark.read.parquet(_kmeans_model_path(model_path))


def kmeans_apply_published(
    spark: SparkSession, sf_dir: str, model_path: str
) -> tuple[DataFrame, DataFrame]:
    """(centroids, assignment) against a PUBLISHED frozen cell model —
    the cross-session production form: no Lloyd fit, one corpus scan
    through the fit's own assignment argmin. Fails fast when the model
    was never published (``require_store``)."""
    from komodo_data_spark.streaming.stores import require_store

    require_store(spark, _kmeans_model_path(model_path), "k-means centroid")
    cents = read_kmeans_model(spark, model_path)
    v = _vectors(spark, sf_dir).select("vec_id", "e")
    return cents, _kmeans_assign(v, cents)


def _published_kmeans_roundtrip(spark: SparkSession, sf_dir: str):
    """Publish to the session-scoped store and apply through it (the
    ``text_bpe_published_apply`` / ``knn_pq_published_adc`` pattern: a
    registry query cannot take a model_path argument, so the roundtrip
    uses a per-application temp path; production passes a durable path
    to the same two functions)."""
    import os
    import tempfile

    model_path = os.path.join(
        tempfile.gettempdir(),
        "komodo_kmeans_model",
        spark.sparkContext.applicationId,
        os.path.basename(os.path.abspath(sf_dir)),
    )
    publish_kmeans_model(spark, sf_dir, model_path)
    return kmeans_apply_published(spark, sf_dir, model_path)


def kmeans_clusters_published(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``kmeans_clusters`` through the published cell store; the oracle
    is ``kmeans_clusters``'s, so published ≡ refit is hash-checked in
    the correctness gate itself."""
    centroids, assigned = _published_kmeans_roundtrip(spark, sf_dir)
    return _kmeans_clusters_from(centroids, assigned)


def dedup_semantic_published(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_semantic`` through the published cell store; oracle =
    ``dedup_semantic``'s (published ≡ refit in the correctness gate)."""
    _, assigned = _published_kmeans_roundtrip(spark, sf_dir)
    return _dedup_semantic_from(assigned)


def _kmeans_cte_prefix() -> str:
    """DuckDB CTE chain fitting the same 2-iteration Lloyd unroll: exposes
    ``c2`` (final centroids) and ``af`` (final assignment: vec_id, e, cid)."""
    sqd = (
        "list_sum(list_transform(range(1, len(v.e)+1),"
        " i -> (v.e[i] - c.ce[i]) * (v.e[i] - c.ce[i])))"
    )

    def assign(vecs: str, cents: str) -> str:
        return f"""
      SELECT v.vec_id, v.e,
             min([{sqd}, c.cid::DOUBLE])[2]::BIGINT AS cid
      FROM {vecs} v CROSS JOIN {cents} c
      GROUP BY v.vec_id, v.e
    """

    def update(assigned: str) -> str:
        return f"""
      SELECT cid, list(m ORDER BY pos) AS ce FROM (
        SELECT a.cid, t.pos, avg(a.e[t.pos]) AS m
        FROM {assigned} a, unnest(range(1, len(a.e)+1)) AS t(pos)
        GROUP BY a.cid, t.pos
      ) GROUP BY cid
    """

    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    c0 AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < {KMEANS_K}),
    a1 AS ({assign("v", "c0")}),
    c1 AS ({update("a1")}),
    a2 AS ({assign("v", "c1")}),
    c2 AS ({update("a2")}),
    af AS ({assign("v", "c2")})"""


def kmeans_clusters_oracle() -> str:
    return f"""
    {_kmeans_cte_prefix()},
    sizes AS (SELECT cid, count(*) AS n_members FROM af GROUP BY cid)
    SELECT c.cid, coalesce(s.n_members, 0) AS n_members,
           sqrt(list_sum(list_transform(c.ce, x -> x * x))) AS centroid_norm
    FROM c2 c LEFT JOIN sizes s ON s.cid = c.cid
    ORDER BY c.cid
    """


#: Within-cluster cosine above which the higher-id member is pruned.
SEMDEDUP_COSINE = 0.40


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al., 2023, re-expressed
    Spark-first): cluster the embedding space (k-means), then look for
    near-duplicates ONLY within each cluster — the cluster id acts as a
    learned LSH bucket, shrinking the candidate space from O(n²) to
    Σ(cluster²) — and prune the higher vec_id of any within-cluster pair
    with cosine ≥ SEMDEDUP_COSINE.

    Plan: the Lloyd fit is broadcast-centroid map-side assignment (shared
    with kmeans_clusters); per-cluster pairwise similarity is one
    applyInPandas BLAS matmul per cluster (the dedup_embedding_lsh bucket
    pattern — executor memory bounds cluster size; sub-cluster by sign-bit
    LSH inside a mega-cluster if needed). Output: every vector with its
    cluster and keep/prune verdict.
    """
    # hub frame consumed by TWO branches (pandas prune + output join);
    # the shared fit's checkpoint already truncates lineage so the Lloyd
    # chain runs once per SESSION, not per branch or per query
    # (SURVEY §4 lesson (c))
    _, assigned = _kmeans_fit_shared(spark, sf_dir)
    return _dedup_semantic_from(assigned)


def _dedup_semantic_from(assigned: DataFrame) -> DataFrame:
    """Within-cluster cosine prune from a (vec_id, cid, e) assignment —
    shared by the in-session and published-model paths."""
    import numpy as np
    import pandas as pd

    def cluster_pairs(key, pdf):
        ids = pdf["vec_id"].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame({"vec_j": np.array([], dtype=np.int64)})
        mat = np.stack(pdf["e"].to_numpy()).astype(np.float64)
        nrm = np.sqrt((mat * mat).sum(axis=1))
        sims = (mat @ mat.T) / np.outer(nrm, nrm)
        hit = (sims >= SEMDEDUP_COSINE) & (ids[:, None] < ids[None, :])
        return pd.DataFrame({"vec_j": np.unique(ids[np.nonzero(hit)[1]])})

    pruned = (
        assigned.select("cid", "vec_id", "e")
        .groupBy("cid")
        .applyInPandas(cluster_pairs, schema="vec_j long")
        .select(F.col("vec_j").alias("vec_id"))
        .distinct()
        .withColumn("is_pruned", F.lit(True))
    )
    return (
        assigned.select("vec_id", "cid")
        .join(pruned, "vec_id", "left")
        .select(
            "vec_id",
            "cid",
            F.coalesce("is_pruned", F.lit(False)).alias("is_pruned"),
        )
    )


def dedup_semantic_oracle() -> str:
    dot = "list_sum(list_transform(range(1, len(a.e)+1), i -> a.e[i] * b.e[i]))"
    na = "list_sum(list_transform(a.e, x -> x * x))"
    nb = "list_sum(list_transform(b.e, x -> x * x))"
    cos = f"{dot} / (sqrt({na}) * sqrt({nb}))"
    return f"""
    {_kmeans_cte_prefix()},
    pruned AS (
      SELECT DISTINCT b.vec_id
      FROM af a JOIN af b ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE {cos} >= {SEMDEDUP_COSINE}
    )
    SELECT af.vec_id, af.cid,
           af.vec_id IN (SELECT vec_id FROM pruned) AS is_pruned
    FROM af
    """


def embeddings_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector geometry stats (dim, L2 norm, mean component, max |x|)
    computed entirely with JVM higher-order functions — the zero-UDF path
    for vector-column feature engineering.

    Scale: pure map-side projection (no shuffle, no Python); the transform/
    aggregate lambdas run inside whole-stage codegen over the Arrow-decoded
    array column. Elements are cast to double BEFORE any math so the fold
    is bit-identical to the DuckDB oracle's sequential list_aggregate.
    """
    v = load_table(spark, sf_dir, "embeddings")
    e = F.transform("embedding", lambda x: x.cast("double"))
    sq_sum = F.aggregate(
        F.transform(e, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    )
    el_sum = F.aggregate(e, F.lit(0.0), lambda acc, x: acc + x)
    return v.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.sqrt(sq_sum).alias("l2_norm"),
        (el_sum / F.size("embedding")).alias("mean_val"),
        F.array_max(F.transform(e, F.abs)).alias("max_abs"),
    )


def embeddings_vector_stats_oracle() -> str:
    return """
    SELECT vec_id, len(embedding) AS dim,
           sqrt(list_aggregate(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE),
                'sum')) AS l2_norm,
           list_aggregate(list_transform(embedding, x -> x::DOUBLE), 'sum')
             / len(embedding) AS mean_val,
           list_aggregate(list_transform(embedding, x -> abs(x::DOUBLE)), 'max')
             AS max_abs
    FROM embeddings
    """


# --------------------------------------------------------------------------
# int8 quantization recall (the memory-reduction rung of the ANN ladder)
# --------------------------------------------------------------------------

QUANT_LEVELS = 127  # symmetric int8


def knn_quantized_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@K of per-vector symmetric int8 quantization against the exact
    float top-K — the evaluation for the OTHER standard ANN trade: 4×
    memory reduction (and SIMD int8 dot products on real hardware) at the
    cost of rounding noise in the ranking. Quantization is a pure map-side
    projection (scale = max |x| per vector, q = round(127·x/scale));
    search and evaluation reuse the brute-force + semi-join shapes, so the
    only new cost at 100 TB is the cheaper representation itself.
    """
    v = _vectors(spark, sf_dir)
    s = F.array_max(F.transform("e", F.abs))
    qe = F.transform("e", lambda x: F.round(F.lit(float(QUANT_LEVELS)) * x / s))
    vq = v.select("vec_id", qe.alias("e")).withColumn("nrm", _nrm(F.col("e")))
    q = vq.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    scored = vq.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cos_pre(F.col("qe"), F.col("e"), F.col("qnrm"), F.col("nrm")).alias(
            "qcos"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("qcos"), F.asc("neighbor_id")
    )
    quant = scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= TOP_K
    )
    return _recall_vs_bruteforce(knn_brute_force(spark, sf_dir), quant)


def knn_quantized_recall_oracle() -> str:
    qe = (
        "list_transform(e, x -> round(127.0 * x /"
        " list_aggregate(list_transform(e, y -> abs(y)), 'max')))"
    )
    return _recall_oracle(f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    vq AS (SELECT vec_id, {qe} AS e FROM v),
    q AS (SELECT vec_id AS query_id, e FROM vq WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.query_id, v.vec_id AS neighbor_id, {_SQL_COS} AS qcos
      FROM q JOIN vq v ON v.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY qcos DESC, neighbor_id ASC
      ) AS rnk FROM scored
    )
    SELECT query_id, neighbor_id FROM ranked WHERE rnk <= {TOP_K}
    """)


# --------------------------------------------------------------------------
# per-label centroid geometry (class-separation audit)
# --------------------------------------------------------------------------


def embeddings_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between per-label embedding CENTROIDS — the
    class-separation audit run before trusting label-conditioned sampling
    or the leakage-free cluster split: labels whose centroids sit at
    cosine ≈ 1 are not distinguishable classes, and SemDeDup-style pruning
    inside them behaves like pruning one class.

    Scale shape: the only corpus-proportional work is one posexplode to
    (label, pos, val) long form feeding a map-side-combinable avg — n·d
    rows in, |labels|·d out. Everything after runs on that summary:
    norms are a |labels|-row aggregate, and the pairwise dot is an
    equi-join on the dimension index (broadcast — |labels|·d rows), never
    a corpus join. Output is |labels|² / 2 rows regardless of n.
    """
    v = load_table(spark, sf_dir, "embeddings")
    counts = v.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    long = v.select(
        "label",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("pos", "val"),
    )
    cent = long.groupBy("label", "pos").agg(F.avg("val").alias("c"))
    norms = cent.groupBy("label").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nrm")
    )
    a = cent.select(F.col("label").alias("label_a"), "pos", F.col("c").alias("ca"))
    b = cent.select(F.col("label").alias("label_b"), "pos", F.col("c").alias("cb"))
    dots = (
        a.join(F.broadcast(b), "pos")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    na = norms.select(F.col("label").alias("label_a"), F.col("nrm").alias("nrm_a"))
    nb = norms.select(F.col("label").alias("label_b"), F.col("nrm").alias("nrm_b"))
    ca_n = counts.select(F.col("label").alias("label_a"), F.col("n").alias("n_a"))
    cb_n = counts.select(F.col("label").alias("label_b"), F.col("n").alias("n_b"))
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .join(F.broadcast(ca_n), "label_a")
        .join(F.broadcast(cb_n), "label_b")
        .select(
            "label_a",
            "label_b",
            "n_a",
            "n_b",
            (F.col("dot") / (F.col("nrm_a") * F.col("nrm_b"))).alias(
                "centroid_cosine"
            ),
        )
    )


def embeddings_centroid_similarity_oracle() -> str:
    return """
    WITH ev AS (
      SELECT label, t.i - 1 AS pos, embedding[t.i]::DOUBLE AS val
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    ),
    cent AS (
      SELECT label, pos, avg(val) AS c FROM ev GROUP BY label, pos
    ),
    norms AS (
      SELECT label, sqrt(sum(c * c)) AS nrm FROM cent GROUP BY label
    ),
    counts AS (
      SELECT label, count(*) AS n FROM embeddings GROUP BY label
    ),
    dots AS (
      SELECT a.label AS label_a, b.label AS label_b, sum(a.c * b.c) AS dot
      FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
      GROUP BY 1, 2
    )
    SELECT d.label_a, d.label_b, ca.n AS n_a, cb.n AS n_b,
           d.dot / (na.nrm * nb.nrm) AS centroid_cosine
    FROM dots d
    JOIN norms na ON na.label = d.label_a
    JOIN norms nb ON nb.label = d.label_b
    JOIN counts ca ON ca.label = d.label_a
    JOIN counts cb ON cb.label = d.label_b
    """


# --------------------------------------------------------------------------
# embedding-space anisotropy audit (dimension covariance / correlation)
# --------------------------------------------------------------------------


def _dim_cov_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The upper-triangle (di, dj, cov) covariance frame shared by
    ``embeddings_dim_covariance`` (which adds the correlation join) and
    ``embeddings_top_pc`` (which only needs cov — reading it through the
    public op would drag the two corr broadcast joins into every power-
    iteration consumer for columns it drops)."""
    from komodo_data_spark.sources.tables import load_spread

    v = load_spread(spark, sf_dir, "embeddings")
    prods = v.select(
        F.explode(
            F.expr(
                """
                flatten(transform(embedding, (x, i) ->
                  transform(slice(embedding, i + 1, size(embedding) - i),
                    (y, k) -> struct(
                      i AS di, i + k AS dj,
                      CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS xy,
                      CAST(x AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y))))
                """
            )
        ).alias("p")
    ).select("p.*")
    return prods.groupBy("di", "dj").agg(
        (F.avg("xy") - F.avg("x") * F.avg("y")).alias("cov")
    )


def embeddings_dim_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension-pair covariance and Pearson correlation of the
    embedding space — the anisotropy audit run before trusting cosine-based
    dedup or the sign-bit LSH family: heavily correlated dimensions mean
    the effective dimensionality is lower than d, axis-aligned hyperplanes
    (knn_lsh_signbits) cut the space unevenly, and cosine thresholds tuned
    on an isotropic assumption drift.

    Zero-UDF outer-product aggregate: each row expands to its upper-
    triangle products (i <= j) with ONE nested higher-order transform —
    d(d+1)/2 structs per row, all codegen — then one map-side-combinable
    aggregate per (i, j) yields E[xy], E[x], E[y]; cov = E[xy]-E[x]E[y].
    No self-join of the long form (which would shuffle n*d rows twice);
    the only shuffle carries partial sums keyed by the d²/2 pair ids.
    Correlation normalizes through a broadcast of the d-row diagonal.
    Output is d(d+1)/2 rows regardless of corpus size; at 100 TB the
    explode volume is n*d²/2 map-side rows that never hit the exchange
    unaggregated. load_spread: the d²/2-struct explode is the query's
    whole cost, and the single-row-group testdata layout would otherwise
    evaluate it on ONE core (measured 4.4 s → 0.9 s at sf0.1); on a real
    multi-file table the rebalance is skipped.
    """
    cov = _dim_cov_frame(spark, sf_dir)
    diag = cov.filter(F.col("di") == F.col("dj"))
    var_i = diag.select(F.col("di").alias("_i"), F.col("cov").alias("var_i"))
    var_j = diag.select(F.col("dj").alias("_j"), F.col("cov").alias("var_j"))
    return (
        cov.join(F.broadcast(var_i), cov.di == var_i._i)
        .join(F.broadcast(var_j), cov.dj == var_j._j)
        .select(
            "di",
            "dj",
            "cov",
            (F.col("cov") / F.sqrt(F.col("var_i") * F.col("var_j"))).alias(
                "corr"
            ),
        )
    )


def embeddings_dim_covariance_oracle() -> str:
    return """
    WITH ev AS (
      SELECT vec_id, t.i - 1 AS d, embedding[t.i]::DOUBLE AS val
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    ),
    cv AS (
      SELECT a.d AS di, b.d AS dj,
             avg(a.val * b.val) - avg(a.val) * avg(b.val) AS cov
      FROM ev a JOIN ev b ON a.vec_id = b.vec_id AND b.d >= a.d
      GROUP BY 1, 2
    )
    SELECT c.di, c.dj, c.cov,
           c.cov / sqrt(vi.cov * vj.cov) AS corr
    FROM cv c
    JOIN cv vi ON vi.di = c.di AND vi.dj = c.di
    JOIN cv vj ON vj.di = c.dj AND vj.dj = c.dj
    """


# --------------------------------------------------------------------------
# product quantization (the compression rung above int8 on the ANN ladder)
# --------------------------------------------------------------------------

PQ_M = 4  # subspaces (embeddings are 64-d -> 4 x 16-d subvectors)
PQ_SUBDIM = 16
PQ_K = 4  # codebook centroids per subspace (codes fit in 2 bits here)
PQ_ITERS = 2  # fixed Lloyd unroll per codebook (same trade as kmeans_clusters)


def _pq_subvectors(v: DataFrame, col: str = "e") -> DataFrame:
    """Map-side posexplode of a (vec_id, <col>) vector frame into the
    (vec_id, m, s) subvector frame the Lloyd fit consumes — n·M rows, no
    shuffle."""
    return v.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.slice(col, m * PQ_SUBDIM + 1, PQ_SUBDIM)
                    for m in range(PQ_M)
                ]
            )
        ).alias("m", "s"),
    )


def _pq_lloyd(sub: DataFrame, k: int = PQ_K):
    """Shared PQ codebook fit over a (vec_id, m, s) subvector frame:
    k-means in each of the PQ_M subspaces (deterministic init = the first
    PQ_K vectors' subvectors, PQ_ITERS fixed Lloyd iterations — the
    kmeans_clusters unroll, run over ALL subspaces in ONE pipeline).
    Returns (codebooks(m, cid, ce), codes(vec_id, m, cid, s)). Fed raw
    subvectors by ``_pq_fit`` (flat PQ) and coarse-cell RESIDUAL
    subvectors by ``_ivfpq_fit`` (the FAISS IVFPQ composition).

    Scale design: every Lloyd iteration is ONE broadcast join against the
    M·K-row codebook + one (m, cid, pos)-keyed mean — the per-iteration
    shuffle cost is independent of M because all subspaces ride the same
    exchange, instead of M sequential fits each paying its own.
    """
    cents = sub.filter(F.col("vec_id") < k).select(
        "m", F.col("vec_id").alias("cid"), F.col("s").alias("ce")
    )

    def assign(cents):
        return _pq_assign(sub, cents)

    for _ in range(PQ_ITERS):
        assigned = assign(cents)
        cents = (
            assigned.select("m", "cid", F.posexplode("s").alias("pos", "val"))
            .groupBy("m", "cid", "pos")
            .agg(F.avg("val").alias("mv"))
            .groupBy("m", "cid")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "mv"))).alias("pm")
            )
            .select(
                "m", "cid", F.transform("pm", lambda s: s["mv"]).alias("ce")
            )
        )
    # the final codebook is consumed by TWO subtrees (the encoding assign
    # and the reconstruction join): materialize the M·K-row frame so each
    # consumer reuses it instead of re-running the whole Lloyd chain —
    # without this the plan re-scans the corpus once per consumer per
    # iteration (SURVEY §4 lesson (c), same hub rule as dedup_semantic)
    cents = cents.localCheckpoint(eager=True)
    return cents, assign(cents)


def _pq_assign(sub: DataFrame, cents: DataFrame) -> DataFrame:
    """Encode a (vec_id, m, s) subvector frame against an M·K-row
    codebook — the ONE encoding expression shared by the Lloyd fit and
    the published-model apply (``knn_pq_apply_published``), so a frozen
    codebook encodes a vector to the identical codes the fit assigned
    (no drift; the published≡refit pin rides on this).

    Shape (r13, guide §2.4): the per-subspace codewords fold into an
    M-row broadcast of candidate arrays; the argmin is a map-side
    ``array_min`` over (d, cid) structs — the same lexicographic
    minimum the old join + groupBy ``F.min(struct)`` computed, without
    shuffling the n·M subvector rows through a K-fanned exchange (one
    corpus-sized shuffle saved per Lloyd iteration and per encode)."""
    cands = cents.groupBy("m").agg(
        F.collect_list(F.struct(F.col("cid"), F.col("ce"))).alias("_cands")
    )
    return sub.join(F.broadcast(cands), "m").select(
        "vec_id",
        "m",
        F.array_min(
            F.transform(
                "_cands",
                lambda c: F.struct(
                    _sqdist(F.col("s"), c["ce"]).alias("d"),
                    c["cid"].alias("cid"),
                ),
            )
        )["cid"].alias("cid"),
        "s",
    )


def _pq_codebook_row(cents: DataFrame) -> DataFrame:
    """The whole M-subspace codebook folded into ONE broadcastable row:
    ascending-m array of per-subspace candidate (cid, ce) arrays."""
    return (
        cents.groupBy("m")
        .agg(F.collect_list(F.struct(F.col("cid"), F.col("ce"))).alias("cands"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("m"), F.col("cands")))
            ).alias("cb")
        )
    )


def _pq_reconstruct_inline(v: DataFrame, cents: DataFrame) -> DataFrame:
    """Encode + reconstruct in ONE map-side pass against a broadcast
    codebook (r13, guide §2.4): per vector and subspace, pick the
    lexicographic (d, cid)-minimum codeword (the ``_pq_assign`` argmin —
    cid is unique per subspace, so attaching ce to the struct never
    changes the winner) and concatenate the winning centroids ascending
    m (the ``_pq_reconstruct`` assembly order). The published-model
    search path (``knn_pq_apply_published``) uses this to lose both the
    subvector explode->code rows and the (vec_id)-keyed reassembly
    shuffle: scan -> reconstructed vector, nothing leaves the scan task.
    Arithmetic is term-identical to _pq_assign + _pq_reconstruct, so
    published ≡ refit still hash-checks against the refit oracle. An
    empty codebook reconstructs nothing (zero rows), never ``re=[]``."""
    one = _pq_codebook_row(cents).filter(F.size("cb") > 0)

    def winner(mc):
        return F.array_min(
            F.transform(
                mc["cands"],
                lambda c: F.struct(
                    _sqdist(
                        F.slice(
                            F.col("e"), mc["m"] * PQ_SUBDIM + 1, PQ_SUBDIM
                        ),
                        c["ce"],
                    ).alias("d"),
                    c["cid"].alias("cid"),
                    c["ce"].alias("ce"),
                ),
            )
        )

    return (
        v.crossJoin(F.broadcast(one))
        .select(
            "vec_id",
            F.flatten(
                F.transform(F.col("cb"), lambda mc: winner(mc)["ce"])
            ).alias("re"),
        )
        .withColumn("rnrm", _nrm(F.col("re")))
    )


def _pq_reconstruct(codes: DataFrame, cents: DataFrame) -> DataFrame:
    """PQ-reconstructed vectors (vec_id, re, rnrm) from a (vec_id, m,
    cid) code frame: broadcast codebook join + per-vector reassembly —
    never a corpus shuffle wider than the (vec_id)-keyed collect."""
    return (
        codes.join(F.broadcast(cents), ["m", "cid"])
        .groupBy("vec_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("m", "ce"))),
                    lambda x: x["ce"],
                )
            ).alias("re")
        )
        .withColumn("rnrm", _nrm(F.col("re")))
    )


def _pq_fit(spark: SparkSession, sf_dir: str):
    """Flat PQ fit over the raw embedding subvectors (see _pq_lloyd)."""
    v = _vectors(spark, sf_dir).select("vec_id", "e")
    return _pq_lloyd(_pq_subvectors(v))


def _pq_fit_shared(spark: SparkSession, sf_dir: str):
    """``_pq_fit`` memoized per session (round-11 verdict ask #1):
    ``knn_pq_adc``, its recall twin, and the publish path consume the
    SAME codebook — one Lloyd fit, every consumer. The codebooks are
    already checkpointed by ``_pq_lloyd``; the code assignment is
    checkpointed here so later consumers re-read the encoded corpus
    instead of re-running the assign. Deterministic in sf_dir (fixed
    init, fixed iterations), so a memo hit is frame-identical to a
    refit — the ``_ivfpq_fit_shared`` contract one section below."""
    from komodo_data_spark.operators.model_memo import session_model

    def fit():
        cents, codes = _pq_fit(spark, sf_dir)
        return cents, codes.localCheckpoint(eager=True)

    return session_model(spark, "pq_flat", (sf_dir,), fit)


def knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN search (Jégou et al. 2011, re-expressed
    Spark-first): each corpus vector is stored as PQ_M codebook codes
    (here 4 × 2 bits vs 64 × 64-bit floats — a 256× storage reduction);
    queries stay exact floats and score against the RECONSTRUCTED
    vectors, which is exactly asymmetric distance computation (ADC: the
    per-subspace lookup-table sum equals the dot product against the
    concatenated assigned centroids). Top-TOP_K per query by ADC cosine.

    Scale design: encoding is the broadcast-codebook argmin (map-side;
    the codebook is M·K rows no matter the corpus size); reconstruction
    is a broadcast equi-join + per-vector reassembly, never a corpus
    shuffle wider than the (vec_id)-keyed collect; scoring reuses the
    brute-force broadcast-query shape but reads the 4-code representation
    — at 100 TB the scan side is 256× smaller than the float corpus,
    which is the entire point of PQ. Recall twin: knn_pq_recall.
    """
    cents, codes = _pq_fit_shared(spark, sf_dir)
    return _pq_adc_topk(spark, sf_dir, _pq_reconstruct(codes, cents))


def _pq_adc_topk(
    spark: SparkSession, sf_dir: str, rec: DataFrame
) -> DataFrame:
    """Top-TOP_K per exact-float query by ADC cosine against a
    reconstructed-vector frame (vec_id, re, rnrm) — the scoring tail
    shared by the in-session and published-codebook ADC paths."""
    q = (
        _vectors(spark, sf_dir)
        .filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("qe"),
            F.col("nrm").alias("qnrm"),
        )
    )
    scored = rec.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cos_pre(F.col("qe"), F.col("re"), F.col("qnrm"), F.col("rnrm")).alias(
            "adc_cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("adc_cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", "adc_cosine", "rnk")
    )


def _pq_codebooks_path(model_path: str) -> str:
    import os

    return os.path.join(model_path, "codebooks")


def publish_pq_model(
    spark: SparkSession, sf_dir: str, model_path: str
) -> None:
    """Freeze the flat-PQ codebooks fit on a training corpus: a
    scan-heavy fit followed by a TINY parquet write — the (m, cid, ce)
    frame is PQ_M·PQ_K rows regardless of corpus size. Mirrors
    ``publish_ivfpq_model`` (streaming/ann_pq_incremental.py) and
    ``text_bpe_publish``: production refits on a schedule; between
    refreshes the codebook is immutable, so every consumer is a
    broadcast apply with no fit."""
    cents, _ = _pq_fit_shared(spark, sf_dir)
    cents.write.mode("overwrite").parquet(_pq_codebooks_path(model_path))


def read_pq_model(spark: SparkSession, model_path: str) -> DataFrame:
    """The published flat-PQ codebooks (m, cid, ce) — tiny, meant to be
    broadcast by every consumer."""
    return spark.read.parquet(_pq_codebooks_path(model_path))


def knn_pq_apply_published(
    spark: SparkSession, sf_dir: str, model_path: str
) -> DataFrame:
    """``knn_pq_adc``'s output against a PUBLISHED frozen codebook — the
    cross-session production form: no Lloyd fit, one corpus scan to
    encode (``_pq_assign``, the fit's own argmin expression), broadcast
    reconstruction, ADC top-k. Fails fast with the store-precondition
    error when the model was never published (``require_store``, same
    contract as the BPE merge table and the IVFPQ store)."""
    from komodo_data_spark.streaming.stores import require_store

    require_store(spark, _pq_codebooks_path(model_path), "flat-PQ codebook")
    cents = read_pq_model(spark, model_path)
    v = _vectors(spark, sf_dir).select("vec_id", "e")
    # one corpus scan: encode and reconstruct fused map-side against the
    # broadcast codebook (r13) — the old explode -> _pq_assign ->
    # _pq_reconstruct chain paid a (vec_id)-keyed reassembly shuffle of
    # n·M code rows for the same values
    return _pq_adc_topk(spark, sf_dir, _pq_reconstruct_inline(v, cents))


def knn_pq_published_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing roundtrip of the PUBLISH path: freeze the codebooks
    to a session-scoped store (`publish_pq_model` — tiny parquet write),
    then search THROUGH the store (`knn_pq_apply_published`:
    require_store gate, read, broadcast encode + ADC). The oracle is
    `knn_pq_adc`'s — published ≡ refit is thereby hash-checked in the
    correctness gate itself, not only pinned in pytest (the
    `text_bpe_published_apply` pattern). The store path is
    per-application under the system temp dir (a registry query cannot
    take a model_path argument), overwritten on each publish; a
    production pipeline passes a durable path to the same two
    functions."""
    import os
    import tempfile

    model_path = os.path.join(
        tempfile.gettempdir(),
        "komodo_pq_model",
        spark.sparkContext.applicationId,
        os.path.basename(os.path.abspath(sf_dir)),
    )
    publish_pq_model(spark, sf_dir, model_path)
    return knn_pq_apply_published(spark, sf_dir, model_path)


def _pq_sql_subvectors(src: str, col: str) -> str:
    """DuckDB subvector-explode CTE body over a (vec_id, <col>) source."""
    return f"""
      SELECT {src}.vec_id, t.m,
             array_slice({src}.{col}, t.m * {PQ_SUBDIM} + 1,
                         t.m * {PQ_SUBDIM} + {PQ_SUBDIM}) AS s
      FROM {src}, unnest(range(0, {PQ_M})) AS t(m)
    """


def _pq_sql_chain(k: int = PQ_K) -> str:
    """DuckDB CTE chain fitting the same per-subspace Lloyd unroll as
    ``_pq_lloyd`` (PQ_ITERS == 2 unrolled literally, like
    _kmeans_cte_prefix) over an existing ``sub`` CTE; emits
    ``pc0..pc2`` (codebooks) and ``paf`` (final code assignment)."""
    sqd = (
        "list_sum(list_transform(range(1, len(s.s)+1),"
        " i -> (s.s[i] - c.ce[i]) * (s.s[i] - c.ce[i])))"
    )

    def assign(subs: str, cents: str) -> str:
        return f"""
      SELECT s.vec_id, s.m, s.s,
             min([{sqd}, c.cid::DOUBLE])[2]::BIGINT AS cid
      FROM {subs} s JOIN {cents} c ON c.m = s.m
      GROUP BY s.vec_id, s.m, s.s
    """

    def update(assigned: str) -> str:
        return f"""
      SELECT m, cid, list(mv ORDER BY pos) AS ce FROM (
        SELECT a.m, a.cid, t.pos, avg(a.s[t.pos]) AS mv
        FROM {assigned} a, unnest(range(1, len(a.s)+1)) AS t(pos)
        GROUP BY a.m, a.cid, t.pos
      ) GROUP BY m, cid
    """

    return f"""
    pc0 AS (SELECT m, vec_id AS cid, s AS ce FROM sub WHERE vec_id < {k}),
    pa1 AS ({assign("sub", "pc0")}),
    pc1 AS ({update("pa1")}),
    pa2 AS ({assign("sub", "pc1")}),
    pc2 AS ({update("pa2")}),
    paf AS ({assign("sub", "pc2")})"""


def _pq_cte_prefix() -> str:
    """DuckDB CTE chain for flat PQ: exposes ``v`` (float vectors) and
    ``rec`` (PQ-reconstructed vectors)."""
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    sub AS ({_pq_sql_subvectors("v", "e")}),{_pq_sql_chain()},
    rec AS (
      SELECT a.vec_id, flatten(list(c.ce ORDER BY a.m)) AS e
      FROM paf a JOIN pc2 c ON c.m = a.m AND c.cid = a.cid
      GROUP BY a.vec_id
    )"""


def knn_pq_adc_oracle() -> str:
    return f"""
    {_pq_cte_prefix()},
    q AS (SELECT vec_id AS query_id, e FROM v WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.query_id, v.vec_id AS neighbor_id, {_SQL_COS} AS adc_cosine
      FROM q JOIN rec v ON v.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc_cosine DESC, neighbor_id ASC
      ) AS rnk FROM scored
    )
    SELECT query_id, neighbor_id, adc_cosine, rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """


def knn_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@K of PQ/ADC search against the exact float top-K — prices
    the 256× compression the same way the int8 twin prices its 4×: every
    representation rung on the ladder (sign-bit LSH, IVF cells, int8, PQ)
    ships with a measured-recall eval."""
    return _recall_vs_bruteforce(
        knn_brute_force(spark, sf_dir), knn_pq_adc(spark, sf_dir)
    )


def knn_pq_recall_oracle() -> str:
    return _recall_oracle(knn_pq_adc_oracle())


# --------------------------------------------------------------------------
# IVF-PQ: the FAISS-standard composed index (coarse cells + PQ residuals)
# --------------------------------------------------------------------------


#: Residual codebook size for the composed index (4-bit codes). The flat
#: PQ rung keeps PQ_K=4 for its documented 2-bit budget; the composition
#: spends more bits on the residual because AFTER the coarse subtraction
#: the residual carries ALL remaining signal — FAISS defaults to 8-bit
#: codebooks for the same reason. 4 subspaces × 4 bits = 2 bytes/vector.
IVFPQ_K = 16


def _ivfpq_fit(spark: SparkSession, sf_dir: str):
    """The IVFPQ index build (Jégou et al. 2011, §IV — the composition
    FAISS ships as IndexIVFPQ): coarse-quantize every vector to its
    nearest K-MEANS cell (the fitted ``_kmeans_fit`` centroids — not the
    arbitrary first-N vectors ``knn_ivf`` uses, because residual coding
    only wins when the cell center is the cell MEAN; measured here,
    raw-vector cells made residuals WORSE than flat PQ), then PQ-encode
    the residual (vector − cell centroid) with the shared per-subspace
    Lloyd kernel at IVFPQ_K codewords.

    Returns (cells(cid, ce), picked(vec_id, cell_id), codebooks, codes).
    Scale design: the coarse centroids localCheckpoint (KMEANS_K rows;
    three consumers — residual join, reconstruction, query probing —
    must not each re-run the Lloyd chain); coarse assignment is a
    broadcast crossJoin + map-side-combinable min-struct argmin, never a
    corpus shuffle; the residual explode is map-side; the residual
    codebook rounds inherit ``_pq_lloyd``'s broadcast shape.
    """
    # the shared fit's final assignment IS the coarse quantization this
    # index needs (same argmin expression over the same fitted cells), so
    # the corpus crossJoin+argmin is not re-run here
    cells, assigned = _kmeans_fit_shared(spark, sf_dir)
    picked = assigned.select(
        "vec_id", F.col("cid").alias("cell_id"), "e"
    )
    resid = picked.join(
        F.broadcast(cells), F.col("cell_id") == F.col("cid")
    ).select(
        "vec_id",
        "cell_id",
        F.zip_with("e", "ce", lambda x, c: x - c).alias("r"),
    )
    cents, codes = _pq_lloyd(_pq_subvectors(resid, "r"), k=IVFPQ_K)
    return cells, picked.select("vec_id", "cell_id"), cents, codes


def _ivfpq_fit_shared(spark: SparkSession, sf_dir: str):
    """``_ivfpq_fit`` memoized per session (round-10 verdict ask #5):
    ``knn_ivfpq_adc`` and ``knn_ivfpq_recall`` consume the SAME index —
    one fit, both queries. The model frames (cells, codebooks) are
    already checkpointed by the fit; the index frames (assignments,
    codes) are checkpointed here so the second consumer re-reads the
    built index instead of re-running coarse assignment + residual
    coding — the in-session form of what ``publish_ivfpq_model`` +
    the PQ store do across sessions. The fit is deterministic in
    sf_dir (fixed init, fixed iterations), so a memo hit is
    frame-identical to a refit."""
    from komodo_data_spark.operators.model_memo import session_model

    def fit():
        cells, picked, cents, codes = _ivfpq_fit(spark, sf_dir)
        return (
            cells,
            picked.localCheckpoint(eager=True),
            cents,
            codes.localCheckpoint(eager=True),
        )

    return session_model(spark, "ivfpq", (sf_dir,), fit)


def knn_ivfpq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN search — the production-standard composed index: probe
    the query's IVF_PROBES nearest coarse cells, ADC-score only their
    members against (cell centroid + PQ-reconstructed residual), top-TOP_K
    per query. Composes the two existing rungs exactly the way FAISS
    IndexIVFPQ does: the inverted lists bound WHICH vectors are scored
    (candidate generation stays an equi-join on cell_id) and the residual
    codes bound WHAT is read per candidate (PQ_M codes instead of the
    float vector).

    Scale design: at 100 TB the scan side of the search join carries only
    (vec_id, cell_id, 4 codes) — the 256× PQ compression — and the probe
    restriction cuts candidates to ~probes/KMEANS_K of the corpus (dial
    KMEANS_K up with corpus size: FAISS guidance is ~sqrt(n) cells); both
    dials (probes, IVFPQ_K) trade recall for cost with the measured twin
    ``knn_ivfpq_recall`` pricing the composition against brute force.
    Reconstruction joins are broadcast (codebook is M·K rows; cells are
    N_CELLS rows); nothing corpus-sized shuffles except the (vec_id)-keyed
    code reassembly that any PQ store pays once at build time.
    """
    cells, assigned, cents, codes = _ivfpq_fit_shared(spark, sf_dir)
    rrec = (
        codes.join(F.broadcast(cents), ["m", "cid"])
        .groupBy("vec_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("m", "ce"))),
                    lambda x: x["ce"],
                )
            ).alias("rr")
        )
    )
    rec = (
        assigned.join(rrec, "vec_id")
        .join(F.broadcast(cells), F.col("cell_id") == F.col("cid"))
        .select(
            "vec_id",
            "cell_id",
            F.zip_with("ce", "rr", lambda c, r: c + r).alias("re"),
        )
        .withColumn("rnrm", _nrm(F.col("re")))
    )
    # queries stay exact floats; probe the IVF_PROBES nearest cells by the
    # coarse quantizer's own metric (Euclidean — the assignment metric);
    # the query frame is N_QUERIES×KMEANS_K rows, so the window cost is nil
    wq = Window.partitionBy("query_id").orderBy(F.asc("qd"), F.asc("cid"))
    q = (
        _vectors(spark, sf_dir)
        .filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("qe"),
            F.col("nrm").alias("qnrm"),
        )
        .crossJoin(F.broadcast(cells))
        .withColumn("qd", _sqdist(F.col("qe"), F.col("ce")))
        .withColumn("crnk", F.row_number().over(wq))
        .filter(F.col("crnk") <= IVF_PROBES)
        .select("query_id", "qe", "qnrm", F.col("cid").alias("qcell"))
    )
    scored = rec.join(
        F.broadcast(q),
        (F.col("cell_id") == F.col("qcell"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cos_pre(F.col("qe"), F.col("re"), F.col("qnrm"), F.col("rnrm")).alias(
            "adc_cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("adc_cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", "adc_cosine", "rnk")
    )


def _ivfpq_cte_prefix() -> str:
    """DuckDB twin of the IVFPQ build: the k-means coarse fit (shared
    ``_kmeans_cte_prefix`` — exposes ``c2`` centroids and ``af`` final
    assignment), residual subvectors through the shared Lloyd unroll at
    IVFPQ_K, reconstruction = cell centroid + residual codeword. Exposes
    ``v``, ``c2`` and ``rec`` (vec_id, cell_id, e)."""
    return f"""
    {_kmeans_cte_prefix()},
    rsd AS (
      SELECT a.vec_id, a.cid AS cell_id,
             list_transform(range(1, len(a.e)+1),
                            i -> a.e[i] - c.ce[i]) AS r
      FROM af a JOIN c2 c USING (cid)
    ),
    sub AS ({_pq_sql_subvectors("rsd", "r")}),{_pq_sql_chain(k=IVFPQ_K)},
    rrec AS (
      SELECT a.vec_id, flatten(list(c.ce ORDER BY a.m)) AS rr
      FROM paf a JOIN pc2 c ON c.m = a.m AND c.cid = a.cid
      GROUP BY a.vec_id
    ),
    rec AS (
      SELECT r.vec_id, r.cell_id,
             list_transform(range(1, len(c.ce)+1),
                            i -> c.ce[i] + rr.rr[i]) AS e
      FROM rsd r JOIN rrec rr ON rr.vec_id = r.vec_id
      JOIN c2 c ON c.cid = r.cell_id
    )"""


def knn_ivfpq_adc_oracle() -> str:
    qsqd = (
        "list_sum(list_transform(range(1, len(q.e)+1),"
        " i -> (q.e[i] - c.ce[i]) * (q.e[i] - c.ce[i])))"
    )
    return f"""
    {_ivfpq_cte_prefix()},
    qprobe AS (
      SELECT * FROM (
        SELECT q.vec_id AS query_id, q.e, c.cid AS qcell,
               row_number() OVER (
                 PARTITION BY q.vec_id ORDER BY {qsqd} ASC, c.cid ASC
               ) AS crnk
        FROM v q CROSS JOIN c2 c WHERE q.vec_id < {N_QUERIES}
      ) WHERE crnk <= {IVF_PROBES}
    ),
    scored AS (
      SELECT q.query_id, v.vec_id AS neighbor_id, {_SQL_COS} AS adc_cosine
      FROM qprobe q JOIN rec v
        ON v.cell_id = q.qcell AND v.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc_cosine DESC, neighbor_id ASC
      ) AS rnk FROM scored
    )
    SELECT query_id, neighbor_id, adc_cosine, rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """


def knn_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@K of the composed IVF-PQ index against the exact float
    top-K — prices BOTH approximations at once (probe misses from the
    coarse cells, quantization error from the residual codes), read next
    to ``knn_ivf_recall`` and ``knn_pq_recall`` to see what each layer
    costs alone vs composed."""
    return _recall_vs_bruteforce(
        knn_brute_force(spark, sf_dir), knn_ivfpq_adc(spark, sf_dir)
    )


def knn_ivfpq_recall_oracle() -> str:
    return _recall_oracle(knn_ivfpq_adc_oracle())


# --------------------------------------------------------------------------
# hard-negative mining (contrastive-training pair construction)
# --------------------------------------------------------------------------


def embeddings_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K most-similar vectors under a DIFFERENT label for each query
    vector — hard-negative mining for contrastive/embedding training: the
    negatives worth training on are the ones the current embedding space
    already confuses with the anchor, and those are exactly the
    highest-cosine cross-label neighbors. Same output shape as the ANN
    ladder (query_id, neighbor_id, label pair, cosine, rnk) so mined pairs
    feed the existing export path unchanged.

    Scale design: identical plan skeleton to ``knn_brute_force`` — the
    query set broadcasts against the scan side, cosine runs on
    pre-hoisted norms (``_cos_pre``), and the per-query window reduces to
    a map-side TakeOrdered before |Q|·K rows shuffle. The label predicate
    is applied IN the join condition, so mismatched-label pairs are
    dropped before any scoring work. At 100 TB the cross-label
    restriction composes with any ladder rung — e.g. IVF-cell candidates
    (``knn_ivf``) filtered to ``label <> query label`` — trading the
    exact guarantee for cell-bounded cost with measured recall; this
    exact form is the oracle-anchored baseline of that family.
    """
    v = _vectors(spark, sf_dir)
    lab = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    vl = v.join(lab, "vec_id")
    q = vl.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    scored = vl.join(
        F.broadcast(q), F.col("label") != F.col("query_label")
    ).select(
        "query_id",
        "query_label",
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        _cos_pre(F.col("qe"), F.col("e"), F.col("qnrm"), F.col("nrm")).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            "cosine",
            "rnk",
        )
    )


def embeddings_hard_negatives_oracle() -> str:
    return f"""
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
    ),
    q AS (
      SELECT vec_id AS query_id, label AS query_label, e
      FROM v WHERE vec_id < {N_QUERIES}
    ),
    scored AS (
      SELECT q.query_id, q.query_label, v.vec_id AS neighbor_id,
             v.label AS neighbor_label, {_SQL_COS} AS cosine
      FROM q JOIN v ON v.label <> q.query_label
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
      ) AS rnk FROM scored
    )
    SELECT query_id, query_label, neighbor_id, neighbor_label, cosine, rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """


# --------------------------------------------------------------------------
# dominant principal component (fixed-round power iteration)
# --------------------------------------------------------------------------

POWER_ITERS = 5


def embeddings_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal component of the embedding space by POWER_ITERS
    fixed rounds of power iteration on the covariance matrix — the audit
    that turns ``embeddings_dim_covariance``'s pairwise numbers into the
    actionable artifact: the direction along which the space is most
    anisotropic (the "common direction" that makes raw cosine similarities
    drift high and is subtracted by all-but-the-top post-processing).
    Completes the verifiable-iteration family (kmeans = EM, pagerank =
    random walk, BPE = greedy merges, LPA = propagation; this is the
    linear-algebra member).

    Scale design: the corpus appears ONLY in the covariance fit (reused
    from ``embeddings_dim_covariance``'s shared cov frame — map-side
    outer-product explode, one combinable aggregate; n·d² map rows, d²
    aggregate rows). Every iteration after that runs on the d²-row
    matrix: matvec = broadcast equi-join of the d-row vector + one
    aggregate; normalization rides an UNPARTITIONED window over the
    d-row matvec result (d rows on one task — the window is
    dimension-bounded, never corpus-bounded). The window form matters
    structurally: normalizing through a separate ``agg`` + crossJoin
    makes every round's iterate reference the previous round TWICE
    (once through the matvec, once through the norm scalar), so the
    unrolled plan doubles per round — 2^POWER_ITERS subtree copies, 560
    Exchanges at 5 rounds, and planning time dominated the query
    (measured 8.7 s at sf0.1, vs 1.3 s after; plan 6420 → ~200 lines).
    With the window the iterate references each round once and the
    lineage is linear, so no per-round checkpoint is needed either
    (an eager cut per round costs a scheduler round-trip each — it
    measurably doubled the query's wall time at sf0.1). Deterministic
    for both engines: start vector = ones (covariance eigenvalues are
    >= 0, so the sign convention is fixed by the start), identical
    naive-moment covariance on both sides, and the driver's 9-sig-digit
    rounding absorbs fold-order drift.
    """
    cov = _dim_cov_frame(spark, sf_dir)
    full = cov.unionByName(
        cov.filter(F.col("di") != F.col("dj")).select(
            F.col("dj").alias("di"), F.col("di").alias("dj"), "cov"
        )
    ).localCheckpoint(eager=True)  # d² rows, referenced by all 5 rounds
    v = full.filter(F.col("di") == F.col("dj")).select(
        F.col("di").alias("pos"), F.lit(1.0).alias("v")
    )
    w_all = Window.partitionBy()
    for _ in range(POWER_ITERS):
        w = (
            full.join(
                F.broadcast(
                    v.select("pos", "v").withColumnRenamed("pos", "dj")
                ),
                "dj",
            )
            .groupBy("di")
            .agg(F.sum(F.col("cov") * F.col("v")).alias("w"))
        )
        nrm = F.sqrt(F.sum(F.col("w") * F.col("w")).over(w_all))
        v = w.select(
            F.col("di").alias("pos"),
            (F.col("w") / nrm).alias("v"),
            nrm.alias("nrm"),
        )
    return v.select(
        "pos", F.col("v").alias("loading"), F.col("nrm").alias("eigenvalue")
    )


def embeddings_top_pc_oracle() -> str:
    rounds = []
    prev = "v0"
    for r in range(1, POWER_ITERS + 1):
        rounds.append(
            f"""
    w{r} AS (
      SELECT cv.di AS pos, sum(cv.cov * {prev}.v) AS w
      FROM cv JOIN {prev} ON {prev}.pos = cv.dj GROUP BY 1
    ),
    n{r} AS (SELECT sqrt(sum(w * w)) AS nrm FROM w{r}),
    v{r} AS (SELECT pos, w / nrm AS v FROM w{r} CROSS JOIN n{r})"""
        )
        prev = f"v{r}"
    return f"""
    WITH ev AS (
      SELECT vec_id, t.i - 1 AS d, embedding[t.i]::DOUBLE AS val
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    ),
    cv AS (
      SELECT a.d AS di, b.d AS dj,
             avg(a.val * b.val) - avg(a.val) * avg(b.val) AS cov
      FROM ev a JOIN ev b ON a.vec_id = b.vec_id
      GROUP BY 1, 2
    ),
    v0 AS (SELECT DISTINCT di AS pos, 1.0 AS v FROM cv),{','.join(rounds)}
    SELECT v{POWER_ITERS}.pos, v{POWER_ITERS}.v AS loading,
           n{POWER_ITERS}.nrm AS eigenvalue
    FROM v{POWER_ITERS} CROSS JOIN n{POWER_ITERS}
    """
