"""Nearest-neighbour search over ``embeddings`` (north-star extension;
SURVEY.md §2.12): the exact baseline, the approximate rungs of the ANN
ladder (sign-bit LSH, IVF cells, int8, PQ, IVF-PQ), their recall evals,
and the k-means / PQ fits the rungs build on.

The search contract, written once in ``_knn`` (Spark) and ``_sql_knn``
(its DuckDB twin): the query set (vec_id < N_QUERIES unless a query says
otherwise) is broadcast and joined to its candidates; cosine is scored on
norms computed once per vector; each query keeps its top K by
``(score desc, neighbor_id asc)`` — one ``row_number`` window (``_top_k``
/ ``_sql_top_k``), which the IVF cell ranking and the IVF-PQ query probe
reuse. Catalyst puts a partial group limit under the window, so each
task ships at most K rows per query to the ranking exchange; the
candidate pairs never shuffle. A query keeps only what differs: its
vector form, its candidate rule (an equi-key wherever the rule allows,
so Catalyst plans a broadcast hash join, not a nested loop), K and its
score name.

Cosine math runs in double on both engines; the driver's value hash rounds
to 9 significant digits, absorbing fold-order differences.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from komodo_data_spark.operators.model_memo import session_model_path, shared_fit
from komodo_data_spark.registry import query
from komodo_data_spark.sources.tables import load_table

N_QUERIES = 10  # vec_id < 10 are the query vectors
TOP_K = 5
ANN_K = 3  # top-K of the approximate LSH / IVF rungs
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


def _sql_cos(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, len({a})+1), i -> {a}[i] * {b}[i]))"
        f" / (sqrt(list_sum(list_transform({a}, x -> x * x)))"
        f" * sqrt(list_sum(list_transform({b}, x -> x * x))))"
    )


_SQL_COS = _sql_cos("q.e", "v.e")
_SQL_V = "v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)"
_SQL_Q = f"q AS (SELECT vec_id AS query_id, e FROM v WHERE vec_id < {N_QUERIES})"
_SQL_NOT_SELF = "v.vec_id <> q.query_id"


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    # repartition: the single-row-group testdata parquet would otherwise pin
    # all cosine evaluation to one task (see dedup._spread)
    return (
        load_table(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
        .withColumn("nrm", _nrm(F.col("e")))
    )


def _top_k(
    df: DataFrame, by: str, order: Sequence[Column], k: int, rnk: str = "rnk"
) -> DataFrame:
    """The rows ranked 1..k within each ``by`` group under ``order``."""
    w = Window.partitionBy(by).orderBy(*order)
    return df.withColumn(rnk, F.row_number().over(w)).filter(F.col(rnk) <= k)


def _sql_top_k(src: str, by: str, order: str, k: int, rnk: str = "rnk") -> str:
    return f"""SELECT * FROM (
      SELECT *, row_number() OVER (PARTITION BY {by} ORDER BY {order}) AS {rnk}
      FROM {src}) WHERE {rnk} <= {k}"""


def _as_queries(
    v: DataFrame, *extra: Column, where: Column | None = None
) -> DataFrame:
    """The query side of a search over ``v``: the rows passing ``where``
    (default vec_id < N_QUERIES) as (query_id, qe, qnrm, *extra)."""
    where = F.col("vec_id") < N_QUERIES if where is None else where
    return v.filter(where).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qnrm"),
        *extra,
    )


def _others(rule: Column | None = None) -> Column:
    """Candidate condition: every vector but the query itself, narrowed by
    ``rule``."""
    not_self = F.col("vec_id") != F.col("query_id")
    return not_self if rule is None else rule & not_self


def _knn(
    v: DataFrame,
    q: DataFrame,
    on: Column,
    k: int,
    score: str = "cosine",
    cols: Sequence[str] = ("query_id", "neighbor_id"),
) -> DataFrame:
    """THE search (module docstring): vectors ``v`` (vec_id, e, nrm, …)
    joined to the broadcast queries ``q`` (query_id, qe, qnrm, …) on
    ``on``, top ``k`` per query as (*cols, <score>, rnk). ``cols`` names
    columns of the joined pair; ``neighbor_id`` is the vector's vec_id."""
    scored = v.join(F.broadcast(q), on).select(
        *[
            F.col("vec_id").alias(c) if c == "neighbor_id" else F.col(c)
            for c in cols
        ],
        _cos_pre(F.col("qe"), F.col("e"), F.col("qnrm"), F.col("nrm")).alias(
            score
        ),
    )
    order = [F.desc(score), F.asc("neighbor_id")]
    return _top_k(scored, "query_id", order, k).select(*cols, score, "rnk")


def _sql_knn(
    q: str,
    v: str,
    on: str,
    k: int,
    score: str = "cosine",
    cols: Sequence[str] = ("query_id", "neighbor_id"),
) -> str:
    """DuckDB twin of ``_knn``: the scored / ranked / final-select tail
    over query CTE ``q`` (query_id, e, …) and vector CTE ``v`` (vec_id,
    e, …)."""
    items = ", ".join(
        "v.vec_id AS neighbor_id" if c == "neighbor_id" else c for c in cols
    )
    order = f"{score} DESC, neighbor_id ASC"
    return f"""scored AS (
      SELECT {items}, {_SQL_COS} AS {score}
      FROM {q} q JOIN {v} v ON {on}
    ),
    ranked AS ({_sql_top_k("scored", "query_id", order, k)})
    SELECT {", ".join(cols)}, {score}, rnk FROM ranked"""


@query
def knn_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-TOP_K: every other vector is a candidate."""
    v = _vectors(spark, sf_dir)
    return _knn(v, _as_queries(v), _others(), TOP_K)


def knn_brute_force_oracle() -> str:
    return f"""
    WITH {_SQL_V},
    {_SQL_Q},
    {_sql_knn("q", "v", _SQL_NOT_SELF, TOP_K)}
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


def _lsh_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _vectors(spark, sf_dir).withColumn("bucket", _bucket(F.col("e")))


_SQL_LSH_V = f"""v0 AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    v AS (SELECT vec_id, e, {_sql_bucket("v0")} AS bucket FROM v0)"""
_SQL_SAME_BUCKET = f"v.bucket = q.qbucket AND {_SQL_NOT_SELF}"


def _knn_lsh(v: DataFrame, k: int) -> DataFrame:
    """Top-k within the query's own bucket over a (vec_id, e, nrm,
    bucket) frame — shared with the streaming index
    (``ann_incremental.knn_from_store``)."""
    q = _as_queries(v, F.col("bucket").alias("qbucket"))
    return _knn(v, q, _others(F.col("bucket") == F.col("qbucket")), k)


@query
def knn_lsh_signbits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-ANN_K: candidates are the query's sign-bit LSH
    bucket, an equi-join key (2^LSH_BITS-fold candidate reduction)."""
    return _knn_lsh(_lsh_vectors(spark, sf_dir), ANN_K)


def knn_lsh_signbits_oracle() -> str:
    return f"""
    WITH {_SQL_LSH_V},
    q AS (SELECT vec_id AS query_id, e, bucket AS qbucket
          FROM v WHERE vec_id < {N_QUERIES}),
    {_sql_knn("q", "v", _SQL_SAME_BUCKET, ANN_K)}
    """


N_CELLS = 8  # IVF coarse cells (centroids = first N_CELLS vectors)
_SQL_SAME_CELL = f"v.cell_id = q.qcell AND {_SQL_NOT_SELF}"


def _knn_ivf(spark: SparkSession, sf_dir: str, probes: int) -> DataFrame:
    """Top-ANN_K over the members of the query's ``probes`` nearest cells.
    Every vector is assigned to its nearest cell by cosine (ties to the
    lower cell_id); the first N_CELLS vectors stand in for the cell
    centroids, deterministically. Cells partition the vectors, so probe
    results are disjoint and need no dedup."""
    v = _vectors(spark, sf_dir)
    cents = v.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("cell_id"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cnrm"),
    )
    sim = v.join(F.broadcast(cents)).withColumn(
        "csim", _cos_pre(F.col("e"), F.col("ce"), F.col("nrm"), F.col("cnrm"))
    )
    order = [F.desc("csim"), F.asc("cell_id")]
    ranked = _top_k(sim, "vec_id", order, probes, "crnk")
    assigned = ranked.filter(F.col("crnk") == 1).select(
        "vec_id", "e", "nrm", "cell_id"
    )
    q = _as_queries(ranked, F.col("cell_id").alias("qcell"))
    return _knn(assigned, q, _others(F.col("cell_id") == F.col("qcell")), ANN_K)


def _sql_knn_ivf(probes: int) -> str:
    return f"""
    WITH {_SQL_V},
    c AS (SELECT vec_id AS cell_id, e AS ce FROM v WHERE vec_id < {N_CELLS}),
    sim AS (
      SELECT v.vec_id, v.e, c.cell_id, {_sql_cos("v.e", "c.ce")} AS csim
      FROM v CROSS JOIN c
    ),
    cells AS ({_sql_top_k("sim", "vec_id", "csim DESC, cell_id ASC", probes, "crnk")}),
    assigned AS (SELECT vec_id, e, cell_id FROM cells WHERE crnk = 1),
    q AS (SELECT vec_id AS query_id, e, cell_id AS qcell
          FROM cells WHERE vec_id < {N_QUERIES}),
    {_sql_knn("q", "assigned", _SQL_SAME_CELL, ANN_K)}
    """


@query
def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: candidates are the members of the query's own cell,
    an equi-join key on cell_id (~1/N_CELLS of the corpus)."""
    return _knn_ivf(spark, sf_dir, 1)


def knn_ivf_oracle() -> str:
    return _sql_knn_ivf(1)


@query
def knn_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-bit LSH: candidates are the query's own bucket
    plus the LSH_BITS single-bit-flip buckets (5 probes at 4 bits), the
    recall dial of LSH. Probes explode on the query side into equi-join
    keys; buckets partition the space, so probe sets are disjoint and no
    pair-dedup is needed."""
    v = _lsh_vectors(spark, sf_dir)
    probes = F.array(
        F.col("qbucket"),
        *[
            F.col("qbucket").bitwiseXOR(F.lit(1 << i))
            for i in range(LSH_BITS)
        ],
    )
    q = _as_queries(v, F.col("bucket").alias("qbucket")).withColumn(
        "probe", F.explode(probes)
    )
    return _knn(v, q, _others(F.col("bucket") == F.col("probe")), ANN_K)


def knn_lsh_multiprobe_oracle() -> str:
    probe_list = "[qbucket" + "".join(
        f", xor(qbucket, {1 << i})" for i in range(LSH_BITS)
    ) + "]"
    return f"""
    WITH {_SQL_LSH_V},
    q0 AS (SELECT vec_id AS query_id, e, bucket AS qbucket
           FROM v WHERE vec_id < {N_QUERIES}),
    q AS (SELECT query_id, e, unnest({probe_list}) AS probe FROM q0),
    {_sql_knn("q", "v", f"v.bucket = q.probe AND {_SQL_NOT_SELF}", ANN_K)}
    """


IVF_PROBES = 2  # search the query's 2 nearest cells


@query
def knn_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with multi-cell probing: candidates are the members of the
    query's IVF_PROBES nearest cells, the IVF recall dial (the role
    bit-flip probing plays for LSH)."""
    return _knn_ivf(spark, sf_dir, IVF_PROBES)


def knn_ivf_multiprobe_oracle() -> str:
    return _sql_knn_ivf(IVF_PROBES)


# --------------------------------------------------------------------------
# ANN quality evaluation: recall@K of an approximate search vs exact truth
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


@query
def knn_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@K of sign-bit LSH against the exact brute-force top-K — the
    evaluation loop every ANN deployment runs before trusting an index."""
    return _recall_vs_bruteforce(
        knn_brute_force(spark, sf_dir), knn_lsh_signbits(spark, sf_dir)
    )


def knn_lsh_recall_oracle() -> str:
    return _recall_oracle(knn_lsh_signbits_oracle())


@query
def knn_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@K of single-probe IVF against the exact brute-force top-K;
    read it next to ``knn_ivf_multiprobe`` to price the recall/latency
    trade of the probe dial."""
    return _recall_vs_bruteforce(
        knn_brute_force(spark, sf_dir), knn_ivf(spark, sf_dir)
    )


def knn_ivf_recall_oracle() -> str:
    return _recall_oracle(knn_ivf_oracle())


#: Query budget for the SAMPLED-truth recall eval: ~this many query
#: vectors at ANY corpus size, drawn by a deterministic md5 hash gate over
#: vec_id. The fixed ``vec_id < N_QUERIES`` probe reads the same 10
#: vectors at every scale; the sampled mode stratifies the query draw
#: uniformly across the id space and keeps the exact-truth cost at
#: O(budget · corpus) — linear per decade, never quadratic.
KNN_RECALL_SAMPLE_QUERIES = 32

#: Modulus of the query-sampling hash gate. The shared corpus gate
#: (pipeline_ops._bucket_col) uses % 100, whose granularity floors a
#: slice at 1%% of the corpus — fine for document slices, but a 1%% floor
#: on QUERIES would turn the truth side quadratic again past 100× the
#: budget. Same md5 construction, wider modulus.
_KNN_SAMPLE_MOD = 100_000


@query
def knn_lsh_recall_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``knn_lsh_recall`` over a SAMPLED query set: ~KNN_RECALL_SAMPLE_QUERIES
    query vectors drawn by the deterministic md5 gate (identical draw in
    the oracle); exact truth and the same-bucket search both run for
    those queries over the full corpus. Per-query rows (query_id, n_hit,
    recall), ordered."""
    from komodo_data_spark.operators.dedup import _recall_sample_buckets
    from komodo_data_spark.operators.pipeline_ops import _bucket_col

    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    gate = _bucket_col(F.col("vec_id"), mod=_KNN_SAMPLE_MOD) < (
        _recall_sample_buckets(n_vecs, KNN_RECALL_SAMPLE_QUERIES, _KNN_SAMPLE_MOD)
    )
    v = _lsh_vectors(spark, sf_dir)
    # small frame (≈ the budget), consumed by the truth and detector
    # subtrees — materialize once, GC-released
    q = _as_queries(v, F.col("bucket").alias("qbucket"), where=gate)
    q = q.localCheckpoint(eager=False)
    bf = _knn(v, q, _others(), TOP_K)
    det = _knn(v, q, _others(F.col("bucket") == F.col("qbucket")), ANN_K)
    return _recall_vs_bruteforce(bf, det)


def knn_lsh_recall_sampled_oracle() -> str:
    from komodo_data_spark.operators.dedup import _sql_sample_gate

    gate = _sql_sample_gate(
        "embeddings", KNN_RECALL_SAMPLE_QUERIES, "vec_id", _KNN_SAMPLE_MOD
    )
    return _recall_oracle(
        f"WITH {_sql_knn('q', 'v', _SQL_SAME_BUCKET, ANN_K)}",
        truth_sql=f"WITH {_sql_knn('q', 'v', _SQL_NOT_SELF, TOP_K)}",
        prelude=f"""{_SQL_LSH_V},
    q AS (SELECT vec_id AS query_id, e, bucket AS qbucket
          FROM v WHERE {gate})""",
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
    """Nearest-centroid assignment of a (vec_id, e) frame as (vec_id,
    cid, e) — the ONE assignment expression shared by the Lloyd fit, the
    published-model apply (``kmeans_apply_published``), and the streaming
    IVF-PQ encoder's coarse step (``ann_pq_incremental.encode_batch``), so
    a frozen centroid frame assigns every vector to the identical cell the
    fit did (published≡refit rides on this).

    Shape (guide §2.4): the K centroids are folded into ONE array row and
    broadcast; the argmin is a map-side ``array_min`` over the
    per-centroid (d, cid) structs (the lexicographic (d, cid) minimum), so
    the assignment never shuffles the corpus and never leaves the scan
    tasks. An empty centroid frame assigns nothing (zero rows, like
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


@shared_fit("kmeans")
def _kmeans_fit_shared(spark: SparkSession, sf_dir: str):
    """``_kmeans_fit`` as a shared fit of three consumers
    (``kmeans_clusters``, ``dedup_semantic``, ``_ivfpq_fit``): the
    standard build-once index artifacts (centroids KMEANS_K rows; the
    assignment one narrow row per vector)."""
    return _kmeans_fit(spark, sf_dir)


@query
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
    ``text_bpe_published_apply`` / ``knn_pq_published_adc`` pattern)."""
    model_path = session_model_path(spark, "kmeans", sf_dir)
    publish_kmeans_model(spark, sf_dir, model_path)
    return kmeans_apply_published(spark, sf_dir, model_path)


@query(oracle="kmeans_clusters_oracle")
def kmeans_clusters_published(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``kmeans_clusters`` through the published cell store; the oracle
    is ``kmeans_clusters``'s, so published ≡ refit is hash-checked in
    the correctness gate itself."""
    centroids, assigned = _published_kmeans_roundtrip(spark, sf_dir)
    return _kmeans_clusters_from(centroids, assigned)


@query(oracle="dedup_semantic_oracle")
def dedup_semantic_published(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_semantic`` through the published cell store; oracle =
    ``dedup_semantic``'s (published ≡ refit in the correctness gate)."""
    _, assigned = _published_kmeans_roundtrip(spark, sf_dir)
    return _dedup_semantic_from(assigned)


def _sql_sqdist(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, len({a})+1),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    )


def _kmeans_cte_prefix() -> str:
    """DuckDB CTE chain fitting the same 2-iteration Lloyd unroll: exposes
    ``c2`` (final centroids) and ``af`` (final assignment: vec_id, e, cid)."""

    def assign(vecs: str, cents: str) -> str:
        return f"""
      SELECT v.vec_id, v.e,
             min([{_sql_sqdist("v.e", "c.ce")}, c.cid::DOUBLE])[2]::BIGINT AS cid
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
    WITH {_SQL_V},
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


@query
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
    return f"""
    {_kmeans_cte_prefix()},
    pruned AS (
      SELECT DISTINCT b.vec_id
      FROM af a JOIN af b ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE {_sql_cos("a.e", "b.e")} >= {SEMDEDUP_COSINE}
    )
    SELECT af.vec_id, af.cid,
           af.vec_id IN (SELECT vec_id FROM pruned) AS is_pruned
    FROM af
    """


@query
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


@query
def knn_quantized_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@K of per-vector symmetric int8 quantization against the exact
    float top-K: the exact search over quantized vectors (scale = max |x|
    per vector, q = round(127·x/scale), a map-side projection), scored as
    ``qcos``. Prices the 4× memory reduction in ranking noise."""
    v = _vectors(spark, sf_dir)
    s = F.array_max(F.transform("e", F.abs))
    qe = F.transform("e", lambda x: F.round(F.lit(float(QUANT_LEVELS)) * x / s))
    vq = v.select("vec_id", qe.alias("e")).withColumn("nrm", _nrm(F.col("e")))
    quant = _knn(vq, _as_queries(vq), _others(), TOP_K, score="qcos")
    return _recall_vs_bruteforce(knn_brute_force(spark, sf_dir), quant)


def knn_quantized_recall_oracle() -> str:
    qe = (
        "list_transform(e, x -> round(127.0 * x /"
        " list_aggregate(list_transform(e, y -> abs(y)), 'max')))"
    )
    return _recall_oracle(f"""
    WITH {_SQL_V},
    vq AS (SELECT vec_id, {qe} AS e FROM v),
    q AS (SELECT vec_id AS query_id, e FROM vq WHERE vec_id < {N_QUERIES}),
    {_sql_knn("q", "vq", _SQL_NOT_SELF, TOP_K, "qcos")}
    """)


# --------------------------------------------------------------------------
# per-label centroid geometry (class-separation audit)
# --------------------------------------------------------------------------


@query
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


@query
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


def _pq_split(e: Column) -> Column:
    """A vector's PQ_M subvectors, ascending m."""
    return F.array(
        *[F.slice(e, m * PQ_SUBDIM + 1, PQ_SUBDIM) for m in range(PQ_M)]
    )


def _pq_subvectors(
    v: DataFrame, col: str = "e", keys: Sequence[str] = ("vec_id",)
) -> DataFrame:
    """Map-side posexplode of a (*keys, <col>) vector frame into the
    (*keys, m, s) subvector frame ``_pq_assign`` encodes — n·M rows, no
    shuffle."""
    return v.select(*keys, F.posexplode(_pq_split(F.col(col))).alias("m", "s"))


def _pq_lloyd(sub: DataFrame, k: int = PQ_K):
    """Shared PQ codebook fit over a (vec_id, m, s) subvector frame:
    k-means in each of the PQ_M subspaces (deterministic init = the first
    PQ_K vectors' subvectors, PQ_ITERS fixed Lloyd iterations — the
    kmeans_clusters unroll, run over ALL subspaces in ONE pipeline).
    Returns (codebooks(m, cid, ce), codes(vec_id, m, cid, s)). Fed raw
    subvectors by ``_pq_fit_shared`` (flat PQ) and coarse-cell RESIDUAL
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
    """Encode a (…, m, s) subvector frame against an M·K-row
    codebook, as (…, m, cid, s) — the ONE encoding expression shared by the Lloyd fit, the
    streaming IVF-PQ encoder (``ann_pq_incremental.encode_batch``) and,
    term for term, ``_pq_reconstruct_inline``, so a frozen codebook
    encodes a vector to the identical codes the fit assigned.

    Shape (guide §2.4): the per-subspace codewords fold into an M-row
    broadcast of candidate arrays; the argmin is a map-side ``array_min``
    over (d, cid) structs (the lexicographic minimum), so the n·M
    subvector rows never shuffle through a K-fanned exchange."""
    cands = cents.groupBy("m").agg(
        F.collect_list(F.struct(F.col("cid"), F.col("ce"))).alias("_cands")
    )
    return sub.join(F.broadcast(cands), "m").select(
        *[c for c in sub.columns if c not in ("m", "s")],
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
    """Encode + reconstruct a (vec_id, e) frame in ONE map-side pass
    against a broadcast codebook, as (vec_id, e, nrm): per subspace, the
    lexicographic (d, cid)-minimum codeword (the ``_pq_assign`` argmin —
    cid is unique per subspace, so carrying ce never changes the winner),
    concatenated ascending m (the ``_pq_decode`` order). Each subvector
    is sliced once and zipped against its subspace's candidates. The
    arithmetic is term-identical to ``_pq_assign`` + ``_pq_decode``, so
    published ≡ refit; nothing leaves the scan task. An empty codebook
    reconstructs nothing (zero rows), never ``e=[]``."""
    one = _pq_codebook_row(cents).filter(F.size("cb") > 0)

    def winner(mc: Column, s: Column) -> Column:
        return F.array_min(
            F.transform(
                mc["cands"],
                lambda c: F.struct(
                    _sqdist(s, c["ce"]).alias("d"),
                    c["cid"].alias("cid"),
                    c["ce"].alias("ce"),
                ),
            )
        )["ce"]

    return (
        v.crossJoin(F.broadcast(one))
        .select(
            "vec_id",
            F.flatten(F.zip_with("cb", _pq_split(F.col("e")), winner)).alias("e"),
        )
        .withColumn("nrm", _nrm(F.col("e")))
    )


def _pq_decode(
    codes: DataFrame,
    cents: DataFrame,
    keys: Sequence[str] = ("vec_id",),
    out: str = "e",
) -> DataFrame:
    """Decode a (…, m, cid) code frame: broadcast codebook join, then each
    ``keys`` group's codewords concatenated ascending m as ``out`` — the
    one (keys)-keyed shuffle of a PQ reconstruction."""
    return (
        codes.join(F.broadcast(cents), ["m", "cid"])
        .groupBy(*keys)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("m", "ce"))),
                    lambda x: x["ce"],
                )
            ).alias(out)
        )
    )


@shared_fit("pq_flat")
def _pq_fit_shared(spark: SparkSession, sf_dir: str):
    """Flat PQ fit over the raw embedding subvectors (see _pq_lloyd):
    (codebooks, codes), a shared fit of ``knn_pq_adc``, its recall twin,
    and the publish path — one Lloyd fit, every consumer."""
    v = _vectors(spark, sf_dir).select("vec_id", "e")
    return _pq_lloyd(_pq_subvectors(v))


@query
def knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN search (Jégou et al. 2011): every vector
    is a candidate, stored as PQ_M codebook codes (4 × 2 bits vs 64
    doubles); queries stay exact floats and score ``adc_cosine`` against
    the reconstructed vectors, which is exactly asymmetric distance
    computation (the per-subspace lookup-table sum equals the dot product
    against the concatenated codewords). Recall twin: knn_pq_recall."""
    cents, codes = _pq_fit_shared(spark, sf_dir)
    rec = _pq_decode(codes, cents).withColumn("nrm", _nrm(F.col("e")))
    return _pq_adc_topk(spark, sf_dir, rec)


def _pq_adc_topk(
    spark: SparkSession, sf_dir: str, rec: DataFrame
) -> DataFrame:
    """Top-TOP_K per exact-float query by ADC cosine against reconstructed
    vectors (vec_id, e, nrm) — shared by the in-session and
    published-codebook paths."""
    q = _as_queries(_vectors(spark, sf_dir))
    return _knn(rec, q, _others(), TOP_K, score="adc_cosine")


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
    cross-session production form: no Lloyd fit, one corpus scan that
    encodes and reconstructs map-side (``_pq_reconstruct_inline``), then
    the ADC top-k. Fails fast with the store-precondition error when the
    model was never published (``require_store``, same contract as the
    BPE merge table and the IVFPQ store)."""
    from komodo_data_spark.streaming.stores import require_store

    require_store(spark, _pq_codebooks_path(model_path), "flat-PQ codebook")
    cents = read_pq_model(spark, model_path)
    v = _vectors(spark, sf_dir).select("vec_id", "e")
    return _pq_adc_topk(spark, sf_dir, _pq_reconstruct_inline(v, cents))


@query(oracle="knn_pq_adc_oracle")
def knn_pq_published_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing roundtrip of the PUBLISH path: freeze the codebooks
    to a session-scoped store (`publish_pq_model` — tiny parquet write),
    then search THROUGH the store (`knn_pq_apply_published`:
    require_store gate, read, broadcast encode + ADC). The oracle is
    `knn_pq_adc`'s — published ≡ refit is thereby hash-checked in the
    correctness gate itself, not only pinned in pytest (the
    `text_bpe_published_apply` pattern). The store is
    ``session_model_path``'s, overwritten on each publish."""
    model_path = session_model_path(spark, "pq", sf_dir)
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

    def assign(subs: str, cents: str) -> str:
        return f"""
      SELECT s.vec_id, s.m, s.s,
             min([{_sql_sqdist("s.s", "c.ce")}, c.cid::DOUBLE])[2]::BIGINT AS cid
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


def _pq_sql_decode(out: str) -> str:
    """DuckDB twin of ``_pq_decode`` over the ``paf`` codes and the final
    ``pc2`` codebook."""
    return f"""
      SELECT a.vec_id, flatten(list(c.ce ORDER BY a.m)) AS {out}
      FROM paf a JOIN pc2 c ON c.m = a.m AND c.cid = a.cid
      GROUP BY a.vec_id"""


def _pq_cte_prefix() -> str:
    """DuckDB CTE chain for flat PQ: exposes ``v`` (float vectors) and
    ``rec`` (PQ-reconstructed vectors)."""
    return f"""
    WITH {_SQL_V},
    sub AS ({_pq_sql_subvectors("v", "e")}),{_pq_sql_chain()},
    rec AS ({_pq_sql_decode("e")})"""


def knn_pq_adc_oracle() -> str:
    return f"""
    {_pq_cte_prefix()},
    {_SQL_Q},
    {_sql_knn("q", "rec", _SQL_NOT_SELF, TOP_K, "adc_cosine")}
    """


@query
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


def _ivfpq_residuals(assigned: DataFrame, cells: DataFrame) -> DataFrame:
    """(vec_id, cell_id, r): each vector of a (vec_id, cid, e) cell
    assignment minus its cell centroid — the residual the IVF-PQ
    codebooks encode, shared by the batch fit and the streaming encoder
    (``ann_pq_incremental.encode_batch``)."""
    return assigned.join(F.broadcast(cells), "cid").select(
        "vec_id",
        F.col("cid").alias("cell_id"),
        F.zip_with("e", "ce", lambda x, c: x - c).alias("r"),
    )


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
    The shared k-means fit's final assignment IS the coarse quantization
    (same argmin over the same fitted cells), so the corpus argmin is not
    re-run here; the residual explode is map-side and the residual
    codebook rounds inherit ``_pq_lloyd``'s broadcast shape.
    """
    cells, assigned = _kmeans_fit_shared(spark, sf_dir)
    resid = _ivfpq_residuals(assigned, cells)
    cents, codes = _pq_lloyd(_pq_subvectors(resid, "r"), k=IVFPQ_K)
    picked = assigned.select("vec_id", F.col("cid").alias("cell_id"))
    return cells, picked, cents, codes


@shared_fit("ivfpq")
def _ivfpq_fit_shared(spark: SparkSession, sf_dir: str):
    """``_ivfpq_fit`` as a shared fit: ``knn_ivfpq_adc`` and
    ``knn_ivfpq_recall`` consume the SAME index — the in-session form of
    what ``publish_ivfpq_model`` + the PQ store do across sessions."""
    return _ivfpq_fit(spark, sf_dir)


def _ivfpq_knn(
    rr: DataFrame, q: DataFrame, cells: DataFrame, k: int
) -> DataFrame:
    """The IVF-PQ search, shared with the streaming code store
    (``ann_pq_incremental.knn_from_pq_store``): candidates are the members
    of each query's IVF_PROBES nearest coarse cells, ranked by the coarse
    quantizer's own metric (squared Euclidean, ties to the lower cid);
    each candidate is its cell centroid plus its decoded residual ``rr``
    (vec_id, cell_id, rr). ``q`` is (query_id, qe, qnrm), exact floats."""
    rec = (
        rr.join(F.broadcast(cells), F.col("cell_id") == F.col("cid"))
        .select(
            "vec_id",
            "cell_id",
            F.zip_with("ce", "rr", lambda c, r: c + r).alias("e"),
        )
        .withColumn("nrm", _nrm(F.col("e")))
    )
    qd = q.crossJoin(F.broadcast(cells)).withColumn(
        "qd", _sqdist(F.col("qe"), F.col("ce"))
    )
    order = [F.asc("qd"), F.asc("cid")]
    probed = _top_k(qd, "query_id", order, IVF_PROBES, "crnk").select(
        "query_id", "qe", "qnrm", F.col("cid").alias("qcell")
    )
    on = _others(F.col("cell_id") == F.col("qcell"))
    return _knn(rec, probed, on, k, score="adc_cosine")


@query
def knn_ivfpq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN search, the composed index FAISS ships as IndexIVFPQ:
    the inverted lists bound WHICH vectors are scored (the members of the
    query's IVF_PROBES nearest k-means cells, an equi-join on cell_id) and
    the residual codes bound WHAT is read per candidate (PQ_M codes, not
    the float vector); top-TOP_K by ``adc_cosine``. Recall twin:
    ``knn_ivfpq_recall``."""
    cells, assigned, cents, codes = _ivfpq_fit_shared(spark, sf_dir)
    rr = assigned.join(_pq_decode(codes, cents, out="rr"), "vec_id")
    q = _as_queries(_vectors(spark, sf_dir))
    return _ivfpq_knn(rr, q, cells, TOP_K)


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
    rrec AS ({_pq_sql_decode("rr")}),
    rec AS (
      SELECT r.vec_id, r.cell_id,
             list_transform(range(1, len(c.ce)+1),
                            i -> c.ce[i] + rr.rr[i]) AS e
      FROM rsd r JOIN rrec rr ON rr.vec_id = r.vec_id
      JOIN c2 c ON c.cid = r.cell_id
    )"""


def knn_ivfpq_adc_oracle() -> str:
    return f"""
    {_ivfpq_cte_prefix()},
    qc AS (
      SELECT q.vec_id AS query_id, q.e, c.cid AS qcell,
             {_sql_sqdist("q.e", "c.ce")} AS qd
      FROM v q CROSS JOIN c2 c WHERE q.vec_id < {N_QUERIES}
    ),
    q AS ({_sql_top_k("qc", "query_id", "qd ASC, qcell ASC", IVF_PROBES, "crnk")}),
    {_sql_knn("q", "rec", _SQL_SAME_CELL, TOP_K, "adc_cosine")}
    """


@query
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


@query
def embeddings_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-TOP_K most-similar vectors under a DIFFERENT label for each
    query vector — hard-negative mining for contrastive training: the
    negatives worth training on are the ones the embedding space already
    confuses with the anchor, i.e. the highest-cosine cross-label
    neighbours. The label rule is the join condition, so same-label pairs
    are dropped before any scoring. Output (query_id, query_label,
    neighbor_id, neighbor_label, cosine, rnk)."""
    labels = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").alias("neighbor_label")
    )
    v = _vectors(spark, sf_dir).join(labels, "vec_id")
    q = _as_queries(v, F.col("neighbor_label").alias("query_label"))
    cols = ("query_id", "query_label", "neighbor_id", "neighbor_label")
    on = F.col("neighbor_label") != F.col("query_label")
    return _knn(v, q, on, TOP_K, cols=cols)


def embeddings_hard_negatives_oracle() -> str:
    cols = ("query_id", "query_label", "neighbor_id", "neighbor_label")
    return f"""
    WITH v AS (
      SELECT vec_id, label AS neighbor_label, embedding::DOUBLE[] AS e
      FROM embeddings
    ),
    q AS (
      SELECT vec_id AS query_id, neighbor_label AS query_label, e
      FROM v WHERE vec_id < {N_QUERIES}
    ),
    {_sql_knn("q", "v", "v.neighbor_label <> q.query_label", TOP_K, cols=cols)}
    """


# --------------------------------------------------------------------------
# dominant principal component (fixed-round power iteration)
# --------------------------------------------------------------------------

POWER_ITERS = 5


@query
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
