"""Graph operators over the copresence graph (users co-present in the same
second with nearby values — events_analytics.copresence_pairs' predicate).

Engine-completeness additions (SURVEY §2.12): a training-data/analytics
engine needs the standard graph trio — connected components (in
pipeline_ops.dedup_clusters), triangle counting, and PageRank — expressed
as DataFrame joins/aggregates, not a graph library.

Scale notes (100 TB):
- Triangle counting joins only edges with BOTH endpoints ordered (u < v <
  w), the classic orientation trick that caps the join fan-out at
  Σ deg(v)² over the *lower-degree* endpoint; for power-law graphs,
  orient by (degree, id) instead of raw id to shrink the hot side further.
- PageRank here is a FIXED 3-iteration unroll: each iteration is one
  shuffle (join contributions on dst + aggregate). Fixed unrolling keeps
  the op oracle-expressible; production convergence loops add
  localCheckpoint per round exactly like dedup_clusters' propagation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from komodo_data_spark.operators.events_analytics import (
    copresence_pairs,
    copresence_pairs_oracle,
)
from komodo_data_spark.operators.model_memo import shared_fit
from komodo_data_spark.registry import query

PAGERANK_ITERS = 3
PAGERANK_D = 0.85


@shared_fit("user_edges")
def _user_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected co-presence edges, normalized to u < v.

    A shared fit: SIX graph operators (components, pagerank,
    reachability, triangles, k-core, LPA) consume the same pairs-sized
    edge list, each from several plan branches (symmetric union, 3-way
    triangle join, per-iteration rank joins)."""
    return (
        copresence_pairs(spark, sf_dir)
        .select(
            F.least("user_i", "user_j").alias("u"),
            F.greatest("user_i", "user_j").alias("v"),
        )
        .distinct()
    )


def _sql_user_edges() -> str:
    return f"""
    SELECT DISTINCT least(user_i, user_j) AS u, greatest(user_i, user_j) AS v
    FROM ({copresence_pairs_oracle()}) cp
    """


@query
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count per user over the copresence graph, plus the user's
    degree — the local clustering numerator/denominator.

    Ordered-orientation join: edges kept as u < v, triangles found as
    (a<b) ⋈ (b<c) ⋈ (a<c) — each triangle discovered exactly once, and
    every join is an equi-join on one endpoint.
    """
    e = _user_edges(spark, sf_dir)
    tri = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.v") == F.col("e2.u"))
        .join(
            e.alias("e3"),
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("a"), F.col("e1.v").alias("b"), F.col("e2.v").alias("c")
        )
    )
    per_user = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("user_id"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    deg = (
        e.select(F.col("u").alias("user_id"))
        .union(e.select(F.col("v").alias("user_id")))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.join(per_user, "user_id", "left").select(
        "user_id",
        "degree",
        F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
    )


def graph_triangles_oracle() -> str:
    return f"""
    WITH e AS ({_sql_user_edges()}),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ), members AS (
      SELECT a AS user_id FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ), per_user AS (
      SELECT user_id, count(*) AS n_triangles FROM members GROUP BY user_id
    ), deg AS (
      SELECT user_id, count(*) AS degree FROM (
        SELECT u AS user_id FROM e UNION ALL SELECT v FROM e
      ) GROUP BY user_id
    )
    SELECT d.user_id, d.degree, coalesce(p.n_triangles, 0) AS n_triangles
    FROM deg d LEFT JOIN per_user p ON p.user_id = d.user_id
    """


@query
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 fixed iterations) over the undirected
    copresence graph; every node has degree ≥ 1 by construction, so there
    is no dangling mass. Each iteration: join ranks to the directed edge
    list on src, aggregate contributions on dst — one shuffle per round.
    """
    e = _user_edges(spark, sf_dir)
    directed = e.select(F.col("u").alias("src"), F.col("v").alias("dst")).union(
        e.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    deg = directed.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    n_nodes = deg.count()
    if n_nodes == 0:
        # Tiny scale factors can yield no copresence edges at all; the
        # oracle's CTE chain is empty too, so an empty typed frame matches.
        return spark.createDataFrame([], "user_id long, pr double")
    ranks = deg.select(
        F.col("src").alias("user_id"), F.lit(1.0 / n_nodes).alias("pr")
    )
    for _ in range(PAGERANK_ITERS):
        contribs = (
            directed.join(ranks, directed.src == ranks.user_id)
            .join(deg, "src")
            .select("dst", (F.col("pr") / F.col("out_deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = contribs.select(
            F.col("dst").alias("user_id"),
            (
                F.lit((1.0 - PAGERANK_D) / n_nodes)
                + F.lit(PAGERANK_D) * F.col("in_sum")
            ).alias("pr"),
        )
    return ranks.select("user_id", "pr")


def graph_pagerank_oracle() -> str:
    d = PAGERANK_D
    return f"""
    WITH e AS ({_sql_user_edges()}),
    directed AS (
      SELECT u AS src, v AS dst FROM e
      UNION ALL SELECT v, u FROM e
    ), deg AS (
      SELECT src, count(*) AS out_deg FROM directed GROUP BY src
    ), n AS (SELECT count(*) AS n_nodes FROM deg),
    pr0 AS (SELECT src AS user_id, 1.0::DOUBLE / n_nodes AS pr FROM deg, n),
    it1 AS (
      SELECT dd.dst AS user_id,
             CAST(1.0 - {d} AS DOUBLE) / any_value(n.n_nodes)
               + CAST({d} AS DOUBLE) * sum(p.pr / g.out_deg) AS pr
      FROM directed dd
      JOIN pr0 p ON p.user_id = dd.src
      JOIN deg g ON g.src = dd.src
      CROSS JOIN n
      GROUP BY dd.dst
    ), it2 AS (
      SELECT dd.dst AS user_id,
             CAST(1.0 - {d} AS DOUBLE) / any_value(n.n_nodes)
               + CAST({d} AS DOUBLE) * sum(p.pr / g.out_deg) AS pr
      FROM directed dd
      JOIN it1 p ON p.user_id = dd.src
      JOIN deg g ON g.src = dd.src
      CROSS JOIN n
      GROUP BY dd.dst
    ), it3 AS (
      SELECT dd.dst AS user_id,
             CAST(1.0 - {d} AS DOUBLE) / any_value(n.n_nodes)
               + CAST({d} AS DOUBLE) * sum(p.pr / g.out_deg) AS pr
      FROM directed dd
      JOIN it2 p ON p.user_id = dd.src
      JOIN deg g ON g.src = dd.src
      CROSS JOIN n
      GROUP BY dd.dst
    )
    SELECT user_id, pr FROM it3
    """


#: Hop bound for the recursive reachability walk (terminates regardless of
#: graph shape; the u < v orientation already rules out cycles).
REACH_MAX_HOPS = 3

_REACH_SQL = f"""
WITH RECURSIVE r(node, hops) AS (
  SELECT u, 0 FROM (SELECT min(u) AS u FROM {{edges}}) s WHERE u IS NOT NULL
  UNION ALL
  SELECT e.v, r.hops + 1
  FROM r JOIN {{edges}} e ON e.u = r.node
  WHERE r.hops < {REACH_MAX_HOPS}
)
SELECT node, min(hops) AS min_hops, count(*) AS n_paths
FROM r GROUP BY node
"""


@query
def graph_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded transitive closure via Spark 4's recursive CTE: nodes within
    REACH_MAX_HOPS of the seed (smallest vertex), with min-hop distance and
    path multiplicity.

    The recursion is the SQL-native sibling of graph_pagerank's unrolled
    iteration: each recursive step is one equi-join of the frontier against
    the edge list (hash-partitioned on the join key — the same shuffle
    shape an unrolled loop would produce), and the hop guard bounds the
    plan depth irrespective of data. Edges keep the u < v orientation, so
    the walk runs on a DAG and path counts stay finite even without the
    guard. Empty graphs (tiny SFs) yield an empty anchor and an empty
    result on both engines — no special-casing.
    """
    _user_edges(spark, sf_dir).createOrReplaceTempView("reach_edges")
    return spark.sql(_REACH_SQL.format(edges="reach_edges"))


def graph_reachability_oracle() -> str:
    inner = _REACH_SQL.format(edges="e").strip()
    assert inner.startswith("WITH RECURSIVE ")
    body = inner[len("WITH RECURSIVE ") :]
    return f"WITH RECURSIVE e AS ({_sql_user_edges()}), {body}"


@query
def graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weakly-connected components of the copresence graph — the
    social/session-cluster view of the same edges the triangle and rank
    operators consume, labeled by the O(log n)-round large-star/small-star
    algorithm (pipeline_ops._cc_star; second domain reuse of the CC
    operator beyond near-dup clustering, proving it is edge-list-generic).
    Output: (user_id, component_id = component-min user, component_size).
    """
    from pyspark.sql import Window

    from komodo_data_spark.operators.pipeline_ops import _cc_star

    edges = _user_edges(spark, sf_dir).select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    )
    labels, _rounds = _cc_star(edges)
    w = Window.partitionBy("component_id")
    return (
        labels.select(
            F.col("node").alias("user_id"), F.col("label").alias("component_id")
        )
        .withColumn("component_size", F.count(F.lit(1)).over(w))
        .orderBy("user_id")
    )


def graph_components_oracle() -> str:
    return f"""
    WITH RECURSIVE
    ue AS ({_sql_user_edges()}),
    edges AS (
      SELECT u AS src, v AS dst FROM ue
      UNION ALL
      SELECT v, u FROM ue
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    walk(node, label) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node
    ),
    lab AS (SELECT node AS user_id, MIN(label) AS component_id
            FROM walk GROUP BY node)
    SELECT user_id, component_id,
           COUNT(*) OVER (PARTITION BY component_id) AS component_size
    FROM lab ORDER BY user_id
    """


KCORE_K = 2
KCORE_ROUNDS = 3


@query
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (k=KCORE_K, KCORE_ROUNDS fixed rounds): repeatedly
    drop nodes whose degree in the SURVIVING subgraph is below k — the
    density filter that separates a cohesive community from chains and
    pendants, which triangle counts alone miss (a long path has triangles
    = 0 but so does a star; only peeling tells them apart). Completes the
    graph depth set: components (membership), pagerank (centrality),
    triangles (local density), k-core (global density).

    Round r: degree over e_{r-1} -> keep nodes with deg >= k -> e_r keeps
    edges with both endpoints surviving. Output: the round-R survivors
    with the qualifying degree d_R (their degree in e_{R-1}).

    Scale: each round is one symmetric-edge aggregate (map-side combined)
    plus two left_semi joins on the shrinking keep set — the same
    verifiable-fixed-unroll pattern as graph_pagerank, one shuffle per
    round on the edge key. localCheckpoint per round truncates the
    O(rounds)-deep lineage exactly like the CC star loop; production runs
    peel to a fixpoint (the per-round frame is strictly shrinking, so the
    loop is safely restartable from any checkpoint).
    """
    e = _user_edges(spark, sf_dir)
    keep = None
    for _ in range(KCORE_ROUNDS):
        sym = e.select(F.col("u").alias("n"), F.col("v").alias("m")).union(
            e.select(F.col("v").alias("n"), F.col("u").alias("m"))
        )
        deg = sym.groupBy("n").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= KCORE_K)
        e = (
            e.join(keep.select(F.col("n").alias("u")), "u", "left_semi")
            .join(keep.select(F.col("n").alias("v")), "v", "left_semi")
            .localCheckpoint(eager=False)
        )
    return keep.select(F.col("n").alias("user_id"), "deg").orderBy("user_id")


def graph_kcore_oracle() -> str:
    k, edges = KCORE_K, _sql_user_edges()
    return f"""
    WITH e0 AS ({edges}),
    d1 AS (
      SELECT a, count(*) AS deg FROM (
        SELECT u AS a FROM e0 UNION ALL SELECT v FROM e0
      ) GROUP BY a
    ),
    k1 AS (SELECT a FROM d1 WHERE deg >= {k}),
    e1 AS (
      SELECT u, v FROM e0
      WHERE u IN (SELECT a FROM k1) AND v IN (SELECT a FROM k1)
    ),
    d2 AS (
      SELECT a, count(*) AS deg FROM (
        SELECT u AS a FROM e1 UNION ALL SELECT v FROM e1
      ) GROUP BY a
    ),
    k2 AS (SELECT a FROM d2 WHERE deg >= {k}),
    e2 AS (
      SELECT u, v FROM e1
      WHERE u IN (SELECT a FROM k2) AND v IN (SELECT a FROM k2)
    ),
    d3 AS (
      SELECT a, count(*) AS deg FROM (
        SELECT u AS a FROM e2 UNION ALL SELECT v FROM e2
      ) GROUP BY a
    )
    SELECT a AS user_id, deg FROM d3 WHERE deg >= {k} ORDER BY user_id
    """


LPA_ROUNDS = 3


@query
def graph_communities_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (LPA) over the copresence graph,
    LPA_ROUNDS fixed rounds — the cheap community detector that groups
    users into interaction circles without the full modularity machinery:
    every node starts as its own label and each round adopts the MODE of
    its neighbors' labels (ties -> smallest label, so the update is a
    deterministic function of the round's input and the oracle can replay
    it exactly). Fixed unrolling keeps the op SQL-expressible, same rule
    as ``graph_pagerank``/``graph_kcore``.

    Scale design: one shuffle join + one aggregate per round, all keyed by
    node id — the same shape large-star/small-star uses in
    ``dedup_clusters_star``. The mode is computed as max_by over
    (count, -label) struct ordering, a partial-aggregatable single pass —
    no per-node window, no sort. Labels frame is localCheckpointed each
    round so the 3-round lineage stays flat (the ``kmeans_clusters``
    precedent). Output: each surviving label's members with the community
    size, ORDER-independent and stable under retries.
    """
    e = _user_edges(spark, sf_dir)
    sym = e.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
        e.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    labels = sym.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(LPA_ROUNDS):
        nbr = sym.join(
            labels.withColumnRenamed("node", "b"), "b"
        ).select(F.col("a").alias("node"), "lbl")
        cnt = nbr.groupBy("node", "lbl").agg(F.count(F.lit(1)).alias("c"))
        labels = (
            cnt.groupBy("node")
            .agg(
                F.max_by(
                    "lbl", F.struct(F.col("c"), (-F.col("lbl")).alias("nl"))
                ).alias("lbl")
            )
            .localCheckpoint(eager=True)
        )
    w = Window.partitionBy("lbl")
    return labels.select(
        F.col("node").alias("user_id"),
        F.col("lbl").alias("community"),
        F.count(F.lit(1)).over(w).alias("community_size"),
    )


def graph_communities_lpa_oracle() -> str:
    rounds = []
    prev = "l0"
    for r in range(1, LPA_ROUNDS + 1):
        rounds.append(
            f"""
    c{r} AS (
      SELECT s.a AS node, {prev}.lbl, count(*) AS c
      FROM sym s JOIN {prev} ON {prev}.node = s.b
      GROUP BY 1, 2
    ),
    l{r} AS (
      SELECT node, lbl FROM (
        SELECT node, lbl, row_number() OVER (
          PARTITION BY node ORDER BY c DESC, lbl ASC
        ) AS rn FROM c{r}
      ) WHERE rn = 1
    )"""
        )
        prev = f"l{r}"
    return f"""
    WITH ue AS ({_sql_user_edges()}),
    sym AS (
      SELECT u AS a, v AS b FROM ue
      UNION ALL
      SELECT v, u FROM ue
    ),
    l0 AS (SELECT DISTINCT a AS node, a AS lbl FROM sym),{','.join(rounds)}
    SELECT node AS user_id, lbl AS community,
           COUNT(*) OVER (PARTITION BY lbl) AS community_size
    FROM {prev}
    """
