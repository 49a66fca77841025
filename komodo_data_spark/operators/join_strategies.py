"""Join-strategy operators: skew salting and null-aware anti join.

The reference executes every join single-node in MySQL (SURVEY.md §2.3), so
strategy never matters there; on a 1000-executor cluster it decides whether
a query finishes. This module ships the two strategies Catalyst does NOT
apply automatically:

- ``orders_customer_join_salted`` — explicit key salting for skewed
  shuffle joins. AQE's skew-join split only kicks in for sort-merge joins
  at stage boundaries it can observe; salting is the portable fallback
  (and the only option for skewed *aggregation* keys feeding a join).
- ``customers_no_f_orders_notin`` — SQL ``NOT IN`` with its null-aware
  three-valued semantics (one NULL in the subquery => empty result), which
  a plain left-anti join silently gets wrong. Spark plans the single-column
  case as a broadcast null-aware anti join (NAAJ), not a nested loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from komodo_data_spark.registry import query
from komodo_data_spark.sources.tables import load_table

#: Salt fan-out: the hottest key splits across this many shuffle tasks.
N_SALTS = 8

#: Demo bound for the fuzzy name join (see its docstring).
FUZZY_MAX_CUSTKEY = 3000


@query
def orders_customer_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders⋈customer revenue per nation with an 8-way salted join.

    Probe side (orders — the big/skewed side at scale) gets a deterministic
    salt from pmod(xxhash64(o_orderkey), 8); build side replicates each row
    into all 8 salts map-side (explode of a literal range — no shuffle). The
    join key becomes (custkey, salt), so one hot customer's rows spread over
    8 tasks instead of one straggler. The merge hint pins a shuffle join —
    broadcasting would defeat the demonstration (and at 100 TB the dim side
    of a genuinely skewed join is too big to broadcast anyway). Semantics
    are oracle-checked equal to the plain join.
    """
    o = load_table(spark, sf_dir, "orders").withColumn(
        "salt", F.pmod(F.xxhash64("o_orderkey"), F.lit(N_SALTS)).cast("int")
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(N_SALTS - 1))))
    )
    return (
        o.hint("merge")
        .join(c, (o["o_custkey"] == c["c_custkey"]) & (o["salt"] == c["salt"]))
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


def orders_customer_join_salted_oracle() -> str:
    return """
    SELECT c.c_nationkey, count(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey
    """


@query
def customers_no_f_orders_notin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no 'F'-status order, phrased as NOT IN so Spark's
    null-aware anti join carries the three-valued logic: if any subquery
    o_custkey were NULL the result must be empty (pinned on a synthetic
    frame in tests/test_join_strategies.py). Physical plan is a broadcast
    NAAJ — one broadcast of the distinct build keys, zero shuffles of the
    probe side."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("naaj_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("naaj_orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM naaj_customer
        WHERE c_custkey NOT IN (
          SELECT o_custkey FROM naaj_orders WHERE o_orderstatus = 'F'
        )
        """
    )


def customers_no_f_orders_notin_oracle() -> str:
    return """
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey NOT IN (
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    """


@query
def nation_top2_customers_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 customers by account balance per nation via a correlated
    LATERAL subquery (SQL:1999) — the for-each-row-run-a-query surface.

    Catalyst decorrelates the LATERAL (DomainJoin rewrite) into the same
    ranked-window shape as top_customers_per_nation rather than executing
    |nation| probe queries — the point of pairing these two: identical
    semantics through the declarative window AND the correlated-subquery
    syntax, one physical plan. Ties break on c_custkey for determinism.
    """
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("lat_nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("lat_customer")
    return spark.sql(
        """
        SELECT n.n_nationkey, n.n_name, x.c_custkey, x.c_acctbal
        FROM lat_nation n,
        LATERAL (
          SELECT c_custkey, c_acctbal FROM lat_customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 2
        ) x
        """
    )


def nation_top2_customers_lateral_oracle() -> str:
    return """
    SELECT n.n_nationkey, n.n_name, x.c_custkey, x.c_acctbal
    FROM nation n,
    LATERAL (
      SELECT c_custkey, c_acctbal FROM customer c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey LIMIT 2
    ) x
    """


@query
def customers_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-join: customer pairs whose names are within edit distance
    1, by DELETION-NEIGHBORHOOD candidate generation — the sub-quadratic
    fuzzy-join strategy (entity resolution / record linkage at corpus
    scale).

    Key fact: edit(s,t) <= 1 implies K(s) ∩ K(t) != ∅ where K(x) = {x} ∪
    {x minus one char} — equality shares x itself, substitution shares the
    common deletion, insert/delete shares the shorter string. So candidates
    come from ONE equi-join on the exploded variant key (|s|+1 keys per
    row, bucket occupancy bounded by alphabet size at the deleted
    position), and the exact levenshtein predicate is a cheap residual
    verify on candidates only — never evaluated over the n² cross product
    the naive form (and the DuckDB oracle, as the labeled baseline) pays.
    Variants are pure Catalyst (sequence + transform + substr): no UDFs.

    Bounded to FUZZY_MAX_CUSTKEY keys: TPC-H names are serial numbers, so
    virtually every pair is within edit distance 2 of another — at sf0.1
    the TRUE match set alone is ~260k pairs, a density no real entity
    corpus has. The bound keeps the demo's verify/result volume sane while
    the plan (explode → bucket equi-join → residual verify) is exactly the
    production shape; drop the filter for a real corpus.
    """
    d = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name")
        .filter(F.col("c_custkey") <= FUZZY_MAX_CUSTKEY)
    )
    variants = d.select(
        "c_custkey",
        "c_name",
        F.explode(
            F.array_distinct(
                F.concat(
                    F.array(F.col("c_name")),
                    F.transform(
                        F.sequence(F.lit(1), F.length("c_name")),
                        lambda i: F.concat(
                            F.substr("c_name", F.lit(1), i - F.lit(1)),
                            F.substr("c_name", i + F.lit(1), F.length("c_name")),
                        ),
                    ),
                )
            )
        ).alias("k"),
    )
    a, b = variants.alias("a"), variants.alias("b")
    return (
        a.join(b, "k")
        .filter(F.col("a.c_custkey") < F.col("b.c_custkey"))
        .select(
            F.col("a.c_custkey").alias("custkey_i"),
            F.col("b.c_custkey").alias("custkey_j"),
            F.col("a.c_name").alias("name_i"),
            F.col("b.c_name").alias("name_j"),
        )
        .distinct()
        .withColumn("dist", F.levenshtein("name_i", "name_j"))
        .filter(F.col("dist") <= 1)
        .orderBy("custkey_i", "custkey_j")
    )


def customers_fuzzy_name_pairs_oracle() -> str:
    # the labeled O(n²) baseline the candidate join must reproduce exactly
    return f"""
    SELECT a.c_custkey AS custkey_i, b.c_custkey AS custkey_j,
           a.c_name AS name_i, b.c_name AS name_j,
           levenshtein(a.c_name, b.c_name) AS dist
    FROM customer a JOIN customer b
      ON a.c_custkey < b.c_custkey
     AND levenshtein(a.c_name, b.c_name) <= 1
    WHERE a.c_custkey <= {FUZZY_MAX_CUSTKEY}
      AND b.c_custkey <= {FUZZY_MAX_CUSTKEY}
    ORDER BY custkey_i, custkey_j
    """
