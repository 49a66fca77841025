"""Extended TPC-H query-shape pack (the 17 shapes not yet in relational.py).

The driver's tables are a *reduced* TPC-H (no partsupp, no commit/receipt
dates, no phone/container/comment columns — TESTDATA.md), so each query
keeps the canonical TPC-H *operator shape* (correlated scalar subquery,
EXISTS / NOT EXISTS, scalar-aggregate gate, disjunctive predicate push,
outer-join histogram, …) re-parameterized onto the available columns.
Docstrings note the adaptation. Reference parity note: the reference
(gelic-idealab/komodo-data process.py) has no joins at all — this pack,
like relational.py, supplies the engine-completeness surface committed in
SURVEY.md §2.3/§2.4/§2.7.

Spark-first design rules (same as relational.py):
- correlated scalar subqueries → window aggregates over the same partition
  key (one shuffle, no join) or broadcast scalar cross-joins;
- EXISTS / NOT IN → left_semi / left_anti joins (never a collect);
- boundary-sensitive comparisons (x > k·avg(x)) are restated multiplicatively
  in exact DECIMAL on BOTH engines (5·x·n > k·n·avg ≡ 5·x·n > k·sum) so no
  float rounding can flip a row across the gate;
- money aggregates run in DECIMAL(20,4), cast to double only at the output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from komodo_data_spark.operators.quantiles import prefix_scan
from komodo_data_spark.operators.relational import _dbl, dec
from komodo_data_spark.registry import query
from komodo_data_spark.sources.tables import load_table

_D1 = "CAST(1 AS DECIMAL(20,4))"
_REV = f"CAST(l_extendedprice AS DECIMAL(20,4)) * ({_D1} - CAST(l_discount AS DECIMAL(20,4)))"


def _rev_col():
    return dec("l_extendedprice") * (F.lit(1).cast("decimal(20,4)") - dec("l_discount"))


# --------------------------------------------------------------------------
# Q2 shape: correlated MIN subquery (min-cost supplier per part)
# --------------------------------------------------------------------------


@query(oracle="q2_oracle")
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per-part correlated MIN, pick the argmin suppliers.

    Adaptation: no partsupp/ps_supplycost — "cost" is the minimum
    l_extendedprice any supplier charged for the part; parts restricted to
    p_type='LARGE', p_size<=10, suppliers to region EUROPE. The correlated
    ``price = (SELECT min(price) …)`` becomes a window MIN over p_partkey:
    one hash shuffle, no self-join, no driver round-trip — the idiomatic
    Spark rewrite that scales to 100 TB (the subquery form would re-scan).
    """
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") <= 10)
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    l = load_table(spark, sf_dir, "lineitem")

    eu_sup = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    offers = (
        l.join(F.broadcast(p.select("p_partkey")), l.l_partkey == p.p_partkey)
        .join(F.broadcast(eu_sup), l.l_suppkey == eu_sup.s_suppkey)
        .select("p_partkey", "s_suppkey", "s_name", "s_acctbal", "n_name", "l_extendedprice")
    )
    w = Window.partitionBy("p_partkey")
    return (
        offers.withColumn("min_price", F.min("l_extendedprice").over(w))
        .filter(F.col("l_extendedprice") == F.col("min_price"))
        .select("p_partkey", "s_name", "n_name", "s_acctbal", "min_price")
        .distinct()
        .orderBy(F.desc("s_acctbal"), "p_partkey", "s_name")
    )


def q2_oracle() -> str:
    return """
    SELECT DISTINCT p_partkey, s_name, n_name, s_acctbal, min_price
    FROM (
      SELECT p_partkey, s_name, n_name, s_acctbal, l_extendedprice,
             MIN(l_extendedprice) OVER (PARTITION BY p_partkey) AS min_price
      FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
      WHERE p_type = 'LARGE' AND p_size <= 10 AND r_name = 'EUROPE'
    )
    WHERE l_extendedprice = min_price
    ORDER BY s_acctbal DESC, p_partkey, s_name
    """


# --------------------------------------------------------------------------
# Q4 shape: EXISTS semi-join + count by priority
# --------------------------------------------------------------------------


@query(oracle="q4_oracle")
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS(lineitem …) → left_semi join, count by priority.

    Adaptation: no l_commitdate/l_receiptdate — the EXISTS predicate is
    "some line shipped more than 30 days after the order date" instead of
    "receipt after commit". Semi-join carries only l_orderkey → minimal
    shuffle payload; the quarter filter pushes to the orders scan.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-07-01") & (F.col("o_orderdate") < "1997-10-01")
    )
    l = load_table(spark, sf_dir, "lineitem")
    late = (
        l.join(o.select("o_orderkey", "o_orderdate"), l.l_orderkey == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .select("l_orderkey")
    )
    return (
        o.join(late, o.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q4_oracle() -> str:
    return """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-07-01' AND o_orderdate < TIMESTAMP '1997-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """


# --------------------------------------------------------------------------
# Q7 shape: bilateral volume between two nations by year
# --------------------------------------------------------------------------


@query(oracle="q7_oracle")
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: revenue flows between two nations (supplier↔customer), by
    ship year. Both nation dims broadcast; the symmetric pair predicate is a
    single disjunction evaluated after the joins (Catalyst pushes the
    per-side nation filters into the broadcast hash joins).
    """
    n1, n2 = "NATION_1", "NATION_2"
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    n_s = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n_c = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") <= "1998-12-31")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n_s), s.s_nationkey == F.col("sn_key"))
        .join(F.broadcast(n_c), c.c_nationkey == F.col("cn_key"))
        .filter(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(_dbl(F.sum(_rev_col())).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q7_oracle() -> str:
    return f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
           CAST(SUM({_REV}) AS DOUBLE) AS revenue
    FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01' AND TIMESTAMP '1998-12-31'
      AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """


# --------------------------------------------------------------------------
# Q8 shape: market share (conditional-sum ratio per year)
# --------------------------------------------------------------------------


@query(oracle="q8_oracle")
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one nation's share of PROMO-part revenue into region ASIA,
    per order year. The share is a conditional-sum / total-sum ratio — both
    sums run in DECIMAL in one aggregate pass; the divide happens once per
    output row in double (gate rounds to 9 significant digits).
    """
    target = "NATION_3"
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") <= "1997-12-31")
    )
    s = load_table(spark, sf_dir, "supplier")
    n_c = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    n_s = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    l = load_table(spark, sf_dir, "lineitem")
    vol = _rev_col()
    return (
        l.join(F.broadcast(p.select("p_partkey")), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n_c), c.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == r.r_regionkey)
        .join(F.broadcast(n_s), s.s_nationkey == F.col("sn_key"))
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy("o_year")
        .agg(
            (
                _dbl(F.sum(F.when(F.col("supp_nation") == target, vol).otherwise(F.lit(0).cast("decimal(20,4)"))))
                / _dbl(F.sum(vol))
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def q8_oracle() -> str:
    return f"""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
           CAST(SUM(CASE WHEN ns.n_name = 'NATION_3' THEN {_REV}
                         ELSE CAST(0 AS DECIMAL(20,4)) END) AS DOUBLE)
             / CAST(SUM({_REV}) AS DOUBLE) AS mkt_share
    FROM lineitem
      JOIN part     ON l_partkey = p_partkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation nc ON c_nationkey = nc.n_nationkey
      JOIN region    ON nc.n_regionkey = r_regionkey
      JOIN nation ns ON s_nationkey = ns.n_nationkey
    WHERE p_type = 'PROMO' AND r_name = 'ASIA'
      AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
    GROUP BY 1 ORDER BY 1
    """


# --------------------------------------------------------------------------
# Q9 shape: profit by nation and year
# --------------------------------------------------------------------------


@query(oracle="q9_oracle")
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9: profit by supplier nation × order year over a part-name
    subset. Adaptation: no ps_supplycost — cost is 0.9·p_retailprice·qty.
    All arithmetic stays DECIMAL through the aggregate.
    """
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("ring"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    amount = _rev_col() - F.lit(0.9).cast("decimal(20,4)") * dec("p_retailprice") * dec("l_quantity")
    return (
        l.join(F.broadcast(p.select("p_partkey", "p_retailprice")), l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(o.select("o_orderkey", "o_orderdate"), l.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"), amount.alias("amount"))
        .groupBy("nation", "o_year")
        .agg(_dbl(F.sum("amount")).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


def q9_oracle() -> str:
    return f"""
    SELECT n_name AS nation,
           CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
           CAST(SUM({_REV} - CAST(0.9 AS DECIMAL(20,4))
                    * CAST(p_retailprice AS DECIMAL(20,4))
                    * CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_profit
    FROM lineitem
      JOIN part     ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%ring%'
    GROUP BY 1, 2 ORDER BY 1, 2 DESC
    """


# --------------------------------------------------------------------------
# Q11 shape: group HAVING sum > fraction-of-global-total (scalar subquery)
# --------------------------------------------------------------------------


@query(oracle="q11_oracle")
def q11_important_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-supplier revenue exceeding a fixed fraction of
    the global total. Adaptation: no partsupp — "stock value" is lineitem
    revenue per supplier within one nation's supplier set.

    The global total is a one-row aggregate broadcast-cross-joined onto the
    per-supplier aggregate (never collected to the driver); the gate
    comparison is exact: DECIMAL sum > DECIMAL total × DECIMAL 0.001.
    """
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name").isin("NATION_5", "NATION_6", "NATION_7"))
    l = load_table(spark, sf_dir, "lineitem")
    base = l.join(
        F.broadcast(s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select("s_suppkey")),
        l.l_suppkey == F.col("s_suppkey"),
    ).select("s_suppkey", _rev_col().alias("rev"))
    per_supp = base.groupBy("s_suppkey").agg(F.sum("rev").alias("value_dec"))
    total = base.agg(F.sum("rev").alias("total_dec"))
    return (
        per_supp.crossJoin(F.broadcast(total))
        .filter(F.col("value_dec") > F.col("total_dec") * F.lit(0.02).cast("decimal(10,6)"))
        .select("s_suppkey", _dbl(F.col("value_dec")).alias("value"))
        .orderBy(F.desc("value"), "s_suppkey")
    )


def q11_oracle() -> str:
    return f"""
    WITH base AS (
      SELECT l_suppkey AS s_suppkey, {_REV} AS rev
      FROM lineitem
      WHERE l_suppkey IN (
        SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name IN ('NATION_5','NATION_6','NATION_7'))
    )
    SELECT s_suppkey, CAST(SUM(rev) AS DOUBLE) AS value
    FROM base
    GROUP BY s_suppkey
    HAVING SUM(rev) > (SELECT SUM(rev) FROM base) * CAST(0.02 AS DECIMAL(10,6))
    ORDER BY value DESC, s_suppkey
    """


# --------------------------------------------------------------------------
# Q12 shape: CASE-conditional counts after a join filter
# --------------------------------------------------------------------------


@query(oracle="q12_oracle")
def q12_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: per-group CASE-sum of high/low order priority.
    Adaptation: no l_shipmode/commitdate — group by l_linestatus over lines
    shipped >60 days after the order date in 1998.
    """
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1998-01-01") & (F.col("l_shipdate") < "1999-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o.select("o_orderkey", "o_orderdate", "o_orderpriority"), l.l_orderkey == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


def q12_oracle() -> str:
    return """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
    GROUP BY l_linestatus ORDER BY l_linestatus
    """


# --------------------------------------------------------------------------
# Q13 shape: filtered LEFT OUTER join + two-level aggregate (histogram)
# --------------------------------------------------------------------------


@query(oracle="q13_oracle")
def q13_customer_order_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of orders-per-customer, keeping 0-order
    customers via a left outer join whose extra ON-predicate (priority <>
    '5-LOW') must NOT be pushed below the join (that would drop customers).
    Two cascaded aggregates; the second input is tiny (one row per count).
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o.select("o_orderkey", "o_custkey", "o_orderpriority"),
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "5-LOW"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q13_oracle() -> str:
    return """
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """


# --------------------------------------------------------------------------
# Q14 shape: conditional-revenue percentage
# --------------------------------------------------------------------------


@query(oracle="q14_oracle")
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: PROMO revenue share in one month. Part side broadcast;
    single aggregate computes both conditional and total DECIMAL sums."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1998-03-01") & (F.col("l_shipdate") < "1998-04-01")
    )
    vol = _rev_col()
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * _dbl(F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0).cast("decimal(20,4)"))))
                / _dbl(F.sum(vol))
            ).alias("promo_revenue")
        )
    )


def q14_oracle() -> str:
    return f"""
    SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_REV}
                              ELSE CAST(0 AS DECIMAL(20,4)) END) AS DOUBLE)
                 / CAST(SUM({_REV}) AS DOUBLE) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1998-03-01' AND l_shipdate < TIMESTAMP '1998-04-01'
    """


# --------------------------------------------------------------------------
# Q15 shape: aggregate view + scalar-MAX equality join (top supplier)
# --------------------------------------------------------------------------


@query(oracle="q15_oracle")
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the maximum quarterly revenue. The
    ``revenue0`` view is one aggregate; the scalar MAX is broadcast and
    matched on exact DECIMAL equality (never a double round-trip), so ties
    and the max row survive engine-portably.
    """
    s = load_table(spark, sf_dir, "supplier")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1998-01-01") & (F.col("l_shipdate") < "1998-04-01")
    )
    revenue0 = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev_col()).alias("total_revenue_dec")
    )
    mx = revenue0.agg(F.max("total_revenue_dec").alias("mx"))
    return (
        revenue0.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue_dec") == F.col("mx"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            _dbl(F.col("total_revenue_dec")).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


def q15_oracle() -> str:
    return f"""
    WITH revenue0 AS (
      SELECT l_suppkey AS supplier_no, SUM({_REV}) AS total_revenue_dec
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1998-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total_revenue_dec AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue0 ON s_suppkey = supplier_no
    WHERE total_revenue_dec = (SELECT MAX(total_revenue_dec) FROM revenue0)
    ORDER BY s_suppkey
    """


# --------------------------------------------------------------------------
# Q16 shape: NOT IN (subquery) → anti-join + count DISTINCT by part attrs
# --------------------------------------------------------------------------


@query(oracle="q16_oracle")
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct suppliers per (brand, type, size), with a
    NOT IN supplier exclusion. Adaptation: no partsupp — supplier↔part pairs
    come from lineitem; the excluded set is suppliers with negative acctbal
    (stand-in for the 'Customer Complaints' LIKE filter). NOT IN → left_anti
    (exclusion set is tiny → broadcast anti-join, no shuffle).
    """
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34))
    )
    s_bad = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    l = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        l.join(F.broadcast(p.select("p_partkey", "p_brand", "p_type", "p_size")), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s_bad), l.l_suppkey == s_bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


def q16_oracle() -> str:
    return """
    SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1' AND p_size IN (1,4,9,14,19,24,29,34)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """


# --------------------------------------------------------------------------
# Q17 shape: correlated AVG subquery (small-quantity outliers)
# --------------------------------------------------------------------------


@query(oracle="q17_oracle")
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue from lines with quantity below 20% of the part's
    average. The correlated ``(SELECT 0.2*avg(l_quantity) …)`` becomes a
    window SUM/COUNT over l_partkey, and the comparison is restated
    multiplicatively in DECIMAL — ``5·qty·n < sum_qty`` ≡ ``qty < 0.2·avg``
    — so no double division can flip a boundary row on either engine.
    """
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#5").select("p_partkey")
    l = load_table(spark, sf_dir, "lineitem")
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    w = Window.partitionBy("l_partkey")
    return (
        j.withColumn("sum_qty", F.sum(dec("l_quantity")).over(w))
        .withColumn("n_qty", F.count(F.lit(1)).over(w))
        .filter(F.lit(5).cast("decimal(20,4)") * dec("l_quantity") * F.col("n_qty") < F.col("sum_qty"))
        .agg((_dbl(F.sum(dec("l_extendedprice"))) / F.lit(7.0)).alias("avg_yearly"))
    )


def q17_oracle() -> str:
    return """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE) / 7.0 AS avg_yearly
    FROM (
      SELECT l_extendedprice, l_quantity,
             SUM(CAST(l_quantity AS DECIMAL(20,4))) OVER (PARTITION BY l_partkey) AS sum_qty,
             COUNT(*) OVER (PARTITION BY l_partkey) AS n_qty
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_brand = 'Brand#5'
    )
    WHERE CAST(5 AS DECIMAL(20,4)) * CAST(l_quantity AS DECIMAL(20,4)) * n_qty < sum_qty
    """


# --------------------------------------------------------------------------
# Q18 shape: IN (GROUP BY … HAVING) gate + re-join (large-volume customers)
# --------------------------------------------------------------------------


@query(oracle="q18_oracle")
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: orders whose total quantity exceeds 200. The HAVING gate
    runs once on lineitem (map-side partial agg), and the surviving ~1% of
    orderkeys semi-join back — at 100 TB the gate output is small enough to
    broadcast, which AQE does at runtime.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("sum_qty_dec"))
        .filter(F.col("sum_qty_dec") > F.lit(200).cast("decimal(20,4)"))
        .select("l_orderkey", _dbl(F.col("sum_qty_dec")).alias("total_qty"))
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
    )


def q18_oracle() -> str:
    return """
    SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o_totalprice,
           CAST(sum_qty_dec AS DOUBLE) AS total_qty
    FROM (
      SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(20,4))) AS sum_qty_dec
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(20,4))) > 200
    )
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    """


# --------------------------------------------------------------------------
# Q19 shape: disjunction of conjunctive band predicates (OR-of-ANDs)
# --------------------------------------------------------------------------


@query(oracle="q19_oracle")
def q19_banded_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: revenue under an OR of three (brand, size-band, qty-band)
    conjunctions. The common join key + per-band residual predicate is the
    shape Catalyst splits into a pushed common filter (p_size >= 1 here)
    plus a post-join disjunction.
    """
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    l = load_table(spark, sf_dir, "lineitem")
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    band = (
        ((F.col("p_brand") == "Brand#5") & F.col("p_size").between(1, 5) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 10) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#21") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(20, 30))
    )
    return j.filter(band).agg(_dbl(F.sum(_rev_col())).alias("revenue"))


def q19_oracle() -> str:
    return f"""
    SELECT CAST(SUM({_REV}) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#5'  AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1  AND 11)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#21' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
    """


# --------------------------------------------------------------------------
# Q20 shape: nested aggregates at two granularities + semi-join
# --------------------------------------------------------------------------


@query(oracle="q20_oracle")
def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers qualified by a nested quantity aggregate.
    Adaptation: no partsupp/availqty — a supplier qualifies if for some
    PROMO part it shipped more than 1/8 of that part's total shipped
    quantity (per-(part,supplier) agg vs per-part agg, exact DECIMAL
    comparison), then semi-join to suppliers of one nation band.
    """
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name").isin("NATION_10", "NATION_11", "NATION_12"))
    l = load_table(spark, sf_dir, "lineitem")
    promo_lines = l.join(F.broadcast(p), l.l_partkey == p.p_partkey).select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    pair = promo_lines.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(dec("l_quantity")).alias("pair_qty")
    )
    per_part = promo_lines.groupBy("l_partkey").agg(F.sum(dec("l_quantity")).alias("part_qty"))
    dominant = (
        pair.join(per_part, "l_partkey")
        .filter(F.lit(8).cast("decimal(20,4)") * F.col("pair_qty") > F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(dominant, s.s_suppkey == dominant.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    )


def q20_oracle() -> str:
    return """
    SELECT s_suppkey, s_name, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name IN ('NATION_10','NATION_11','NATION_12')
      AND s_suppkey IN (
        SELECT l_suppkey FROM (
          SELECT l_partkey, l_suppkey,
                 SUM(CAST(l_quantity AS DECIMAL(20,4))) AS pair_qty,
                 SUM(SUM(CAST(l_quantity AS DECIMAL(20,4)))) OVER (PARTITION BY l_partkey) AS part_qty
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_type = 'PROMO'
          GROUP BY l_partkey, l_suppkey
        ) WHERE CAST(8 AS DECIMAL(20,4)) * pair_qty > part_qty
      )
    ORDER BY s_suppkey
    """


# --------------------------------------------------------------------------
# Q21 shape: EXISTS + NOT EXISTS self-joins (sole late supplier per order)
# --------------------------------------------------------------------------


@query(oracle="q21_oracle")
def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the ONLY late supplier on a
    multi-supplier order. Adaptation: 'late' is l_shipdate > o_orderdate +
    80 days (no receipt/commit dates). The EXISTS(other supplier) / NOT
    EXISTS(other late supplier) pair collapses into one per-order aggregate
    — countDistinct(supplier) vs countDistinct(late supplier) — a single
    shuffle instead of two self-joins; semantics are identical and it
    scales linearly.
    """
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name").isin("NATION_20", "NATION_21"))
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l = load_table(spark, sf_dir, "lineitem")
    j = l.join(o.select("o_orderkey", "o_orderdate"), l.l_orderkey == F.col("o_orderkey")).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 80 DAYS")).alias("is_late"),
    )
    per_order = j.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias("n_late"),
    )
    sole_late = (
        j.filter(F.col("is_late"))
        .join(per_order.filter((F.col("n_supp") > 1) & (F.col("n_late") == 1)), "l_orderkey", "left_semi")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    return (
        sole_late.join(s, sole_late.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


def q21_oracle() -> str:
    return """
    WITH j AS (
      SELECT l_orderkey, l_suppkey,
             l_shipdate > o_orderdate + INTERVAL 80 DAY AS is_late
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'
    ), per_order AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) AS n_supp,
             COUNT(DISTINCT CASE WHEN is_late THEN l_suppkey END) AS n_late
      FROM j GROUP BY l_orderkey
    ), sole_late AS (
      SELECT DISTINCT j.l_orderkey, j.l_suppkey
      FROM j JOIN per_order ON j.l_orderkey = per_order.l_orderkey
      WHERE j.is_late AND n_supp > 1 AND n_late = 1
    )
    SELECT s_name, count(*) AS numwait
    FROM sole_late
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
    WHERE n_name IN ('NATION_20','NATION_21')
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    """


# --------------------------------------------------------------------------
# Q22 shape: global-average scalar gate + anti-join (dormant rich customers)
# --------------------------------------------------------------------------


@query(oracle="q22_oracle")
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average balance and no RECENT
    orders, grouped by nation band. Adaptation: no c_phone — the 'country
    code' grouping is c_nationkey restricted to a 7-nation band, and since
    every customer in the testdata has at least one lifetime order,
    'dormant' is NOT EXISTS(order since 2000-01-01) — same anti-join shape.
    The global-AVG gate is restated multiplicatively in DECIMAL
    (bal·n > sum) and the scalar broadcast; NOT EXISTS → left_anti join.
    """
    bands = [2, 5, 8, 11, 14, 17, 20]
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_nationkey").isin(bands))
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("date"))
        .select("o_custkey")
    )
    pos = c.filter(F.col("c_acctbal") > 0.0)
    gate = pos.agg(
        F.sum(dec("c_acctbal")).alias("sum_bal"), F.count(F.lit(1)).alias("n_bal")
    )
    return (
        c.crossJoin(F.broadcast(gate))
        .filter(dec("c_acctbal") * F.col("n_bal") > F.col("sum_bal"))
        .join(o, F.col("c_custkey") == o.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntry"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dbl(F.sum(dec("c_acctbal"))).alias("totacctbal"),
        )
        .orderBy("cntry")
    )


def q22_oracle() -> str:
    return """
    WITH band AS (
      SELECT * FROM customer WHERE c_nationkey IN (2,5,8,11,14,17,20)
    ), gate AS (
      SELECT SUM(CAST(c_acctbal AS DECIMAL(20,4))) AS sum_bal, COUNT(*) AS n_bal
      FROM band WHERE c_acctbal > 0.0
    )
    SELECT c_nationkey AS cntry, count(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(20,4))) AS DOUBLE) AS totacctbal
    FROM band, gate
    WHERE CAST(c_acctbal AS DECIMAL(20,4)) * n_bal > sum_bal
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= DATE '2000-01-01')
    GROUP BY c_nationkey
    ORDER BY cntry
    """


# --------------------------------------------------------------------------
# skyline (Pareto front) — the classic "not dominated by anyone" operator
# --------------------------------------------------------------------------

#: Bucket width over the price axis for the bucketed prefix min. The gate
#: data's price domain is bounded ([900, 1000)); at an unbounded domain
#: swap fixed-width buckets for approx-quantile boundaries (the
#: ``events_ks_test`` note) — same plan, still no global sort.
SKYLINE_BUCKET_WIDTH = 10.0


@query
def part_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-optimal parts minimizing (p_retailprice, p_size) — the
    skyline operator from the OLAP literature (Börzsönyi et al.'s
    SKYLINE OF clause), which no SQL engine ships natively: a part
    survives iff no other part is <= on both axes and < on at least one.

    The naive form is an O(n²) anti-self-join. The 2-D skyline admits an
    exact distributed plan with NO pairwise work: sorted by price, a
    point survives iff the strict-prefix minimum of size never reaches
    its own size class — so the whole operator reduces to (1) a hash
    aggregate to per-price minima, (2) the strict-before prefix minimum
    over price order, the exclusive ``F.min`` of
    ``quantiles.prefix_scan``: bucket minima cumulated on the tiny ordered
    bucket frame + within-bucket windows partitioned by bucket — every
    corpus-sized stage hash-partitioned, nothing passes through one task.
    Survivor (price, min-size) classes broadcast back to fetch the member
    rows (same-class duplicates are mutually non-dominating, all
    skyline). The oracle deliberately uses the INDEPENDENT O(n²) NOT
    EXISTS formulation, so the two engines agree through entirely
    different algorithms.
    """
    pts = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_retailprice").alias("price"),
        F.col("p_size").alias("size"),
    )
    gx = pts.groupBy("price").agg(F.min("size").alias("gmin"))
    gx = gx.withColumn(
        "bucket", F.floor(F.col("price") / F.lit(SKYLINE_BUCKET_WIDTH))
    )
    survivors = (
        prefix_scan(gx, [], "bucket", "price", fn=F.min, before_x="gmin")
        .filter(F.coalesce("before_x", F.lit(2147483647)) > F.col("gmin"))
        .select("price", F.col("gmin").alias("size"))
    )
    return pts.join(F.broadcast(survivors), ["price", "size"]).select(
        "p_partkey", "price", "size"
    )


def part_skyline_oracle() -> str:
    return """
    SELECT p.p_partkey, p.p_retailprice AS price, p.p_size AS size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= p.p_retailprice
        AND q.p_size <= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size < p.p_size)
    )
    """


# --------------------------------------------------------------------------
# market-basket affinity (frequent part pairs: support / confidence / lift)
# --------------------------------------------------------------------------

#: Minimum number of orders a part pair must co-occur in.
MIN_PAIR_SUPPORT = 3


@query
def parts_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent part PAIRS across order baskets with the three association
    measures (support count, confidence a→b, lift) — the first Apriori
    level, the engine primitive behind "frequently bought together".

    Scale design: pair generation is MAP-SIDE — each order's distinct
    part set is collected once (one shuffle keyed by the high-cardinality
    order key) and its upper-triangle pairs explode from a nested
    higher-order transform, the ``embeddings_dim_covariance`` trick —
    never a basket×basket or lineitem self-join. Real carts are small, so
    the per-order pair fan-out is bounded by |basket|²; a degenerate
    mega-basket (one order containing the whole catalog) would be capped
    by frequency-capping the basket first, the ``NGRAM_DF_CAP`` rule. The
    pair aggregate is map-side combinable; singles supports and the
    scalar order count broadcast back onto the (already support-filtered)
    pair list. The oracle deliberately generates pairs the OPPOSITE way —
    a basket self-join — so the two engines agree through different
    algorithms. Lift arithmetic is integer-exact into one double divide.
    """
    # NO lineage cut here, deliberately (r12 negative result): b feeds
    # three derivations and baskets two, so each consumer re-runs the
    # scan + distinct shuffle (8 parquet scans in the plan) — but
    # localCheckpointing either frame materializes a CORPUS-sized block
    # set (61M distinct (order, part) rows at sf10), which OOM'd the
    # 12g local JVM in the sf10 scaling sweep, while the recompute form
    # streams each pass. The sf0.1 effect of the checkpoints was within
    # run-to-run noise (2.6 -> 2.8 s); hub materialization only pays for
    # RESULT-sized frames (see the detection memos in dedup.py).
    b = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    baskets = b.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("items")
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                """
                flatten(transform(items, (x, i) ->
                  transform(slice(items, i + 2, size(items) - i - 1),
                    y -> struct(x AS part_a, y AS part_b))))
                """
            )
        ).alias("p")
    ).select("p.*")
    pair_supp = (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("pair_support"))
        .filter(F.col("pair_support") >= MIN_PAIR_SUPPORT)
    )
    singles = b.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("supp"))
    totals = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    sa = singles.select(
        F.col("l_partkey").alias("part_a"), F.col("supp").alias("supp_a")
    )
    sb = singles.select(
        F.col("l_partkey").alias("part_b"), F.col("supp").alias("supp_b")
    )
    return (
        pair_supp.join(F.broadcast(sa), "part_a")
        .join(F.broadcast(sb), "part_b")
        .crossJoin(F.broadcast(totals))
        .select(
            "part_a",
            "part_b",
            "pair_support",
            "supp_a",
            "supp_b",
            (F.col("pair_support").cast("double") / F.col("supp_a")).alias(
                "confidence_a_to_b"
            ),
            (
                F.col("pair_support").cast("double")
                * F.col("n_orders")
                / (F.col("supp_a") * F.col("supp_b"))
            ).alias("lift"),
        )
    )


def parts_market_basket_oracle() -> str:
    return f"""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM b),
    singles AS (SELECT l_partkey, count(*) AS supp FROM b GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS part_a, c.l_partkey AS part_b,
             count(*) AS pair_support
      FROM b a JOIN b c
        ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {MIN_PAIR_SUPPORT}
    )
    SELECT p.part_a, p.part_b, p.pair_support,
           sa.supp AS supp_a, sb.supp AS supp_b,
           p.pair_support::DOUBLE / sa.supp AS confidence_a_to_b,
           p.pair_support::DOUBLE * n.n_orders / (sa.supp * sb.supp) AS lift
    FROM pairs p
    JOIN singles sa ON sa.l_partkey = p.part_a
    JOIN singles sb ON sb.l_partkey = p.part_b
    CROSS JOIN n
    """


# --------------------------------------------------------------------------
# RFM customer segmentation (recency / frequency / monetary quartile scores)
# --------------------------------------------------------------------------


#: Quintile cut fractions — the CLASSIC marketing RFM scoring (scores 1–5,
#: "555" champions). 1/5, 2/5, 3/5, 4/5 are non-dyadic; engine-exact only
#: via the integer bracket arithmetic in ``quantiles.exact_group_quantiles``
#: (pre-round-7 this op was restricted to dyadic quartiles / scores 1–4).
RFM_CUTS = [(1, 5), (2, 5), (3, 5), (4, 5)]


@query
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: each customer's last-order recency, order count,
    and exact-decimal revenue, scored 1–5 against the GLOBAL quintiles of
    each dimension and concatenated into the classic three-digit segment
    label — the marketing-analytics workhorse the reference's user
    aggregates gesture at.

    Scale design: one hash aggregate per customer (localCheckpointed —
    the quantile fit and the scoring pass both read it), then ONE
    ``quantiles.exact_group_quantiles`` fit over the three dimensions
    MELTED into (dim, value) rows — the dimension IS the group key, so
    all three quintile ladders come out of a single bucket-prefix pass
    instead of three plan copies (measured 3.1 s → ~1 s at sf0.1). The
    3-row threshold frame localCheckpoints and broadcasts back per
    dimension, so scoring is map-side. Engine-exactness: the quintile
    brackets are selected in INTEGER arithmetic (no dyadic restriction),
    recency and frequency are integers, and monetary sums in
    DECIMAL(18,2) on BOTH engines before the double conversion — so
    thresholds and values are identical doubles and no >= comparison can
    flip across engines.
    """
    from komodo_data_spark.operators.quantiles import exact_group_quantiles

    o = load_table(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.max(
            F.unix_millis(F.col("o_orderdate").cast("timestamp"))
        ).alias("recency_ms"),
        F.count(F.lit(1)).alias("frequency"),
        _dbl(F.sum(dec("o_totalprice", 18, 2))).alias("monetary"),
    ).localCheckpoint(eager=True)

    melted = rfm.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(dim).alias("dim"),
                        F.col(col).cast("double").alias("val"),
                    )
                    for dim, col in (
                        ("r", "recency_ms"),
                        ("f", "frequency"),
                        ("m", "monetary"),
                    )
                ]
            )
        ).alias("e")
    ).select("e.dim", "e.val")
    thr_all = exact_group_quantiles(
        melted, ["dim"], "val", {f"q{i + 1}": c for i, c in enumerate(RFM_CUTS)}
    ).localCheckpoint(eager=True)

    def dim_thr(tag: str):
        out = thr_all.filter(F.col("dim") == tag)
        for i in range(len(RFM_CUTS)):
            out = out.withColumnRenamed(f"q{i + 1}", f"q{tag}{i + 1}")
        return out.drop("dim")

    thr_r, thr_f, thr_m = dim_thr("r"), dim_thr("f"), dim_thr("m")

    def score(col: str, tag: str) -> F.Column:
        c = F.col(col)
        out = F.lit(1)
        for i in range(len(RFM_CUTS)):
            out = out + (c >= F.col(f"q{tag}{i + 1}")).cast("int")
        return out

    return (
        rfm.crossJoin(F.broadcast(thr_r))
        .crossJoin(F.broadcast(thr_f))
        .crossJoin(F.broadcast(thr_m))
        .select(
            "o_custkey",
            "recency_ms",
            "frequency",
            "monetary",
            score("recency_ms", "r").alias("r_score"),
            score("frequency", "f").alias("f_score"),
            score("monetary", "m").alias("m_score"),
            F.concat_ws(
                "",
                score("recency_ms", "r"),
                score("frequency", "f"),
                score("monetary", "m"),
            ).alias("segment"),
        )
    )


def customer_rfm_segments_oracle() -> str:
    from komodo_data_spark.operators.quantiles import oracle_group_quantile_sql

    def cuts(tag: str) -> dict[str, tuple[int, int]]:
        return {f"q{tag}{i + 1}": c for i, c in enumerate(RFM_CUTS)}

    blocks = "".join(
        "," + oracle_group_quantile_sql("rfm", [], col, cuts(tag), prefix=f"_{tag}")
        for tag, col in (
            ("r", "recency_ms"), ("f", "frequency"), ("m", "monetary")
        )
    )

    def score(col: str, tag: str) -> str:
        return "1 + " + " + ".join(
            f"(r.{col} >= _{tag}_thr.q{tag}{i + 1})::INT"
            for i in range(len(RFM_CUTS))
        )

    return f"""
    WITH rfm AS (
      SELECT o_custkey,
             max(epoch_ms(o_orderdate)) AS recency_ms,
             count(*) AS frequency,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS monetary
      FROM orders GROUP BY 1
    ){blocks},
    scored AS (
      SELECT r.o_custkey, r.recency_ms, r.frequency, r.monetary,
             {score("recency_ms", "r")} AS r_score,
             {score("frequency", "f")} AS f_score,
             {score("monetary", "m")} AS m_score
      FROM rfm r CROSS JOIN _r_thr CROSS JOIN _f_thr CROSS JOIN _m_thr
    )
    SELECT o_custkey, recency_ms, frequency, monetary,
           r_score, f_score, m_score,
           r_score::VARCHAR || f_score::VARCHAR || m_score::VARCHAR
             AS segment
    FROM scored
    """
