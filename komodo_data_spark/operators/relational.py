"""Relational query pack over the driver's TPC-H-ish tables.

The reference has no joins (its only multi-relation op is an IN-subquery,
process.py:427-430); this pack supplies the join/agg/window/set-op surface a
complete engine needs, expressed so Catalyst picks the right physical plan:

- small dims (region, nation) → `F.broadcast` hints: broadcast-hash join, no
  shuffle of the fact side;
- fact-fact joins (orders⋈lineitem) → sort-merge with AQE skew handling;
- aggregates of money columns go through DECIMAL so partial-aggregation order
  can never change the result (bit-stable vs any oracle), cast to double only
  at the output boundary;
- date filters sit directly on scan columns → parquet predicate pushdown +
  row-group pruning.

All functions take (spark, sf_dir) and return a DataFrame with aliased
output columns (driver contract: names must match the oracle SQL).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from komodo_data_spark.registry import query
from komodo_data_spark.sources.tables import load_events, load_table


def dec(c: Column | str, precision: int = 20, scale: int = 4) -> Column:
    """Money/quantity columns to exact decimal before aggregation."""
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(f"decimal({precision},{scale})")


def _dbl(c: Column) -> Column:
    return c.cast("double")


@query(oracle="q1_oracle")
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: pricing summary report (scan → filter → 4-way agg)."""
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "2000-09-02")
    disc_price = dec("l_extendedprice") * (F.lit(1).cast("decimal(20,4)") - dec("l_discount"))
    charge = disc_price * (F.lit(1).cast("decimal(20,4)") + dec("l_tax"))
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dbl(F.sum(dec("l_quantity"))).alias("sum_qty"),
            _dbl(F.sum(dec("l_extendedprice"))).alias("sum_base_price"),
            _dbl(F.sum(disc_price)).alias("sum_disc_price"),
            _dbl(F.sum(charge)).alias("sum_charge"),
            (_dbl(F.sum(dec("l_quantity"))) / F.count(F.lit(1))).alias("avg_qty"),
            (_dbl(F.sum(dec("l_extendedprice"))) / F.count(F.lit(1))).alias("avg_price"),
            (_dbl(F.sum(dec("l_discount"))) / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q1_oracle() -> str:
    return """
    SELECT l_returnflag, l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE) AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4)) * (CAST(1 AS DECIMAL(20,4)) - CAST(l_discount AS DECIMAL(20,4)))) AS DOUBLE) AS sum_disc_price,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4)) * (CAST(1 AS DECIMAL(20,4)) - CAST(l_discount AS DECIMAL(20,4))) * (CAST(1 AS DECIMAL(20,4)) + CAST(l_tax AS DECIMAL(20,4)))) AS DOUBLE) AS sum_charge,
      CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) / count(*) AS avg_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE) / count(*) AS avg_price,
      CAST(SUM(CAST(l_discount AS DECIMAL(20,4))) AS DOUBLE) / count(*) AS avg_disc,
      count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """


@query(oracle="q3_oracle")
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: unshipped-order revenue (dim-filtered 3-way join, top 10).

    customer is ~1% of lineitem → broadcast; orders⋈lineitem stays
    sort-merge on the orderkey.
    """
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1999-03-15")
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1999-03-15")
    revenue = F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(20,4)") - dec("l_discount")))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dbl(revenue).alias("revenue"))
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


def q3_oracle() -> str:
    return """
    SELECT l_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o_orderpriority,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4)) * (CAST(1 AS DECIMAL(20,4)) - CAST(l_discount AS DECIMAL(20,4)))) AS DOUBLE) AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1999-03-15'
      AND l_shipdate  > TIMESTAMP '1999-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """


@query(oracle="q5_oracle")
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: revenue by nation where customer and supplier share the
    nation (6-way join; region/nation broadcast, AQE reorders the rest)."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1998-01-01") & (F.col("o_orderdate") < "1999-01-01")
    )
    l = load_table(spark, sf_dir, "lineitem")
    revenue = F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(20,4)") - dec("l_discount")))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_dbl(revenue).alias("revenue"))
        .orderBy(F.desc("revenue"))
    )


def q5_oracle() -> str:
    return """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4)) * (CAST(1 AS DECIMAL(20,4)) - CAST(l_discount AS DECIMAL(20,4)))) AS DOUBLE) AS revenue
    FROM customer JOIN orders   ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
                  JOIN nation   ON s_nationkey = n_nationkey
                  JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
    GROUP BY n_name
    """


@query(oracle="q6_oracle")
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-filter-aggregate; every predicate pushes to parquet."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1999-01-01")
        & (F.col("l_shipdate") < "2000-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return l.agg(
        _dbl(F.sum(dec("l_extendedprice") * dec("l_discount"))).alias("revenue")
    )


def q6_oracle() -> str:
    return """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4)) * CAST(l_discount AS DECIMAL(20,4))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1999-01-01' AND l_shipdate < TIMESTAMP '2000-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
    """


@query(oracle="q10_oracle")
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: revenue lost to returns, top 20 customers."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1998-10-01") & (F.col("o_orderdate") < "1999-01-01")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    revenue = F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(20,4)") - dec("l_discount")))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_dbl(revenue).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def q10_oracle() -> str:
    return """
    SELECT c_custkey, c_name, c_acctbal, n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4)) * (CAST(1 AS DECIMAL(20,4)) - CAST(l_discount AS DECIMAL(20,4)))) AS DOUBLE) AS revenue
    FROM customer JOIN orders   ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1998-10-01' AND o_orderdate < TIMESTAMP '1999-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """


@query(oracle="top_customers_oracle")
def top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window: top-3 customers by account balance per nation.

    Partitioned window (per-nation) → fully parallel; custkey tie-break makes
    the cut deterministic.
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), "c_custkey")
    return (
        c.withColumn("rank_in_nation", F.row_number().over(w))
        .filter(F.col("rank_in_nation") <= 3)
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .select("n_name", "c_custkey", "c_name", "c_acctbal", "rank_in_nation")
    )


def top_customers_oracle() -> str:
    return """
    SELECT n_name, c_custkey, c_name, c_acctbal, rank_in_nation
    FROM (
      SELECT c_nationkey, c_custkey, c_name, c_acctbal,
             row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rank_in_nation
      FROM customer
    ) t JOIN nation ON c_nationkey = n_nationkey
    WHERE rank_in_nation <= 3
    """


@query
def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP over (returnflag, linestatus) — subtotal lattice."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(
            _dbl(F.sum(dec("l_extendedprice"))).alias("gross_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def revenue_rollup_oracle() -> str:
    return """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE) AS gross_revenue,
           count(*) AS n_items
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """


@query
def customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers that placed at least one qualifying order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


def customers_with_orders_oracle() -> str:
    return """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
    """


@query
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no HIGH-VALUE orders (>450k).

    Every testdata customer has at least one lifetime order, so an
    unconditional anti-join would be a trivially-empty (and therefore
    untested) gate row — the threshold keeps the anti-join shape while
    returning a non-trivial result at every SF.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_acctbal"
    )


def customers_without_orders_oracle() -> str:
    return """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
    """


@query(oracle="asof_oracle")
def asof_last_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase event, the user's most recent prior click.

    Spark-first formulation: instead of an O(n·m) inequality join, union the
    two streams, sort within each user partition by (ts, event_id), and carry
    the last click timestamp forward with last(ignorenulls) over an unbounded-
    preceding frame — one shuffle on user_id, linear work, scales to any
    stream length. (The oracle states the same semantics as a relational
    inequality join.)
    """
    ev = load_events(spark, sf_dir)
    tagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        "ts_ms",
        "event_type",
        F.when(F.col("event_type") == "click", F.col("ts_ms")).alias("click_ms"),
    ).filter(F.col("event_type").isin("click", "purchase"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        tagged.withColumn("last_click_ms", F.last("click_ms", ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", F.col("ts_ms").alias("purchase_ms"), "last_click_ms")
    )


def asof_oracle() -> str:
    return """
    SELECT p.event_id, p.user_id, epoch_ms(p.ts) AS purchase_ms,
           max(epoch_ms(c.ts)) AS last_click_ms
    FROM events p LEFT JOIN events c
      ON c.user_id = p.user_id AND c.event_type = 'click'
     AND (c.ts < p.ts OR (c.ts = p.ts AND c.event_id < p.event_id))
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id, p.user_id, p.ts
    """


#: Max |click - purchase| distance for the nearest-as-of join (10 minutes).
ASOF_TOLERANCE_MS = 600_000


@query(oracle="asof_nearest_oracle")
def asof_nearest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-as-of join with tolerance: for each purchase, the click
    closest in time (either direction) within ±10 minutes; ties (equidistant
    before/after) go to the earlier click.

    Spark-first formulation: same union-and-window trick as the backward
    as-of, run twice — last prior click via an unbounded-preceding frame,
    first later click via an unbounded-following frame — then a pure
    projection picks the closer side and applies the tolerance. Two window
    passes over one shuffle on user_id, linear in the stream; no inequality
    join anywhere. (The oracle states the same semantics as a θ-join +
    rank.)
    """
    ev = load_events(spark, sf_dir)
    tagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        "ts_ms",
        "event_type",
        F.when(F.col("event_type") == "click", F.col("ts_ms")).alias("click_ms"),
    ).filter(F.col("event_type").isin("click", "purchase"))
    order = [F.col("ts"), F.col("event_id")]
    wb = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(1, Window.unboundedFollowing)
    )
    back = F.last("click_ms", ignorenulls=True).over(wb)
    fwd = F.first("click_ms", ignorenulls=True).over(wf)
    bdiff = F.col("ts_ms") - back
    fdiff = fwd - F.col("ts_ms")
    nearest = (
        F.when(back.isNotNull() & (fwd.isNull() | (bdiff <= fdiff)), back)
        .otherwise(fwd)
    )
    return (
        tagged.withColumn("nearest_ms", nearest)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.col("ts_ms").alias("purchase_ms"),
            F.when(
                F.abs(F.col("nearest_ms") - F.col("ts_ms")) <= ASOF_TOLERANCE_MS,
                F.col("nearest_ms"),
            ).alias("nearest_click_ms"),
        )
    )


def asof_nearest_oracle() -> str:
    return f"""
    WITH p AS (
      SELECT event_id, user_id, epoch_ms(ts) AS purchase_ms
      FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT user_id, event_id, epoch_ms(ts) AS click_ms
      FROM events WHERE event_type = 'click'
    ), ranked AS (
      SELECT p.event_id, c.click_ms,
             row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY abs(c.click_ms - p.purchase_ms), c.click_ms, c.event_id
             ) AS rn
      FROM p JOIN c
        ON c.user_id = p.user_id
       AND abs(c.click_ms - p.purchase_ms) <= {ASOF_TOLERANCE_MS}
    )
    SELECT p.event_id, p.user_id, p.purchase_ms, r.click_ms AS nearest_click_ms
    FROM p LEFT JOIN (SELECT event_id, click_ms FROM ranked WHERE rn = 1) r
      ON r.event_id = p.event_id
    """


@query(oracle="events_hourly_oracle")
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window per event type.

    Batch formulation of the Structured Streaming windowed aggregation (the
    streaming twin lives in streaming/windows.py); bucketing on epoch math so
    the same expression serves both engines and any timezone.
    """
    ev = load_events(spark, sf_dir)
    bucket = (F.floor(F.col("ts_ms") / F.lit(3_600_000)) * F.lit(3_600_000)).alias(
        "window_start_ms"
    )
    return (
        ev.groupBy(bucket, "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dbl(F.sum(dec("value", 18, 2))).alias("sum_value"),
        )
    )


def events_hourly_oracle() -> str:
    return """
    SELECT (epoch_ms(ts) // 3600000) * 3600000 AS window_start_ms, event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """


# --------------------------------------------------------------------------
# set operations / grouping sets / approximate aggregates
# --------------------------------------------------------------------------


@query
def customer_year_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT over yearly active-customer sets.

    Customers ordering in 1995 vs 1996: each set op runs as its own
    DataFrame op (Spark plans INTERSECT/EXCEPT as left-semi/anti
    aggregates over the same shuffled key — one exchange each on
    o_custkey), then a tiny 3-row summary unions the counts.
    """
    o = load_table(spark, sf_dir, "orders")

    def year(y: int) -> DataFrame:
        return (
            o.filter(
                (F.col("o_orderdate") >= f"{y}-01-01")
                & (F.col("o_orderdate") < f"{y + 1}-01-01")
            )
            .select("o_custkey")
            .distinct()
        )

    y95, y96 = year(1995), year(1996)
    rows = [
        ("union", y95.union(y96).distinct()),
        ("intersect", y95.intersect(y96)),
        ("except_95_not_96", y95.exceptAll(y96.distinct())),
    ]
    out = None
    for tag, df in rows:
        one = df.agg(F.count(F.lit(1)).alias("n_customers")).select(
            F.lit(tag).alias("set_op"), "n_customers"
        )
        out = one if out is None else out.unionAll(one)
    return out


@query
def customers_every_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division: customers with at least one order in EVERY year
    the orders table spans.

    Spark-first form: count distinct years per customer and compare with
    the global distinct-year count (a one-row broadcast) — two hash
    aggregates and one broadcast, no per-year join cascade. The textbook
    double-NOT-EXISTS form would re-scan orders per candidate; this form
    scans once and scales linearly.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.year("o_orderdate").alias("yr")
    )
    per_cust = o.groupBy("o_custkey").agg(
        F.countDistinct("yr").alias("n_years")
    )
    total = o.agg(F.countDistinct("yr").alias("all_years"))
    return (
        per_cust.crossJoin(F.broadcast(total))
        .filter(F.col("n_years") == F.col("all_years"))
        .select(F.col("o_custkey").alias("c_custkey"), "n_years")
        .orderBy("c_custkey")
    )


def customers_every_year_oracle() -> str:
    return """
    WITH y AS (
      SELECT o_custkey, CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr
      FROM orders
    ), per_cust AS (
      SELECT o_custkey, COUNT(DISTINCT yr) AS n_years FROM y GROUP BY 1
    ), total AS (SELECT COUNT(DISTINCT yr) AS all_years FROM y)
    SELECT o_custkey AS c_custkey, n_years
    FROM per_cust, total
    WHERE n_years = all_years
    ORDER BY c_custkey
    """


def customer_year_setops_oracle() -> str:
    return """
    WITH y95 AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate < TIMESTAMP '1996-01-01'
    ), y96 AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
    )
    SELECT 'union' AS set_op,
           (SELECT count(*) FROM (SELECT o_custkey FROM y95 UNION SELECT o_custkey FROM y96)) AS n_customers
    UNION ALL
    SELECT 'intersect',
           (SELECT count(*) FROM (SELECT o_custkey FROM y95 INTERSECT SELECT o_custkey FROM y96))
    UNION ALL
    SELECT 'except_95_not_96',
           (SELECT count(*) FROM (SELECT o_custkey FROM y95 EXCEPT SELECT o_custkey FROM y96))
    """


@query
def orders_status_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (o_orderstatus, o_orderpriority): all 2^2 grouping sets in
    one pass — Spark expands the cube map-side and aggregates once."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dbl(F.sum(dec("o_totalprice", 20, 2))).alias("sum_price"),
        )
    )


def orders_status_cube_oracle() -> str:
    return """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """


@query
def supplier_part_distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts per brand (the oracle-checked twin of the
    approx query below)."""
    p = load_table(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        F.countDistinct("p_type").alias("n_types"),
        F.countDistinct("p_size").alias("n_sizes"),
    )


def supplier_part_distinct_exact_oracle() -> str:
    return """
    SELECT p_brand, count(DISTINCT p_type) AS n_types,
           count(DISTINCT p_size) AS n_sizes
    FROM part GROUP BY p_brand
    """


@query(oracle=None)  # HLL sketch: rows-only check, exact twin pins semantics
def supplier_part_distinct_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct counts per brand (rows-only driver check: the
    sketch is Spark-specific, so no value-exact oracle — the exact twin
    above pins semantics). At 100 TB this replaces the two extra
    shuffle-heavy exact-distinct aggregates with mergeable sketches."""
    p = load_table(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        F.approx_count_distinct("p_type", 0.01).alias("n_types_approx"),
        F.approx_count_distinct("p_size", 0.01).alias("n_sizes_approx"),
    )


@query
def lineitem_price_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi range join: bucket line items into price tiers.

    The tier dim is tiny and interval-keyed, so Catalyst plans a broadcast
    nested-loop with the BETWEEN predicate evaluated codegen-side — the
    right physical choice whenever the build side is O(100) intervals. For
    large interval tables, pre-bucket both sides on floor(price/width) and
    equi-join on the bucket (turns the θ-join into hash join + residual).
    """
    tiers = spark.createDataFrame(
        [("budget", 0.0, 20_000.0), ("mid", 20_000.0, 45_000.0),
         ("premium", 45_000.0, 1e12)],
        "tier string, lo double, hi double",
    )
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.join(
            F.broadcast(tiers),
            (F.col("l_extendedprice") >= F.col("lo"))
            & (F.col("l_extendedprice") < F.col("hi")),
        )
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _dbl(F.sum(dec("l_extendedprice", 20, 2))).alias("sum_price"),
        )
    )


def lineitem_price_tiers_oracle() -> str:
    return """
    WITH tiers(tier, lo, hi) AS (
      VALUES ('budget', 0.0, 20000.0), ('mid', 20000.0, 45000.0),
             ('premium', 45000.0, 1e12)
    )
    SELECT tier, count(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,2))) AS DOUBLE)
             AS sum_price
    FROM lineitem JOIN tiers
      ON l_extendedprice >= lo AND l_extendedprice < hi
    GROUP BY tier
    """


@query(oracle="lineitem_price_tiers_oracle")  # same semantics, equi-join plan
def lineitem_price_tiers_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path promised by lineitem_price_tiers' docstring: turn the
    interval θ-join into an EQUI-join by bucketing.

    Each tier interval is exploded into the fixed-width price buckets it
    overlaps (tiny: |tiers| × buckets-per-tier rows); each line item maps to
    exactly one bucket (floor(price/width)). Joining on the bucket is a hash
    join with a residual BETWEEN — no nested-loop anywhere, and the plan
    scales to interval tables far beyond broadcast size (shuffle both sides
    on the bucket instead of broadcasting). Same result, same oracle, as
    lineitem_price_tiers.
    """
    width = 5_000.0
    tiers = spark.createDataFrame(
        [("budget", 0.0, 20_000.0), ("mid", 20_000.0, 45_000.0),
         ("premium", 45_000.0, 1e12)],
        "tier string, lo double, hi double",
    )
    # cap the open-ended top tier at the data's max so the bucket explode
    # stays finite: a 1-row scalar agg crossJoined (broadcast) into the tier
    # frame, so it evaluates lazily inside the plan (no scan at query
    # construction) and an empty lineitem degrades to the tier's own cap
    # via coalesce instead of a TypeError (fallback is lo, not hi: the open
    # top tier's hi=1e12 would explode 2e8 buckets; lo yields one bucket per
    # tier and the join is empty anyway).
    max_price = load_table(spark, sf_dir, "lineitem").agg(
        F.max("l_extendedprice").alias("max_price")
    )
    tier_buckets = tiers.crossJoin(F.broadcast(max_price)).select(
        "tier",
        "lo",
        "hi",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / width),
                F.floor(
                    F.least(
                        F.col("hi"), F.coalesce(F.col("max_price"), F.col("lo"))
                    )
                    / width
                ),
            )
        ).alias("bucket"),
    )
    l = load_table(spark, sf_dir, "lineitem").withColumn(
        "bucket", F.floor(F.col("l_extendedprice") / width)
    )
    return (
        l.join(
            F.broadcast(tier_buckets),
            (l["bucket"] == tier_buckets["bucket"])
            & (F.col("l_extendedprice") >= F.col("lo"))
            & (F.col("l_extendedprice") < F.col("hi")),
        )
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _dbl(F.sum(dec("l_extendedprice", 20, 2))).alias("sum_price"),
        )
    )


@query
def events_distinct_users_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event_type via two-stage aggregation.

    ``count(DISTINCT x)`` over a low-cardinality group key is the classic
    skew trap at 100 TB: every row of a hot group lands on one reducer.
    Stage 1 groups by (event_type, user_id) — the compound key spreads the
    hot groups across all partitions and map-side combine collapses
    duplicates early; stage 2 counts the survivors per event_type. Same
    result as countDistinct, skew-proof plan.
    """
    ev = load_events(spark, sf_dir)
    stage1 = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return stage1.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_distinct_users"),
        F.sum("n_events").alias("n_events"),
    )


def events_distinct_users_two_stage_oracle() -> str:
    return """
    SELECT event_type, count(DISTINCT user_id) AS n_distinct_users,
           count(*) AS n_events
    FROM events GROUP BY event_type
    """


@query(oracle="asof_oracle")
def asof_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-applyInPandas twin of :func:`asof_last_click_before_purchase`
    — identical semantics through the OTHER custom-op surface: clicks and
    purchases are cogrouped on user_id, and each (click-group,
    purchase-group) pair is merged in pandas (sort + forward-fill), the
    canonical cogroup use case.

    When to prefer which: the window form stays fully in the JVM and wins
    when the logic fits SQL semantics; cogroup is the escape hatch when the
    per-key merge needs imperative/pandas logic (interpolation, model
    scoring, merge_asof tolerances).

    Scale note: cogrouping on raw user_id means one Python call per user —
    per-group overhead dominates when groups are tiny (measured 11 s for
    100k events). The cogroup key here is a HASH BUCKET of the user instead
    (fixed fan-out, thousands of users per Arrow batch), and the per-user
    logic inside the batch is a vectorized grouped ffill — same result, same
    cogroup surface, ~5× fewer seconds, and the group count no longer grows
    with the user population at 100 TB.
    """
    import pandas as pd

    n_buckets = 32
    ev = load_events(spark, sf_dir).select(
        "user_id", "event_id", "ts", "ts_ms", "event_type"
    )
    bucket = F.pmod(F.xxhash64("user_id"), F.lit(n_buckets)).alias("bucket")
    clicks = ev.filter(F.col("event_type") == "click").withColumn("bucket", bucket)
    purchases = ev.filter(F.col("event_type") == "purchase").withColumn(
        "bucket", bucket
    )

    def merge(cl: pd.DataFrame, pu: pd.DataFrame) -> pd.DataFrame:
        if pu.empty:
            return pd.DataFrame(
                columns=["event_id", "user_id", "purchase_ms", "last_click_ms"]
            )
        both = pd.concat(
            [cl.assign(is_p=0), pu.assign(is_p=1)], ignore_index=True
        ).sort_values(["user_id", "ts", "event_id"], kind="mergesort")
        # forward-carry the last click's ts_ms WITHIN each user; ties on ts
        # resolve by event_id order, matching the window form's frame
        carried = (
            both["ts_ms"].where(both["is_p"] == 0).groupby(both["user_id"]).ffill()
        )
        out = both[both["is_p"] == 1]
        return pd.DataFrame(
            {
                "event_id": out["event_id"],
                "user_id": out["user_id"],
                "purchase_ms": out["ts_ms"],
                "last_click_ms": pd.array(
                    carried[both["is_p"] == 1], dtype="Int64"
                ),
            }
        )

    return (
        clicks.groupby("bucket")
        .cogroup(purchases.groupby("bucket"))
        .applyInPandas(
            merge,
            schema="event_id long, user_id long, purchase_ms long, last_click_ms long",
        )
    )


@query
def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total (ratio_to_report): each nation's share of global
    order revenue — the OLAP idiom where a windowed grand total divides a
    grouped aggregate.

    Scale: the unpartitioned window would be a red flag on a fact table,
    but here it runs AFTER the groupBy collapsed 100 TB to |nations| rows —
    a single-task window over 25 rows is free. Decimal accumulation keeps
    the shares reproducible against the oracle.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    per_nation = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey")
        .agg(
            F.sum(dec("o_totalprice", 18, 2)).alias("rev_dec"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    w = Window.partitionBy()
    return per_nation.select(
        "c_nationkey",
        "n_orders",
        _dbl(F.col("rev_dec")).alias("revenue"),
        _dbl(F.col("rev_dec") / F.sum("rev_dec").over(w)).alias("revenue_share"),
    )


def nation_revenue_share_oracle() -> str:
    return """
    WITH per_nation AS (
      SELECT c.c_nationkey,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev_dec,
             count(*) AS n_orders
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey
    )
    SELECT c_nationkey, n_orders, CAST(rev_dec AS DOUBLE) AS revenue,
           CAST(rev_dec / SUM(rev_dec) OVER () AS DOUBLE) AS revenue_share
    FROM per_nation
    """
