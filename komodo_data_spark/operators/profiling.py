"""Table profiling: per-column stats for data-quality auditing.

The reference has no profiling surface; this is the "analyze my table"
operator every warehouse ships (null fractions, cardinalities, ranges) and
a training-data pipeline runs as its first data-quality gate.

Scale design (100 TB): ONE aggregation pass over the table produces every
per-column statistic — no per-column jobs, no driver loop. The multiple
``count(DISTINCT col)`` aggregates compile to a single Expand + partial
aggregate (row multiplication is map-side and combines before the one
shuffle, which carries exactly one row per grouping). At extreme scale the
exact distincts swap for ``approx_count_distinct`` (same plan minus the
Expand); the exact form is kept here because the DuckDB oracle pins it.
The final unpivot-to-rows is a driver-free projection of the single
aggregated row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from komodo_data_spark.registry import query
from komodo_data_spark.sources.tables import load_table

#: column -> kind ('num' | 'txt' | 'date') for the profiled table
_ORDERS_COLS: dict[str, str] = {
    "o_orderkey": "num",
    "o_custkey": "num",
    "o_totalprice": "num",
    "o_orderstatus": "txt",
    "o_orderpriority": "txt",
    "o_orderdate": "date",
}


@query
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per column of ``orders``: row count, null count, exact
    distinct count, and min/max (numeric columns in ``min_num``/``max_num``,
    text and date columns as strings in ``min_txt``/``max_txt``)."""
    df = load_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, kind in _ORDERS_COLS.items():
        aggs.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"null__{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"nd__{c}"))
        if kind == "num":
            aggs.append(F.min(c).cast("double").alias(f"min__{c}"))
            aggs.append(F.max(c).cast("double").alias(f"max__{c}"))
        elif kind == "date":
            aggs.append(F.min(F.col(c).cast("date")).cast("string").alias(f"min__{c}"))
            aggs.append(F.max(F.col(c).cast("date")).cast("string").alias(f"max__{c}"))
        else:
            aggs.append(F.min(c).alias(f"min__{c}"))
            aggs.append(F.max(c).alias(f"max__{c}"))
    one = df.agg(*aggs)

    def _entry(c: str, kind: str) -> F.Column:
        num = kind == "num"
        return F.struct(
            F.lit(c).alias("col_name"),
            F.col("n_rows").alias("n_rows"),
            F.col(f"null__{c}").alias("n_null"),
            F.col(f"nd__{c}").alias("n_distinct"),
            (F.col(f"min__{c}") if num else F.lit(None).cast("double")).alias(
                "min_num"
            ),
            (F.col(f"max__{c}") if num else F.lit(None).cast("double")).alias(
                "max_num"
            ),
            (F.lit(None).cast("string") if num else F.col(f"min__{c}")).alias(
                "min_txt"
            ),
            (F.lit(None).cast("string") if num else F.col(f"max__{c}")).alias(
                "max_txt"
            ),
        )

    entries = F.array(*[_entry(c, k) for c, k in _ORDERS_COLS.items()])
    return one.select(F.explode(entries).alias("p")).select("p.*")


def profile_orders_oracle() -> str:
    agg_parts = ["count(*) AS n_rows"]
    rows = []
    for c, kind in _ORDERS_COLS.items():
        agg_parts.append(f"count(*) FILTER ({c} IS NULL) AS null__{c}")
        agg_parts.append(f"count(DISTINCT {c}) AS nd__{c}")
        if kind == "num":
            agg_parts.append(f"min({c})::DOUBLE AS min__{c}")
            agg_parts.append(f"max({c})::DOUBLE AS max__{c}")
            rows.append(
                f"SELECT '{c}' AS col_name, n_rows, null__{c} AS n_null,"
                f" nd__{c} AS n_distinct, min__{c} AS min_num,"
                f" max__{c} AS max_num, NULL::VARCHAR AS min_txt,"
                f" NULL::VARCHAR AS max_txt FROM one"
            )
        else:
            cast = "::DATE::VARCHAR" if kind == "date" else ""
            agg_parts.append(f"min({c}){cast} AS min__{c}")
            agg_parts.append(f"max({c}){cast} AS max__{c}")
            rows.append(
                f"SELECT '{c}' AS col_name, n_rows, null__{c} AS n_null,"
                f" nd__{c} AS n_distinct, NULL::DOUBLE AS min_num,"
                f" NULL::DOUBLE AS max_num, min__{c} AS min_txt,"
                f" max__{c} AS max_txt FROM one"
            )
    return (
        "WITH one AS (SELECT "
        + ", ".join(agg_parts)
        + " FROM orders) "
        + " UNION ALL ".join(rows)
    )


#: rule name -> SQL predicate that a GOOD row satisfies (NULL => violation,
#: via the shared CASE WHEN ok THEN 0 ELSE 1 three-valued convention).
_ORDERS_RULES: dict[str, str] = {
    "not_null_custkey": "o_custkey IS NOT NULL",
    "positive_price": "o_totalprice > 0",
    "valid_status": "o_orderstatus IN ('O', 'F', 'P')",
    "date_in_range": (
        "o_orderdate >= TIMESTAMP '1992-01-01' "
        "AND o_orderdate < TIMESTAMP '1999-01-01'"
    ),
    "priority_format": "o_orderpriority RLIKE '^[1-5]-'",
}


@query
def orders_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations over ``orders``: one row per rule with its
    violation count and pass flag — the write-audit gate a pipeline runs
    before publishing a snapshot (cf. sources/compaction.py).

    Scale design: like profile_orders, ONE aggregation pass evaluates every
    rule (each is a map-side CASE sum; the uniqueness rule rides the same
    pass as a count(DISTINCT) Expand). NULL counts as a violation for value
    rules — the CASE WHEN ok THEN 0 ELSE 1 phrasing encodes that uniformly
    in both engines.
    """
    df = load_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for rule, ok in _ORDERS_RULES.items():
        aggs.append(
            F.sum(F.expr(f"CASE WHEN {ok} THEN 0 ELSE 1 END")).alias(f"v__{rule}")
        )
    aggs.append(
        (F.count(F.lit(1)) - F.count_distinct(F.col("o_orderkey"))).alias(
            "v__unique_orderkey"
        )
    )
    one = df.agg(*aggs)

    rule_names = [*_ORDERS_RULES, "unique_orderkey"]
    entries = F.array(
        *[
            F.struct(
                F.lit(r).alias("rule"),
                F.col("n_rows").alias("n_rows"),
                F.col(f"v__{r}").alias("violations"),
                (F.col(f"v__{r}") == 0).alias("passed"),
            )
            for r in rule_names
        ]
    )
    return one.select(F.explode(entries).alias("e")).select("e.*")


def orders_expectations_oracle() -> str:
    agg_parts = ["count(*) AS n_rows"]
    for rule, ok in _ORDERS_RULES.items():
        pred = ok.replace("RLIKE", "SIMILAR TO").replace(
            "'^[1-5]-'", "'[1-5]-.*'"
        )
        agg_parts.append(
            f"CAST(sum(CASE WHEN {pred} THEN 0 ELSE 1 END) AS BIGINT) AS v__{rule}"
        )
    agg_parts.append(
        "count(*) - count(DISTINCT o_orderkey) AS v__unique_orderkey"
    )
    rows = [
        f"SELECT '{r}' AS rule, n_rows, v__{r} AS violations,"
        f" v__{r} = 0 AS passed FROM one"
        for r in [*_ORDERS_RULES, "unique_orderkey"]
    ]
    return (
        "WITH one AS (SELECT "
        + ", ".join(agg_parts)
        + " FROM orders) "
        + " UNION ALL ".join(rows)
    )


@query
def orders_group_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive content fingerprint per order status — the
    cross-engine data-validation primitive (compare a migrated table to its
    source without sorting or moving either).

    Each row canonicalizes to a '|'-joined string (decimals at fixed scale,
    dates formatted — so both engines render identical bytes), hashes
    through md5, and the group fingerprint is the bit_xor of the first 15
    hex digits as a 60-bit int: commutative (shuffle-order-free), no
    overflow, map-side combinable. One aggregation pass, one tiny shuffle.
    """
    df = load_table(spark, sf_dir, "orders")
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        F.col("o_totalprice").cast("decimal(18,2)"),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.col("o_orderpriority"),
    )
    h = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("long")
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.bit_xor(h).alias("fingerprint"),
    )


def orders_group_fingerprint_oracle() -> str:
    return """
    SELECT o_orderstatus, count(*) AS n_rows,
           bit_xor(CAST('0x' || substr(md5(concat_ws('|',
             o_orderkey, o_custkey, o_orderstatus,
             CAST(o_totalprice AS DECIMAL(18,2)),
             strftime(o_orderdate, '%Y-%m-%d'),
             o_orderpriority)), 1, 15) AS BIGINT)) AS fingerprint
    FROM orders GROUP BY o_orderstatus
    """


# --------------------------------------------------------------------------
# Benford first-digit audit (numeric data-quality profiling)
# --------------------------------------------------------------------------


@query
def orders_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order totals vs Benford's
    law — the classic fabricated-/corrupted-numeric-column detector a
    profiling suite ships: organically-grown monetary amounts follow
    P(d) = log10(1 + 1/d); a generator bug, unit mixup, or synthetic
    fill shows up as a flat or spiked digit histogram long before any
    downstream model does. Output per digit: count, observed vs expected
    fraction, and the chi-square term (sum them for the test statistic).

    Engine-exactness: the first digit comes from INTEGER string math —
    price cast to DECIMAL(18,2) cents, then the first character of the
    integer's decimal rendering — never floor(log10(x)), whose float
    rounding flips at powers of ten. One map-side-combinable digit
    aggregate over the scan; the 9-row result needs no further care.
    """
    o = load_table(spark, sf_dir, "orders")
    cents = (
        F.col("o_totalprice").cast("decimal(18,2)") * 100
    ).cast("long")
    per_digit = (
        o.select(F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    tot = per_digit.agg(F.sum("n_orders").alias("tot"))
    exp_frac = F.log10(1.0 + 1.0 / F.col("digit"))
    exp_n = exp_frac * F.col("tot")
    return (
        per_digit.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_orders",
            (F.col("n_orders").cast("double") / F.col("tot")).alias(
                "obs_frac"
            ),
            exp_frac.alias("exp_frac"),
            (
                (F.col("n_orders").cast("double") - exp_n)
                * (F.col("n_orders").cast("double") - exp_n)
                / exp_n
            ).alias("chi2_term"),
        )
        .orderBy("digit")
    )


def orders_benford_digits_oracle() -> str:
    return """
    WITH per_digit AS (
      SELECT CAST(substr(((CAST(o_totalprice AS DECIMAL(18,2)) * 100)::BIGINT)::VARCHAR, 1, 1) AS INT) AS digit,
             count(*) AS n_orders
      FROM orders GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n_orders) AS BIGINT) AS tot FROM per_digit)
    SELECT digit, n_orders,
           n_orders::DOUBLE / tot AS obs_frac,
           log10(1.0 + 1.0 / digit) AS exp_frac,
           (n_orders::DOUBLE - log10(1.0 + 1.0 / digit) * tot)
             * (n_orders::DOUBLE - log10(1.0 + 1.0 / digit) * tot)
             / (log10(1.0 + 1.0 / digit) * tot) AS chi2_term
    FROM per_digit CROSS JOIN tot
    ORDER BY digit
    """
