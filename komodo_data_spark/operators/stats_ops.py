"""Frequency / ordered-set statistics operators (north-star extensions).

The reference's aggregate surface is COUNT/SUM/GROUP BY only
(SURVEY.md §2.4); this module adds the frequency-sketch and ordered-set
aggregates an analytics engine is expected to ship:

- ``events_heavy_hitters`` — support-thresholded frequent items via
  Spark 4's ``approx_top_k`` sketch (Space-Saving style: mergeable,
  map-side-combinable, one pass). At the gate scales the distinct-user
  count is far below ``maxItemsTracked`` so the sketch counts are exact
  and the DuckDB HAVING oracle matches bit-for-bit; at 100 TB the same
  plan degrades gracefully to approximate counts in bounded memory
  instead of shuffling the full key space.
- ``orders_stats_pack`` — mode / median / percentile_disc / listagg
  (ordered-set aggregates, SQL:2008 WITHIN GROUP syntax) in ONE
  aggregation pass per group.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from komodo_data_spark.operators.quantiles import (
    exact_group_quantiles,
    oracle_group_quantile_sql,
    prefix_scan,
)
from komodo_data_spark.registry import query
from komodo_data_spark.sources.tables import load_events, load_table

#: Support threshold: users with at least this many events are "heavy".
HEAVY_MIN_EVENTS = 80


@query
def events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users with >= HEAVY_MIN_EVENTS events, found with one approx_top_k
    sketch instead of a full groupBy over the key space.

    The threshold filter (not a raw top-k cut) is what makes the result
    deterministic: rank order among equal counts is sketch-arbitrary, but
    membership of {count >= T} is not. k=1000 bounds the candidate list;
    maxItemsTracked=1M keeps counts exact up to a million distinct users.
    """
    ev = load_events(spark, sf_dir)
    sketch = ev.agg(
        F.expr("approx_top_k(user_id, 1000, 1000000)").alias("tk")
    )
    return (
        sketch.select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("user_id"),
            F.col("e.count").alias("n_events"),
        )
        .filter(F.col("n_events") >= HEAVY_MIN_EVENTS)
    )


def events_heavy_hitters_oracle() -> str:
    return f"""
    SELECT user_id, count(*) AS n_events
    FROM events GROUP BY user_id HAVING count(*) >= {HEAVY_MIN_EVENTS}
    """


@query(oracle="events_heavy_hitters_oracle")  # same result through the merge path
def events_heavy_hitters_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same heavy-hitter result through the MERGEABLE sketch lifecycle:
    approx_top_k_accumulate per day -> approx_top_k_combine across days ->
    approx_top_k_estimate — the incremental pattern where each day's sketch
    is persisted bytes and today's scan never re-reads history (the
    frequency-sketch sibling of events_distinct_sketch_union).

    The daily pre-aggregate stands in for the stored sketch table. Counts
    stay exact while distinct keys per sketch fit maxItemsTracked, so the
    same HAVING oracle pins the merge path end-to-end at gate scale.
    """
    ev = load_events(spark, sf_dir)
    daily = ev.groupBy(F.expr("ts_ms div 86400000").alias("day")).agg(
        F.expr("approx_top_k_accumulate(user_id, 100000)").alias("sk")
    )
    # approx_top_k_combine over ZERO rows crashes (scala.MatchError: null)
    # rather than returning an empty sketch, so an empty events table would
    # kill the query. Union in a seed: accumulate over zero rows DOES yield
    # a valid empty sketch, making the combine input provably non-empty and
    # the empty-input result an empty frame, as it should be.
    seed = ev.limit(0).agg(
        F.expr("approx_top_k_accumulate(user_id, 100000)").alias("sk")
    )
    merged = daily.select("sk").unionByName(seed).agg(
        F.expr("approx_top_k_estimate(approx_top_k_combine(sk, 1000000), 1000)").alias(
            "tk"
        )
    )
    return (
        merged.select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("user_id"),
            F.col("e.count").alias("n_events"),
        )
        .filter(F.col("n_events") >= HEAVY_MIN_EVENTS)
    )


@query
def orders_stats_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority order statistics: modal status (deterministic lowest-on-
    tie via WITHIN GROUP ASC), exact median and 25th discrete percentile of
    the total price, and the distinct status roster as an ordered listagg.

    All five aggregates evaluate in one hash-aggregate pass on
    ``o_orderpriority`` (median/percentile_disc buffer per-group values —
    fine for bounded group counts like the 5 priorities; for high-cardinality
    groups switch to approx_percentile, cf. corpus.event_value_percentiles).
    """
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.expr("mode() WITHIN GROUP (ORDER BY o_orderstatus)").alias("mode_status"),
        F.median("o_totalprice").alias("median_price"),
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice)").alias(
            "p25_price"
        ),
        F.expr(
            "listagg(DISTINCT o_orderstatus, ',') WITHIN GROUP (ORDER BY o_orderstatus)"
        ).alias("statuses"),
    )


def orders_stats_pack_oracle() -> str:
    # DuckDB mode() tie-break is unspecified -> derive the deterministic
    # lowest-value mode from a windowed count instead.
    return """
    WITH status_counts AS (
      SELECT o_orderpriority, o_orderstatus, count(*) AS c
      FROM orders GROUP BY 1, 2
    ), modal AS (
      SELECT o_orderpriority, o_orderstatus AS mode_status
      FROM status_counts
      QUALIFY row_number() OVER (
        PARTITION BY o_orderpriority ORDER BY c DESC, o_orderstatus ASC
      ) = 1
    ), stats AS (
      SELECT o_orderpriority,
             count(*) AS n_orders,
             median(o_totalprice) AS median_price,
             percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice)
               AS p25_price,
             string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
               AS statuses
      FROM orders GROUP BY 1
    )
    SELECT s.o_orderpriority, s.n_orders, m.mode_status, s.median_price,
           s.p25_price, s.statuses
    FROM stats s JOIN modal m USING (o_orderpriority)
    """


# --------------------------------------------------------------------------
# two-sample hypothesis tests (experimentation / drift significance)
# --------------------------------------------------------------------------

KS_GROUP_A = "click"
KS_GROUP_B = "purchase"
#: Fixed value-bucket width for the ``quantiles.prefix_scan`` rank and CDF
#: sums. The events value domain is bounded (gate data: [0, ~500]); at an
#: unbounded 100 TB domain swap the fixed grid for approx-quantile
#: boundaries (the ``events_value_histogram_equidepth`` move) — same plan.
KS_BUCKET_WIDTH = 16.0
#: sqrt(-ln(alpha/2)/2) for alpha=0.05 — the classic two-sample KS critical
#: coefficient c(0.05) = 1.3581015157406195.
KS_CRIT_95 = 1.3581015157406195


def _ks_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(value, na, nb): one row per event of the two KS types with a
    non-NULL value; ``na`` / ``nb`` are its 0/1 type indicators."""
    return (
        load_events(spark, sf_dir)
        .filter(
            F.col("event_type").isin(KS_GROUP_A, KS_GROUP_B)
            & F.col("value").isNotNull()
        )
        .select(
            "value",
            (F.col("event_type") == KS_GROUP_A).cast("long").alias("na"),
            (F.col("event_type") == KS_GROUP_B).cast("long").alias("nb"),
        )
    )


def _ks_per_value(ev: DataFrame) -> DataFrame:
    """(value, na, nb, bucket): per distinct value of :func:`_ks_events`,
    the row count of each type and its KS_BUCKET_WIDTH value bucket — the
    tie-group frame the KS and Mann–Whitney tests rank."""
    return (
        ev.groupBy("value")
        .agg(F.sum("na").alias("na"), F.sum("nb").alias("nb"))
        .withColumn("bucket", F.floor(F.col("value") / F.lit(KS_BUCKET_WIDTH)))
    )


def _midranks2(per: DataFrame, by: list[str], col: str, t: Column) -> DataFrame:
    """``per`` plus ``r2``, the DOUBLED midrank 2·below + t + 1 of each tie
    group (one row per distinct ``col`` within ``by``, ``t`` rows each;
    ``bucket`` must refine ``col`` order). ``below`` — the rows strictly
    below the group — is the exclusive ``quantiles.prefix_scan`` sum of
    ``t``, so 2R stays integral even with .5 midranks."""
    return prefix_scan(per, by, "bucket", col, below=t).withColumn(
        "r2", 2 * F.col("below") + t + 1
    )


@query
def events_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between the value
    distributions of two event types — the significance test behind the
    drift family: PSI/KL (``events_value_psi_drift``) quantify *how much*
    two distributions differ, KS says whether the difference clears a
    significance bar at the observed sample sizes.

    D = sup_x |F_a(x) - F_b(x)| needs both empirical CDFs at every
    observed value — a global ordered prefix sum, the one shape that
    doesn't distribute naively. This runs it WITHOUT a global sort: one
    hash aggregate to per-distinct-value counts, then the two inclusive
    running sums of ``quantiles.prefix_scan`` (bucket subtotals cumulated
    over the tiny ordered bucket frame — value buckets refine value order
    — plus within-bucket windows partitioned by bucket), so no pass over
    the data is single-partition. The final max is a scalar aggregate.
    Determinism across engines: each CDF point is one integer-to-integer
    division, so Spark and DuckDB produce bit-identical ratios regardless
    of aggregation order. A type with no rows gives NULL statistics, as
    the oracle does, not a division error.
    """
    ev = _ks_events(spark, sf_dir)
    cdf = prefix_scan(
        _ks_per_value(ev), [], "bucket", "value", inclusive=True, ca="na", cb="nb"
    )
    totals = ev.agg(F.sum("na").alias("n_a"), F.sum("nb").alias("n_b"))
    d = (
        cdf.crossJoin(F.broadcast(totals))
        .select(
            "n_a",
            "n_b",
            F.abs(
                F.try_divide("ca", "n_a") - F.try_divide("cb", "n_b")
            ).alias("d"),
        )
        .groupBy("n_a", "n_b")
        .agg(F.max("d").alias("ks_stat"), F.count(F.lit(1)).alias("n_points"))
    )
    crit = F.lit(KS_CRIT_95) * F.sqrt(
        F.try_divide(
            F.col("n_a") + F.col("n_b"), F.col("n_a").cast("double") * F.col("n_b")
        )
    )
    return d.select(
        "n_a",
        "n_b",
        "n_points",
        "ks_stat",
        (F.col("ks_stat") > crit).alias("reject_at_95"),
    )


def events_ks_test_oracle() -> str:
    return f"""
    WITH ev AS (
      SELECT event_type, value FROM events
      WHERE event_type IN ('{KS_GROUP_A}', '{KS_GROUP_B}')
        AND value IS NOT NULL
    ),
    s AS (
      SELECT value,
             sum(CASE WHEN event_type = '{KS_GROUP_A}' THEN 1 ELSE 0 END) AS na,
             sum(CASE WHEN event_type = '{KS_GROUP_B}' THEN 1 ELSE 0 END) AS nb
      FROM ev GROUP BY value
    ),
    t AS (
      SELECT sum(na) AS n_a, sum(nb) AS n_b FROM s
    ),
    cdf AS (
      SELECT sum(na) OVER (ORDER BY value) AS ca,
             sum(nb) OVER (ORDER BY value) AS cb
      FROM s
    ),
    d AS (
      SELECT t.n_a, t.n_b, count(*) AS n_points,
             max(abs(cdf.ca::DOUBLE / t.n_a - cdf.cb::DOUBLE / t.n_b))
               AS ks_stat
      FROM cdf CROSS JOIN t GROUP BY t.n_a, t.n_b
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           n_points, ks_stat,
           ks_stat > {KS_CRIT_95}
             * sqrt((n_a + n_b) / (n_a::DOUBLE * n_b)) AS reject_at_95
    FROM d
    """


WELCH_GROUP_A = "view"
WELCH_GROUP_B = "error"


@query
def events_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between two event types' value
    means — the experimentation-analytics primitive (A/B test readout)
    and the parametric sibling of ``events_ks_test``. One pass, one
    combinable aggregate: both groups' count/sum/sum-of-squares come out
    of a single scan (conditional aggregation, not two jobs), and the
    t statistic plus Welch–Satterthwaite degrees of freedom are scalar
    arithmetic on that one row. Sample variance uses the same explicit
    naive-moment formula on both engines ((Σx² - (Σx)²/n)/(n-1)), so the
    only cross-engine drift is summation order, absorbed by the driver's
    9-sig-digit rounding (the ``events_type_correlations`` precedent).
    """
    ev = load_events(spark, sf_dir).filter(
        F.col("event_type").isin(WELCH_GROUP_A, WELCH_GROUP_B)
        & F.col("value").isNotNull()
    )
    is_a = (F.col("event_type") == WELCH_GROUP_A).cast("double")
    is_b = (F.col("event_type") == WELCH_GROUP_B).cast("double")
    v = F.col("value")
    agg = ev.groupBy().agg(
        F.sum(is_a).alias("n_a"),
        F.sum(is_a * v).alias("s_a"),
        F.sum(is_a * v * v).alias("ss_a"),
        F.sum(is_b).alias("n_b"),
        F.sum(is_b * v).alias("s_b"),
        F.sum(is_b * v * v).alias("ss_b"),
    )
    m_a = F.col("s_a") / F.col("n_a")
    m_b = F.col("s_b") / F.col("n_b")
    var_a = (F.col("ss_a") - F.col("s_a") * F.col("s_a") / F.col("n_a")) / (
        F.col("n_a") - 1
    )
    var_b = (F.col("ss_b") - F.col("s_b") * F.col("s_b") / F.col("n_b")) / (
        F.col("n_b") - 1
    )
    se2_a = var_a / F.col("n_a")
    se2_b = var_b / F.col("n_b")
    t = (m_a - m_b) / F.sqrt(se2_a + se2_b)
    df = (se2_a + se2_b) * (se2_a + se2_b) / (
        se2_a * se2_a / (F.col("n_a") - 1) + se2_b * se2_b / (F.col("n_b") - 1)
    )
    return agg.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        m_a.alias("mean_a"),
        m_b.alias("mean_b"),
        var_a.alias("var_a"),
        var_b.alias("var_b"),
        t.alias("t_stat"),
        df.alias("df_welch"),
    )


def events_welch_ttest_oracle() -> str:
    return f"""
    WITH agg AS (
      SELECT
        sum(CASE WHEN event_type = '{WELCH_GROUP_A}' THEN 1.0 ELSE 0 END) AS n_a,
        sum(CASE WHEN event_type = '{WELCH_GROUP_A}' THEN value ELSE 0 END) AS s_a,
        sum(CASE WHEN event_type = '{WELCH_GROUP_A}' THEN value * value ELSE 0 END) AS ss_a,
        sum(CASE WHEN event_type = '{WELCH_GROUP_B}' THEN 1.0 ELSE 0 END) AS n_b,
        sum(CASE WHEN event_type = '{WELCH_GROUP_B}' THEN value ELSE 0 END) AS s_b,
        sum(CASE WHEN event_type = '{WELCH_GROUP_B}' THEN value * value ELSE 0 END) AS ss_b
      FROM events
      WHERE event_type IN ('{WELCH_GROUP_A}', '{WELCH_GROUP_B}')
        AND value IS NOT NULL
    ),
    m AS (
      SELECT n_a, n_b,
             s_a / n_a AS mean_a, s_b / n_b AS mean_b,
             (ss_a - s_a * s_a / n_a) / (n_a - 1) AS var_a,
             (ss_b - s_b * s_b / n_b) / (n_b - 1) AS var_b
      FROM agg
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           mean_a, mean_b, var_a, var_b,
           (mean_a - mean_b)
             / sqrt(var_a / n_a + var_b / n_b) AS t_stat,
           (var_a / n_a + var_b / n_b) * (var_a / n_a + var_b / n_b)
             / ((var_a / n_a) * (var_a / n_a) / (n_a - 1)
                + (var_b / n_b) * (var_b / n_b) / (n_b - 1)) AS df_welch
    FROM m
    """


# --------------------------------------------------------------------------
# CUSUM changepoint localization (WHEN did the level shift)
# --------------------------------------------------------------------------

_CUSUM_DAY_MS = 86_400_000


@query
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type, WHERE the value level shifted: the classic CUSUM
    localization statistic — cumulative sum of deviations from the grand
    mean over the time-ordered daily series, with the changepoint at the
    |cusum| peak (Page 1954; for a single level shift the peak of
    S_d = Σ_{d'<=d}(x_d' − μ̂) is the maximum-likelihood split point).
    Completes the drift family: PSI says how much the distribution moved,
    KS says whether, this says WHEN. Output per type: the changepoint
    day, the signed cusum there, its magnitude, and the series length.

    Scale design: the corpus collapses to (type, day) partial sums via
    ONE map-side-combinable hash aggregate (the first stage of
    ``quantiles.bucket_offsets`` — days are the buckets); the running sum
    and the arg-max are windows/aggs over the tiny |types|×|days| frame,
    so no corpus-wide or per-type sort ever exists — the days frame is
    small enough that no in-bucket stage is needed. The grand mean is
    derived from the partials themselves (one more tiny agg, broadcast
    back). Determinism: the arg-max tie-breaks to the EARLIEST day via
    max_by on (|cusum|, -day).
    """
    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    daily = ev.groupBy(
        "event_type",
        (F.floor(F.col("ts_ms") / F.lit(_CUSUM_DAY_MS)) * _CUSUM_DAY_MS).alias(
            "day_ms"
        ),
    ).agg(F.sum("value").alias("s"), F.count(F.lit(1)).alias("n"))
    tot = daily.groupBy("event_type").agg(
        F.sum("s").alias("tot_s"),
        F.sum("n").alias("tot_n"),
        F.count(F.lit(1)).alias("n_days"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_ms")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = (
        daily.join(F.broadcast(tot), "event_type")
        .withColumn(
            "dev",
            F.col("s") - F.col("n") * (F.col("tot_s") / F.col("tot_n")),
        )
        .withColumn("cusum", F.sum("dev").over(w))
    )
    best = F.max_by(
        F.struct(F.col("day_ms"), F.col("cusum")),
        F.struct(F.abs("cusum").alias("a"), (-F.col("day_ms")).alias("nd")),
    ).alias("b")
    return (
        c.groupBy("event_type")
        .agg(best, F.first("n_days").alias("n_days"))
        .select(
            "event_type",
            F.col("b.day_ms").alias("cp_day_ms"),
            F.col("b.cusum").alias("cusum_at_cp"),
            F.abs(F.col("b.cusum")).alias("max_abs_cusum"),
            "n_days",
        )
        .orderBy("event_type")
    )


def events_cusum_changepoint_oracle() -> str:
    return f"""
    WITH daily AS (
      SELECT event_type,
             (epoch_ms(ts) // {_CUSUM_DAY_MS}) * {_CUSUM_DAY_MS} AS day_ms,
             sum(value) AS s, count(*) AS n
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, sum(s) AS tot_s, sum(n) AS tot_n,
             count(*) AS n_days
      FROM daily GROUP BY 1
    ),
    c AS (
      SELECT d.event_type, d.day_ms, t.n_days,
             sum(d.s - d.n * (t.tot_s / t.tot_n)) OVER (
               PARTITION BY d.event_type ORDER BY d.day_ms
               ROWS UNBOUNDED PRECEDING
             ) AS cusum
      FROM daily d JOIN tot t USING (event_type)
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY event_type ORDER BY abs(cusum) DESC, day_ms ASC
      ) AS rn
      FROM c
    )
    SELECT event_type, day_ms AS cp_day_ms, cusum AS cusum_at_cp,
           abs(cusum) AS max_abs_cusum, n_days::BIGINT AS n_days
    FROM ranked WHERE rn = 1 ORDER BY event_type
    """


# --------------------------------------------------------------------------
# Mann–Whitney U (rank-based two-sample test, tie-corrected)
# --------------------------------------------------------------------------

#: |z| threshold for the two-sided 5% significance readout.
MWU_Z_95 = 1.959963984540054


@query
def events_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Mann–Whitney U between the value distributions of the
    two KS event types — the RANK-based member of the two-sample family
    (Welch compares means, KS compares CDFs, U compares stochastic order;
    it's the test of record when values are heavy-tailed and a mean is
    meaningless). Output: sample sizes, both U statistics, the normal
    approximation's mean/sd, z, and the 5% two-sided verdict.

    Scale design: midranks never materialize per row — one hash aggregate
    collapses the corpus to per-DISTINCT-VALUE (n_a, n_b) counts, then
    the rank prefix runs over that tie-group frame as the exclusive
    ``quantiles.prefix_scan`` sum of ``_midranks2`` (value buckets refine
    value order; every window is bucket-partitioned). Everything
    up to the final z is INTEGER arithmetic — rank sums are kept doubled
    (2·R is always integral even with .5 midranks) and the tie-correction
    Σ(t³−t) is exact — so both engines agree bit-for-bit on U and only
    the last sqrt/division is floating point. A type with no rows gives a
    NULL z, as the oracle does, not a division error.
    """
    t = F.col("na") + F.col("nb")
    ranked = _midranks2(_ks_per_value(_ks_events(spark, sf_dir)), [], "value", t)
    agg = ranked.agg(
        F.sum("na").alias("n_a"),
        F.sum("nb").alias("n_b"),
        F.sum(F.col("na") * F.col("r2")).alias("r2_a"),
        F.sum(t * t * t - t).alias("tie3"),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    n = n_a + n_b
    u2_a = F.col("r2_a") - n_a * (n_a + 1)  # 2·U_a, exact bigint
    u2_b = 2 * n_a * n_b - u2_a
    mu2 = n_a * n_b  # 2·mean of U
    var = (
        n_a.cast("double")
        * n_b.cast("double")
        / 12.0
        * (
            (n + 1).cast("double")
            - F.try_divide(
                F.col("tie3").cast("double"),
                n.cast("double") * (n - 1).cast("double"),
            )
        )
    )
    z = F.try_divide((u2_a - mu2).cast("double"), 2.0 * F.sqrt(var))
    return agg.select(
        "n_a",
        "n_b",
        (u2_a.cast("double") / 2.0).alias("u_a"),
        (u2_b.cast("double") / 2.0).alias("u_b"),
        z.alias("z"),
        (F.abs(z) > F.lit(MWU_Z_95)).alias("significant_95"),
    )


def events_mannwhitney_u_oracle() -> str:
    return f"""
    WITH ev AS (
      SELECT event_type, value FROM events
      WHERE event_type IN ('{KS_GROUP_A}', '{KS_GROUP_B}')
        AND value IS NOT NULL
    ),
    per_value AS (
      SELECT value,
             CAST(sum(CASE WHEN event_type = '{KS_GROUP_A}' THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(sum(CASE WHEN event_type = '{KS_GROUP_B}' THEN 1 ELSE 0 END) AS BIGINT) AS nb
      FROM ev GROUP BY value
    ),
    ranked AS (
      SELECT na, nb, na + nb AS t,
             coalesce(CAST(sum(na + nb) OVER (
               ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS BIGINT), 0) AS below
      FROM per_value
    ),
    agg AS (
      SELECT CAST(sum(na) AS BIGINT) AS n_a, CAST(sum(nb) AS BIGINT) AS n_b,
             CAST(sum(na * (2 * below + t + 1)) AS BIGINT) AS r2_a,
             CAST(sum(t * t * t - t) AS BIGINT) AS tie3
      FROM ranked
    )
    SELECT n_a, n_b,
           (r2_a - n_a * (n_a + 1)) / 2.0 AS u_a,
           (2 * n_a * n_b - (r2_a - n_a * (n_a + 1))) / 2.0 AS u_b,
           ((r2_a - n_a * (n_a + 1)) - n_a * n_b)::DOUBLE
             / (2.0 * sqrt(n_a::DOUBLE * n_b::DOUBLE / 12.0
                 * ((n_a + n_b + 1)::DOUBLE
                    - tie3::DOUBLE / ((n_a + n_b)::DOUBLE
                                      * (n_a + n_b - 1)::DOUBLE)))) AS z,
           abs(((r2_a - n_a * (n_a + 1)) - n_a * n_b)::DOUBLE
             / (2.0 * sqrt(n_a::DOUBLE * n_b::DOUBLE / 12.0
                 * ((n_a + n_b + 1)::DOUBLE
                    - tie3::DOUBLE / ((n_a + n_b)::DOUBLE
                                      * (n_a + n_b - 1)::DOUBLE)))))
             > {MWU_Z_95} AS significant_95
    FROM agg
    """


# --------------------------------------------------------------------------
# robust outliers: median absolute deviation (modified z-score)
# --------------------------------------------------------------------------

#: Iglewicz–Hoberg modified z-score: 0.6745·(x − median)/MAD, flag |z|>3.5
#: (the published consistency constant and cutoff). MAD-based flagging is
#: the ROBUST member of the anomaly family: events_value_anomalies'
#: mean/stddev z-score lets a single extreme value inflate sigma until it
#: masks every other outlier; median and MAD have 50% breakdown.
MAD_CONSISTENCY = 0.6745
MAD_Z_CUT = 3.5


@query
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type MAD outliers: flag events whose modified z-score
    0.6745·(value − median)/MAD exceeds 3.5 in magnitude — the robust
    upgrade of ``events_value_anomalies`` (whose mean/σ baseline is
    itself dragged by the outliers it is hunting).

    Scale design: TWO chained ``quantiles.exact_group_quantiles`` fits —
    the per-type median, broadcast back for the absolute deviations, then
    the per-type median of those deviations (the MAD) — each a
    bucket-prefix kth-order-statistic pass with no per-type sort or
    window over the corpus; the deviation frame is localCheckpointed
    because the second fit reads it three times. Flagging is a map-side
    broadcast join + filter. Engine-exact: both medians interpolate at
    frac ∈ {0, 1/2} on identical doubles, and the modified z is the same
    left-to-right expression on both engines, so the flag set cannot
    straddle an ulp. Types with MAD = 0 (a majority-constant value) emit
    nothing — documented, mirrored in the oracle; a production recipe
    falls back to the mean-σ scorer for those.
    """
    ev = (
        load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select("event_id", "event_type", "value")
        .localCheckpoint(eager=True)
    )
    med = exact_group_quantiles(ev, ["event_type"], "value", {"med": (1, 2)})
    dev = (
        ev.join(F.broadcast(med), "event_type")
        .withColumn("absdev", F.abs(F.col("value") - F.col("med")))
        .localCheckpoint(eager=True)
    )
    mad = exact_group_quantiles(dev, ["event_type"], "absdev", {"mad": (1, 2)})
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(
            (F.col("mad") > 0)
            & (
                F.lit(MAD_CONSISTENCY) * F.col("absdev") / F.col("mad")
                > F.lit(MAD_Z_CUT)
            )
        )
        .select(
            "event_id",
            "event_type",
            "value",
            (
                F.lit(MAD_CONSISTENCY)
                * (F.col("value") - F.col("med"))
                / F.col("mad")
            ).alias("mod_z"),
        )
    )


def events_mad_outliers_oracle() -> str:
    m = oracle_group_quantile_sql(
        "ev", ["event_type"], "value", {"med": (1, 2)}, prefix="_m"
    )
    d = oracle_group_quantile_sql(
        "dev", ["event_type"], "absdev", {"mad": (1, 2)}, prefix="_d"
    )
    return f"""
    WITH ev AS (
      SELECT event_id, event_type, value FROM events WHERE value IS NOT NULL
    ),{m},
    dev AS (
      SELECT e.event_id, e.event_type, e.value, t.med,
             abs(e.value - t.med) AS absdev
      FROM ev e JOIN _m_thr t USING (event_type)
    ),{d}
    SELECT v.event_id, v.event_type, v.value,
           {MAD_CONSISTENCY} * (v.value - v.med) / t.mad AS mod_z
    FROM dev v JOIN _d_thr t USING (event_type)
    WHERE t.mad > 0 AND {MAD_CONSISTENCY} * v.absdev / t.mad > {MAD_Z_CUT}
    """


@query(oracle=None)  # sketch medians: rows-only; exact twin is the anchor
def events_mad_outliers_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPROX twin of ``events_mad_outliers`` (rows-only): median and MAD
    come from two chained ``approx_percentile`` sketch aggregates instead
    of the exact bucket-prefix fits — the web-scale form (one mergeable
    sketch pass per level, no histogram/target-bucket machinery), with
    the exact op as its oracle-anchored baseline. Sketch medians are
    engine-specific, hence rows-only; tests pin the flag set against the
    exact twin's within sketch tolerance."""
    ev = (
        load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select("event_id", "event_type", "value")
        .localCheckpoint(eager=True)
    )
    med = ev.groupBy("event_type").agg(
        F.expr("approx_percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "absdev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("approx_percentile(absdev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(
            (F.col("mad") > 0)
            & (
                F.lit(MAD_CONSISTENCY) * F.col("absdev") / F.col("mad")
                > F.lit(MAD_Z_CUT)
            )
        )
        .select(
            "event_id",
            "event_type",
            "value",
            (
                F.lit(MAD_CONSISTENCY)
                * (F.col("value") - F.col("med"))
                / F.col("mad")
            ).alias("mod_z"),
        )
    )


# --------------------------------------------------------------------------
# Spearman rank trend (nonparametric monotone-trend measure)
# --------------------------------------------------------------------------

#: Time bucket for the rank locate stage (one day of epoch-millis); value
#: side reuses KS_BUCKET_WIDTH. Bucket width tunes parallelism only,
#: never the result.
SPEARMAN_TS_BUCKET_MS = 86_400_000


@query
def events_spearman_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Spearman rank correlation between event TIME and
    value — the nonparametric monotone-trend test (a drifting sensor
    shows ρ far from 0 even when the drift is nonlinear, where Pearson
    on raw values chases the curve's shape and the mean-based trend op
    chases outliers). Ties get textbook midranks; ρ = Pearson correlation
    of the rank sequences, computed on DOUBLED midranks (2R is integral
    even with .5 midranks, and correlation is scale-invariant), so rank
    construction is pure integer arithmetic on both engines.

    Scale design: ranks never come from a per-type global sort. Each
    axis collapses to per-DISTINCT-value tie-group counts (one hash
    aggregate), gets its corpus-wide rank prefix from ``_midranks2``
    (the ``quantiles.prefix_scan`` sum ``events_mannwhitney_u`` ranks
    with: tiny per-(type, bucket) frame windows, bucket order refines
    value order), and joins back to event rows on the (type, value) key —
    high-cardinality, skew-free. One final combinable aggregate emits
    |types| rows. Types with a constant axis (rank variance 0, ρ
    undefined) are excluded by distinct-count guard on BOTH engines —
    Spark yields NaN and DuckDB NULL for corr of a constant, which would
    be a spurious hash mismatch, not a semantic one.
    """
    ev = (
        load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select("event_type", "ts_ms", "value")
    )

    def ranks2(col: str, width: float) -> DataFrame:
        per = ev.groupBy("event_type", col).agg(
            F.count(F.lit(1)).alias("t")
        ).withColumn("bucket", F.floor(F.col(col) / F.lit(width)))
        return _midranks2(per, ["event_type"], col, F.col("t")).select(
            "event_type", col, "r2"
        )

    rx = ranks2("ts_ms", SPEARMAN_TS_BUCKET_MS).withColumnRenamed("r2", "rx2")
    ry = ranks2("value", KS_BUCKET_WIDTH).withColumnRenamed("r2", "ry2")
    joined = ev.join(rx, ["event_type", "ts_ms"]).join(
        ry, ["event_type", "value"]
    )
    # the degenerate guard must run BEFORE corr, not as a post-filter:
    # Spark 4's ANSI-mode corr THROWS DIVIDE_BY_ZERO on a zero-variance
    # group instead of yielding NaN (pinned by the hand test's constant
    # type), so filter those groups out with a broadcast semi-join on a
    # tiny per-type distinct-count aggregate
    ok = (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("ts_ms").alias("_dx"),
            F.countDistinct("value").alias("_dy"),
        )
        .filter((F.col("_dx") > 1) & (F.col("_dy") > 1))
        .select("event_type")
    )
    return (
        joined.join(F.broadcast(ok), "event_type", "left_semi")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.corr(F.col("rx2").cast("double"), F.col("ry2").cast("double")).alias(
                "spearman_rho"
            ),
        )
        .orderBy("event_type")
    )


def events_spearman_trend_oracle() -> str:
    # Independent algorithm: per-row midranks straight from window
    # rank()/count() (2·rank + t − 1 = the engine's 2·below + t + 1),
    # instead of the bucketed prefix scan.
    return """
    WITH ev AS (
      SELECT event_type, epoch_ms(ts) AS ts_ms, value FROM events
      WHERE value IS NOT NULL
    ),
    scored AS (
      SELECT event_type, ts_ms, value,
             2 * rank() OVER (PARTITION BY event_type ORDER BY ts_ms)
               + count(*) OVER (PARTITION BY event_type, ts_ms) - 1 AS rx2,
             2 * rank() OVER (PARTITION BY event_type ORDER BY value)
               + count(*) OVER (PARTITION BY event_type, value) - 1 AS ry2
      FROM ev
    )
    SELECT event_type, count(*) AS n,
           corr(rx2::DOUBLE, ry2::DOUBLE) AS spearman_rho
    FROM scored GROUP BY event_type
    HAVING count(DISTINCT ts_ms) > 1 AND count(DISTINCT value) > 1
    ORDER BY event_type
    """
