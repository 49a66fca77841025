"""Time-series operators over the ``events`` table (north-star extensions).

The reference's time handling is limited to per-timestamp GROUP BY and two
globally-ordered windows (SURVEY.md §2.5, reference process.py:175-249);
this module adds the hypertable-style surface a telemetry store needs:

- ``events_gapfill_locf``   — regularize each user's stream onto an hourly
  grid (gap filling) and carry the last observation forward (LOCF).
- ``events_sliding_rollup`` — hopping-window rollup (1 h window / 30 min
  slide); the streaming twin is ``streaming/windows.sliding_rollup``.

Scale notes (100 TB): every shuffle here is keyed by ``user_id`` (or
``(user_id, hour)``) — no global sort, no driver collect. The dense grid is
generated per user from that user's own [min, max] hour span, so spine size
is bounded by sum(user activity spans), not (n_users × global span): dormant
users don't inflate the grid. ``sequence()`` explodes map-side after a
single per-user aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from komodo_data_spark.registry import query
from komodo_data_spark.sources.tables import load_events

HOUR_MS = 3_600_000
SLIDE_MS = 1_800_000


@query
def events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-user grid with last-observation-carried-forward values.

    Three stages, each one exchange:
    1. hourly downsample — per (user, hour) keep the LAST event's value,
       decided by max(struct(ts_ms, event_id, value)): struct ordering gives
       a total, engine-portable tie-break (event_id breaks equal-ms stamps)
       and is a map-side-combinable aggregate (shuffles one struct per
       (user, hour), not the raw events);
    2. spine — per user, explode sequence(min_hour, max_hour) so every hour
       in the user's own active span exists exactly once;
    3. LOCF — last(value, ignorenulls) over (user ORDER BY hour): Spark
       evaluates it with a running state in one pass per partition.

    Output: (user_id, hour_ms, value_filled, had_events).
    """
    ev = load_events(spark, sf_dir).select("user_id", "ts_ms", "event_id", "value")
    hour = (F.floor(F.col("ts_ms") / F.lit(HOUR_MS)) * F.lit(HOUR_MS)).alias("hour_ms")

    hourly = (
        ev.groupBy("user_id", hour)
        .agg(
            F.max(F.struct("ts_ms", "event_id", "value"))
            .getField("value")
            .alias("last_value")
        )
    )

    spine = (
        hourly.groupBy("user_id")
        .agg(F.min("hour_ms").alias("lo"), F.max("hour_ms").alias("hi"))
        .select(
            "user_id",
            F.explode(F.sequence("lo", "hi", F.lit(HOUR_MS))).alias("hour_ms"),
        )
    )

    w = Window.partitionBy("user_id").orderBy("hour_ms").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        spine.join(hourly, ["user_id", "hour_ms"], "left")
        .select(
            "user_id",
            "hour_ms",
            F.last("last_value", ignorenulls=True).over(w).alias("value_filled"),
            F.col("last_value").isNotNull().alias("had_events"),
        )
    )


def events_gapfill_locf_oracle() -> str:
    return f"""
    WITH hourly AS (
      SELECT user_id, (epoch_ms(ts) // {HOUR_MS}) * {HOUR_MS} AS hour_ms,
             value AS last_value
      FROM events
      QUALIFY row_number() OVER (
        PARTITION BY user_id, hour_ms
        ORDER BY epoch_ms(ts) DESC, event_id DESC, value DESC
      ) = 1
    ), spine AS (
      SELECT user_id, unnest(range(min(hour_ms), max(hour_ms) + 1, {HOUR_MS}))
             AS hour_ms
      FROM hourly GROUP BY user_id
    )
    SELECT s.user_id, s.hour_ms,
           last_value(h.last_value IGNORE NULLS) OVER (
             PARTITION BY s.user_id ORDER BY s.hour_ms
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value_filled,
           h.last_value IS NOT NULL AS had_events
    FROM spine s LEFT JOIN hourly h USING (user_id, hour_ms)
    """


@query
def events_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window rollup: 1-hour windows every 30 minutes per event type.

    Built-in ``F.window(ts, '1 hour', '30 minutes')`` — Catalyst expands each
    event into its size/slide = 2 overlapping windows map-side (an Expand,
    no join against a window table), then a single hash aggregate on
    (window, event_type). The streaming twin shares this exact plan plus a
    watermark (streaming/windows.sliding_rollup; stream == batch pinned in
    tests/test_streaming_windows.py).
    """
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts_ts", "1 hour", "30 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.unix_millis(F.col("window.start")).alias("window_start_ms"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def events_sliding_rollup_oracle() -> str:
    # Each event belongs to exactly size/slide = 2 hopping windows:
    # starts (epoch_ms // slide - k) * slide for k in {0, 1}.
    return f"""
    SELECT (epoch_ms(e.ts) // {SLIDE_MS} - k.k) * {SLIDE_MS} AS window_start_ms,
           e.event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events e CROSS JOIN (VALUES (0), (1)) k(k)
    GROUP BY 1, 2
    """


#: Reporting timezone for the local-day rollup (DST-aware via ICU/JVM tz db).
LOCAL_TZ = "America/New_York"


@query
def events_local_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily rollup in a reporting timezone: UTC event instants bucketed by
    their LOCAL calendar day (DST-aware — an epoch-math `div 86400000`
    gets the 23/25-hour transition days wrong, which is exactly why this
    exists next to events_hourly_rollup's epoch buckets).

    ``convert_timezone`` is a codegen scalar, so bucketing stays map-side;
    one shuffle on (local_date, event_type), same as any rollup.
    """
    ev = load_events(spark, sf_dir)
    local_day = F.date_format(
        F.convert_timezone(F.lit("UTC"), F.lit(LOCAL_TZ), F.col("ts_ts")),
        "yyyy-MM-dd",
    ).alias("local_date")
    return ev.groupBy(local_day, "event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )


def events_local_daily_rollup_oracle() -> str:
    return f"""
    SELECT strftime((ts AT TIME ZONE 'UTC') AT TIME ZONE '{LOCAL_TZ}',
                    '%Y-%m-%d') AS local_date,
           event_type, count(*) AS n_events
    FROM events GROUP BY 1, 2
    """


#: EWMA smoothing factor for the hourly event-rate monitor: s_h =
#: EWMA_ALPHA*c_h + (1-EWMA_ALPHA)*s_{h-1}, seeded s_0 = c_0. 0.5 is a
#: standard choice for hourly monitors (half-life = 1 hour) AND makes the
#: whole computation DYADIC: every decay power is a power of two, so each
#: term n_i*2^i is an exactly-representable double and the prefix sum is
#: exact in ANY addition order — which is what makes the result
#: bit-identical between Spark's sequential window sum and DuckDB's
#: segment-tree one (measured: a non-dyadic alpha flips the gate's
#: 9-significant-digit rounding on 1-ulp straddles).
EWMA_ALPHA = 0.5


@query
def events_ewma_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of the hourly event rate per
    (event_type, UTC day) — the smoothing step under every ops-style
    rate monitor (alerts fire on EWMA crossings, not raw spikes; cf.
    ``events_cusum_changepoint`` which detects level shifts on the same
    grid). Missing hours count as zero: the 24-slot grid per (type, day)
    is densified first, because an EWMA over only-observed points silently
    stretches its time constant across gaps.

    Scale design — the recurrence is a LINEAR one, so it needs no
    sequential scan: with b = 1-alpha,
    s_h = b^h * (c_0 + alpha * sum_{i=1..h} c_i * b^(-i)),
    i.e. one prefix sum over a bounded 24-row frame per (type, day). The
    corpus-scale work is a single map-side-combinable count aggregate to
    (type, day, hour) partials; the window runs on that tiny frame,
    partitioned by (type, day) — thousands of independent 24-row frames,
    never a global or per-type-unbounded sort. b^(-i) is bounded by
    b^(-23) = 2^23 at the dyadic alpha, so the rescaled prefix sum stays
    in doubles' exact-integer range (the boundedness is WHY the frame is
    the day — an unbounded-history EWMA would rescale by b^(-t)
    unboundedly; the day reset is the standard monitoring convention
    anyway). Streaming twin: ``streaming/ewma_incremental.py`` keeps the
    hourly partials as a sum-mergeable counter store and replays this
    exact math at read time.
    """
    return ewma_from_counts(hourly_counts(load_events(spark, sf_dir)))


def hourly_counts(ev: DataFrame) -> DataFrame:
    """(event_type, day, h, n) hourly partials for an events frame — THE
    count kernel, shared with the streaming counter store
    (``streaming/ewma_incremental.py``) whose epochs sum-merge to exactly
    these partials."""
    return ev.groupBy(
        "event_type",
        F.expr(f"ts_ms div {DAY_MS}").alias("day"),
        F.expr(f"(ts_ms div {HOUR_MS}) % 24").alias("h"),
    ).agg(F.count(F.lit(1)).alias("n"))


def ewma_from_counts(c: DataFrame) -> DataFrame:
    """Grid densification + closed-form EWMA over (event_type, day, h, n)
    partials — the math half of ``events_ewma_hourly``, shared by the
    streaming read so stream and batch cannot disagree."""
    spine = (
        c.select("event_type", "day")
        .distinct()
        .select(
            "event_type",
            "day",
            F.explode(F.sequence(F.lit(0), F.lit(23))).alias("h"),
        )
    )
    grid = spine.join(c, ["event_type", "day", "h"], "left").select(
        "event_type",
        "day",
        "h",
        F.coalesce("n", F.lit(0)).alias("n"),
    )
    # The 24 decay powers are computed ONCE here in Python and injected as
    # the same double literals into BOTH engines (Spark here, DuckDB in the
    # oracle): JVM pow and C pow disagree in the last ulp for some
    # exponents. With the dyadic EWMA_ALPHA the terms are exact integers
    # scaled by powers of two, so the window sum is exact regardless of
    # the engines' different accumulation orders (see EWMA_ALPHA note;
    # exactness holds while n * 2^23 stays under 2^53 — i.e. per-cell
    # hourly counts below ~10^9, far past any per-(type, day, hour) cell).
    pow_b, inv_b = _ewma_power_tables()
    w = (
        Window.partitionBy("event_type", "day")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    hidx = F.col("h").cast("int") + F.lit(1)
    term = F.when(F.col("h") == 0, F.lit(0.0)).otherwise(
        F.col("n") * F.element_at(F.array(*[F.lit(v) for v in inv_b]), hidx)
    )
    return grid.select(
        "event_type",
        (F.col("day") * F.lit(DAY_MS)).alias("day_ms"),
        F.col("h").alias("hour"),
        F.col("n").alias("n_events"),
        (
            F.element_at(F.array(*[F.lit(v) for v in pow_b]), hidx)
            * (
                F.first("n").over(w)
                + F.lit(EWMA_ALPHA) * F.sum(term).over(w)
            )
        ).alias("ewma"),
    )


def _ewma_power_tables() -> tuple[list[float], list[float]]:
    """(b^h, b^-h) for h in 0..23 — THE decay tables, shared verbatim by
    the operator and its oracle so the engines cannot disagree."""
    b = 1.0 - EWMA_ALPHA
    return [b**h for h in range(24)], [b**-h for h in range(24)]


def events_ewma_hourly_oracle() -> str:
    pow_b, inv_b = _ewma_power_tables()
    # ::DOUBLE per element — DuckDB parses bare decimal literals as
    # DECIMAL(38) and the windowed decimal multiply overflows at sf0.1
    pow_lit = "[" + ", ".join(f"{v!r}::DOUBLE" for v in pow_b) + "]"
    inv_lit = "[" + ", ".join(f"{v!r}::DOUBLE" for v in inv_b) + "]"
    return f"""
    WITH c AS (
      SELECT event_type, epoch_ms(ts) // {DAY_MS} AS day,
             (epoch_ms(ts) // {HOUR_MS}) % 24 AS h, count(*) AS n
      FROM events GROUP BY 1, 2, 3
    ),
    spine AS (
      SELECT event_type, day, unnest(range(0, 24)) AS h
      FROM (SELECT DISTINCT event_type, day FROM c)
    ),
    grid AS (
      SELECT s.event_type, s.day, s.h, coalesce(c.n, 0) AS n
      FROM spine s LEFT JOIN c USING (event_type, day, h)
    )
    SELECT event_type, day * {DAY_MS} AS day_ms, h AS hour, n AS n_events,
           {pow_lit}[h + 1] * (
             first_value(n) OVER w
             + {EWMA_ALPHA}::DOUBLE * sum(CASE WHEN h = 0 THEN 0.0::DOUBLE
                                       ELSE n * {inv_lit}[h + 1] END) OVER w
           ) AS ewma
    FROM grid
    WINDOW w AS (PARTITION BY event_type, day ORDER BY h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """


DAY_MS = 86_400_000


@query
def events_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily statistics assembled by MERGING hourly partial aggregates —
    the incremental-rollup lifecycle at 100 TB: each hour's scan persists a
    tiny partial-state row (count, sum, min, max, sum-of-squares) and the
    daily (or monthly) rollup combines STORED partials without ever
    re-reading raw history. Everything emitted is algebraic: counts/sums
    add, min/max fold, and mean/variance derive from the merged moments —
    so merge(partials) is provably equal to a direct aggregate over raw,
    which is exactly what the oracle computes (same naive moment formulas;
    the 9-sig-digit value hash absorbs fold-order float drift, the
    ``events_type_correlations`` precedent).

    The frequency-sketch sibling is ``events_heavy_hitters_merged``, the
    distinct-count sibling ``events_distinct_sketch_union``; this is the
    plain-statistics member of the mergeable-state family. Plan shape:
    two cascaded hash aggregates (hour grain → day grain). The first
    shuffles pre-combined hourly buffers (map-side combine makes carried
    rows ≤ |hours|·|partitions|); the second shuffles ≤ |hours| rows.
    NULL ``value`` rows count toward traffic (n_events) but contribute no
    moments (n_values), mirroring SQL aggregate NULL-skipping.
    """
    return merge_daily(hourly_partials(load_events(spark, sf_dir)))


def hourly_partials(ev: DataFrame) -> DataFrame:
    """THE hourly partial-state row (count, null-skipping count, sum, min,
    max, sum-of-squares) — shared by the batch merge above and the
    streaming moments store (streaming/moments_incremental.py) so the two
    lifecycles can never persist different state shapes."""
    return ev.groupBy(
        F.floor(F.col("ts_ms") / F.lit(HOUR_MS)).alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("value").alias("n_values"),
        F.sum("value").alias("sum_v"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
        F.sum(F.col("value") * F.col("value")).alias("sumsq_v"),
    )


def merge_daily(hourly: DataFrame) -> DataFrame:
    """THE partial-merge: fold any number of hourly partial rows (an hour
    may appear many times — e.g. once per stream epoch) into daily
    statistics. Counts/sums add, min/max fold, moments derive."""
    daily = hourly.groupBy(
        (F.floor(F.col("hour") / F.lit(24)) * F.lit(DAY_MS)).alias("day_ms")
    ).agg(
        F.sum("n_events").alias("n_events"),
        F.sum("n_values").alias("n_values"),
        F.sum("sum_v").alias("sum_value"),
        F.min("min_v").alias("min_value"),
        F.max("max_v").alias("max_value"),
        F.sum("sumsq_v").alias("sumsq"),
    )
    mean = F.col("sum_value") / F.col("n_values")
    return daily.select(
        "day_ms",
        "n_events",
        "n_values",
        "sum_value",
        "min_value",
        "max_value",
        F.when(F.col("n_values") > 0, mean).alias("mean_value"),
        F.when(
            F.col("n_values") > 0,
            F.col("sumsq") / F.col("n_values") - mean * mean,
        ).alias("var_pop_value"),
    )


def events_rollup_merge_oracle() -> str:
    return f"""
    WITH direct AS (
      SELECT (epoch_ms(ts) // {DAY_MS}) * {DAY_MS} AS day_ms,
             count(*) AS n_events,
             count(value) AS n_values,
             sum(value) AS sum_value,
             min(value) AS min_value,
             max(value) AS max_value,
             sum(value * value) AS sumsq
      FROM events GROUP BY 1
    )
    SELECT day_ms, n_events, n_values, sum_value, min_value, max_value,
           CASE WHEN n_values > 0 THEN sum_value / n_values END AS mean_value,
           CASE WHEN n_values > 0
                THEN sumsq / n_values - (sum_value / n_values)
                     * (sum_value / n_values) END AS var_pop_value
    FROM direct
    """


# --------------------------------------------------------------------------
# fixed-grid value-histogram percentiles (mergeable quantile state)
# --------------------------------------------------------------------------

#: Fixed histogram grid for the events ``value`` domain. A FIXED grid is
#: what makes the state exactly mergeable (bin counts add across partials
#: with zero error — unlike t-digest/KLL whose merges drift), at the cost
#: of a domain-knowledge choice: the grid should cover the monitored
#: range (value spans [0, ~560] across every driver SF; 256 x 2.5 covers
#: to 640 with room). Values OUTSIDE the grid land in explicit
#: underflow/overflow bins (b = -1 / VHIST_BINS) rather than silently
#: clamping into the edge bins (round-7 advice: a clamped p99 under
#: value-domain drift read as the top bin edge with no signal) — the
#: partials also carry exact running min/max, so the readout can still
#: estimate inside [min, VHIST_LO] / [VHIST_TOP, max] AND flags every
#: percentile that lands there (``*_clamped``), because the one-bin-width
#: bound below does NOT hold in those bins.
#: Estimation error is bounded by ONE bin width (2.5) by construction
#: AGAINST THE k-TH ORDER STATISTIC (the inverse-CDF quantile) for every
#: IN-GRID percentile: v[k] and its estimate live in the same bin. The
#: LINEARLY-INTERPOLATED percentile has no such bound in sparse tails —
#: its bracket (v[k], v[k+1]) can span many empty bins (measured: click
#: p99 at sf0.001 interpolates across an ~80-unit gap) — which is a
#: property of that definition, not of the histogram; monitors read
#: histogram quantiles as CDF-inverse points (the Prometheus
#: histogram_quantile convention).
VHIST_LO = 0.0
VHIST_W = 2.5
VHIST_BINS = 256
VHIST_TOP = VHIST_LO + VHIST_W * VHIST_BINS  # 640.0 — overflow threshold

#: The percentile panel every latency/metric monitor watches.
VHIST_QS: dict[str, tuple[int, int]] = {
    "p50": (1, 2),
    "p90": (9, 10),
    "p99": (99, 100),
}


def value_hist_partials(ev: DataFrame) -> DataFrame:
    """THE mergeable quantile-state row: per (event_type, bin) value
    counts on the fixed grid — shared by the batch percentile op below
    and the streaming quantile store
    (streaming/quantiles_incremental.py), so the two lifecycles persist
    the same state shape (the ``hourly_partials`` rule). Out-of-grid
    values go to the explicit underflow (-1) / overflow (VHIST_BINS)
    bins, and every partial carries exact min/max (both merge exactly,
    like the counts), so domain drift is visible in the state instead of
    silently absorbed by the edge bins."""
    raw = F.floor((F.col("value") - F.lit(VHIST_LO)) / F.lit(VHIST_W))
    b = (
        F.when(F.col("value") < F.lit(VHIST_LO), F.lit(-1))
        .when(F.col("value") >= F.lit(VHIST_TOP), F.lit(VHIST_BINS))
        .otherwise(F.least(raw, F.lit(VHIST_BINS - 1)))
    )
    return (
        ev.filter(F.col("value").isNotNull())
        .groupBy("event_type", b.cast("int").alias("b"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
        )
    )


def percentiles_from_partials(partials: DataFrame) -> DataFrame:
    """THE read-time fold: merge any number of (event_type, b, n, vmin,
    vmax) partial rows (a bin may appear once per stream epoch) and
    interpolate the VHIST_QS percentiles. Rank brackets use the exact
    integer arithmetic of ``quantiles.exact_group_quantiles``
    (k = ((n-1)·num) div den), so the Spark op, the DuckDB oracle, and
    the Python test reference compute bit-identical estimates; the
    estimate for fractional rank r inside an in-grid bin b is
    lo + w·b + w·(r − cum_before)/n_b — always within the k-statistic's
    own bin, hence within one bin width of the exact k-th order statistic
    (see the VHIST grid note on why the INTERPOLATED percentile is the
    wrong yardstick in sparse tails).

    A rank that lands in the underflow/overflow bin has NO one-bin-width
    guarantee — the readout estimates it inside the exact observed range
    ([min, VHIST_LO) below the grid, [VHIST_TOP, max] above; the merged
    min/max make those brackets exact) and raises the percentile's
    ``*_clamped`` flag so a monitor sees the bound violation instead of a
    silently-wrong edge value. State is |event_types| × ≤VHIST_BINS+2
    rows: window cost at read time is nil and per-batch maintenance is
    one map-side-combinable aggregate."""
    hist = partials.groupBy("event_type", "b").agg(
        F.sum("n").alias("n"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hist = hist.withColumn("cum", F.coalesce(F.sum("n").over(wc), F.lit(0)))
    tot = hist.groupBy("event_type").agg(
        F.sum("n").alias("nn"),
        F.min("vmin").alias("tmin"),
        F.max("vmax").alias("tmax"),
    )
    h = hist.join(F.broadcast(tot), "event_type")
    cols = []
    for name, (num, den) in VHIST_QS.items():
        klo = F.expr(f"((nn - 1) * {num}) div {den}")
        frac = F.expr(f"((nn - 1) * {num}) % {den}").cast("double") / F.lit(
            float(den)
        )
        inbin = (klo >= F.col("cum")) & (klo < F.col("cum") + F.col("n"))
        pos = ((klo - F.col("cum")).cast("double") + frac) / F.col("n")
        est = (
            F.when(
                F.col("b") == -1,
                F.col("tmin") + (F.lit(VHIST_LO) - F.col("tmin")) * pos,
            )
            .when(
                F.col("b") == VHIST_BINS,
                F.lit(VHIST_TOP) + (F.col("tmax") - F.lit(VHIST_TOP)) * pos,
            )
            .otherwise(
                F.lit(VHIST_LO)
                + F.lit(VHIST_W) * F.col("b")
                + F.lit(VHIST_W) * pos
            )
        )
        cols.append(F.min(F.when(inbin, est)).alias(name))
        cols.append(
            F.max(
                F.when(
                    inbin,
                    (F.col("b") == -1) | (F.col("b") == VHIST_BINS),
                )
            ).alias(f"{name}_clamped")
        )
    return h.groupBy("event_type").agg(
        F.first("nn").alias("n_values"), *cols
    ).orderBy("event_type")


@query
def events_value_percentiles_hist(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-event-type p50/p90/p99 from the fixed-grid value histogram —
    the batch anchor of the streaming mergeable quantile store. The
    histogram (not exact-sort) form is deliberately what's benchmarked:
    it is the representation whose state merges exactly across stream
    epochs, and its grid-resolution error bound (one bin width) is pinned
    by test against the exact percentile.

    Scale design: one map-side-combinable (event_type, bin) count over
    the scan — no corpus sort, no per-group windows; the read-time
    interpolation runs over |types| × 256 rows. The same two stages are
    the per-batch write and the store read of the streaming twin."""
    from komodo_data_spark.sources.tables import load_events

    return percentiles_from_partials(
        value_hist_partials(load_events(spark, sf_dir))
    )


def events_value_percentiles_hist_oracle() -> str:
    q_cols = []
    for name, (num, den) in VHIST_QS.items():
        pos = (
            f"(((((nn - 1) * {num}) // {den}) - cum)::DOUBLE +"
            f" (((nn - 1) * {num}) % {den})::DOUBLE / {den}) / n"
        )
        inbin = (
            f"((nn - 1) * {num}) // {den} >= cum AND"
            f" ((nn - 1) * {num}) // {den} < cum + n"
        )
        q_cols.append(
            f"min(CASE WHEN {inbin} THEN"
            f" CASE WHEN b = -1 THEN tmin + ({VHIST_LO} - tmin) * {pos}"
            f"      WHEN b = {VHIST_BINS} THEN"
            f"        {VHIST_TOP} + (tmax - {VHIST_TOP}) * {pos}"
            f"      ELSE {VHIST_LO} + {VHIST_W} * b + {VHIST_W} * {pos}"
            f" END END) AS {name}"
        )
        q_cols.append(
            f"max(CASE WHEN {inbin} THEN"
            f" (b = -1 OR b = {VHIST_BINS}) END) AS {name}_clamped"
        )
    return f"""
    WITH hist AS (
      SELECT event_type,
             CASE WHEN value < {VHIST_LO} THEN -1
                  WHEN value >= {VHIST_TOP} THEN {VHIST_BINS}
                  ELSE least(floor((value - {VHIST_LO}) / {VHIST_W}),
                             {VHIST_BINS - 1})
             END::INT AS b,
             count(*) AS n,
             min(value) AS vmin, max(value) AS vmax
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, b, n,
             coalesce(sum(n) OVER (
               PARTITION BY event_type ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cum,
             sum(n) OVER (PARTITION BY event_type) AS nn,
             min(vmin) OVER (PARTITION BY event_type) AS tmin,
             max(vmax) OVER (PARTITION BY event_type) AS tmax
      FROM hist
    )
    SELECT event_type, max(nn)::BIGINT AS n_values, {", ".join(q_cols)}
    FROM cum GROUP BY event_type ORDER BY event_type
    """


# --------------------------------------------------------------------------
# hourly autocorrelation (seasonality / persistence diagnostic)
# --------------------------------------------------------------------------

#: ACF lags in HOURS. 1 = persistence, 24 = diurnal cycle — the two lags a
#: telemetry monitor actually reads; 2 fills in the short-range decay.
ACF_LAGS = (1, 2, 24)


@query
def events_hourly_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of each event type's HOURLY mean value at lags
    1/2/24 hours — the diagnostic that separates a persistent level
    (high lag-1), white noise (all ≈ 0), and a diurnal cycle (lag-24
    spike); it is what says whether ``events_seasonal_anomalies``' hour-
    of-day baseline is even warranted for a type. Pairs are matched on
    REAL hour offsets (an hour with no events simply contributes no
    pair), so gaps don't smear lags the way positional shifting would.

    Scale design: the corpus collapses to a (type, hour) mean frame with
    one map-side-combinable aggregate; everything after — the lag
    explode, the (type, hour+lag) self-equi-join, and the per-(type,
    lag) correlation — runs on that tiny frame (|types| × |hours| rows,
    KBs at any corpus size). Types/lags with degenerate variance on
    either side are excluded by distinct-count guard on BOTH engines
    (Spark corr yields NaN, DuckDB NULL — a spurious hash mismatch).
    """
    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    hourly = ev.groupBy(
        "event_type", F.expr(f"ts_ms div {HOUR_MS}").alias("hr")
    ).agg(F.avg("value").alias("v"))
    a = hourly.select(
        "event_type",
        "hr",
        F.col("v").alias("v_a"),
        F.explode(F.array(*[F.lit(k) for k in ACF_LAGS])).alias("lag"),
    )
    b = hourly.select(
        "event_type", F.col("hr").alias("hr_b"), F.col("v").alias("v_b")
    )
    pairs = a.join(
        b,
        (a["event_type"] == b["event_type"])
        & (F.col("hr_b") == F.col("hr") + F.col("lag")),
    ).select(a["event_type"], "lag", "v_a", "v_b")
    # the degenerate guard runs BEFORE corr: Spark 4's ANSI corr THROWS
    # DIVIDE_BY_ZERO on a zero-variance group rather than yielding NaN,
    # so filter those (type, lag) cells out first (all tiny frames here)
    ok = (
        pairs.groupBy("event_type", "lag")
        .agg(
            F.countDistinct("v_a").alias("_da"),
            F.countDistinct("v_b").alias("_db"),
        )
        .filter((F.col("_da") > 1) & (F.col("_db") > 1))
        .select("event_type", "lag")
    )
    return (
        pairs.join(F.broadcast(ok), ["event_type", "lag"], "left_semi")
        .groupBy("event_type", "lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.corr("v_a", "v_b").alias("acf"),
        )
        .orderBy("event_type", "lag")
    )


def events_hourly_acf_oracle() -> str:
    lags = ", ".join(str(k) for k in ACF_LAGS)
    return f"""
    WITH hourly AS (
      SELECT event_type, epoch_ms(ts) // {HOUR_MS} AS hr, avg(value) AS v
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.event_type, l.lag, a.v AS v_a, b.v AS v_b
      FROM hourly a
      CROSS JOIN (SELECT unnest([{lags}]) AS lag) l
      JOIN hourly b
        ON b.event_type = a.event_type AND b.hr = a.hr + l.lag
    )
    SELECT event_type, lag, count(*) AS n_pairs, corr(v_a, v_b) AS acf
    FROM pairs GROUP BY 1, 2
    HAVING count(DISTINCT v_a) > 1 AND count(DISTINCT v_b) > 1
    ORDER BY event_type, lag
    """
