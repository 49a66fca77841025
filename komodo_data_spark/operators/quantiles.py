"""Engine-exact per-group quantiles at ARBITRARY fractions, and the
bucketed prefix every ordered running aggregate in the package runs on.

Why this module exists: Spark's exact ``percentile`` and DuckDB's
``quantile_cont`` both linearly interpolate at rank position ``(n-1)*q``,
but each computes that position in ITS OWN floating-point expression.
For a dyadic ``q`` (0.25/0.5/0.75) the product is exact and both engines
pick the same bracket; for any other fraction (0.7, 0.9, 1/3 — the values
real curation recipes use: CCNet head/tail cuts, RFM quintiles) the
position can land within an ulp of an integer on one engine and not the
other, flipping which pair of order statistics the threshold interpolates
between. Round 6 measured exactly that: q=0.7 flipped 2 rows at sf0.001.

The fix implemented here removes floating point from bracket selection
entirely. For ``q = num/den`` (a small rational):

    pos_num = (n - 1) * num            -- exact bigint
    k_lo    = pos_num div den          -- exact integer division
    rem     = pos_num mod den          -- exact remainder
    k_hi    = k_lo + (rem > 0)         -- ceil
    frac    = rem / den                -- ONE double division of small ints
    thr     = v[k_lo] + frac * (v[k_hi] - v[k_lo])

``v[k]`` is the k-th (0-indexed, ascending) order statistic of the group.
Both engines run the same integer arithmetic, the same small-int double
division, and the same three-op interpolation on the same double inputs —
the result is bit-identical by IEEE-754 determinism, for ANY fraction.

The bucketed prefix (:func:`bucket_offsets`, :func:`prefix_scan`,
:func:`range_buckets`) computes an ordered running aggregate without a
global sort: aggregate per bucket (map-side combinable), window over the
tiny bucket frame for each bucket's offset, broadcast the offsets back and
window within each bucket. Exact whenever bucket order refines row order
(a value bucket of the ordering value, a hash prefix, a range partition).
The curriculum, surrogate-key, packing, budget-mix, two-sample-test,
Spearman and skyline queries all run on it.

Order-statistic selection (:func:`_order_stats`) runs on it too rather
than on a per-group window over the corpus: rows are value-bucketed
map-side, the (|groups| x n_buckets) weight histogram's offsets locate
the one bucket holding each target position, and only that bucket's rows
(~ n/n_buckets of the group) are sorted. The unweighted fit is the
weighted one at unit weight. No corpus-wide or group-wide sort exists in
the plan, so the same plan fits a 100 TB group by raising ``n_buckets``
(or recursing a second level, which this corpus never needs).

The reference (process.py) has no quantile operator at all — this is
north-star extension surface (SURVEY.md §2.12 curation ops).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Value-range buckets for the order-statistic locate stage. Each final
#: per-bucket sort touches ~ group_size / N_QUANTILE_BUCKETS rows.
N_QUANTILE_BUCKETS = 64

#: Range partitions of :func:`range_buckets` — a parallelism knob, not a
#: correctness knob: at 100 TB raise it to the cluster's task budget; the
#: offset frame stays |groups| × this.
RANGE_PARTITIONS = 8


def _names(cols: str | list[str]) -> list[str]:
    return [cols] if isinstance(cols, str) else list(cols)


def range_buckets(df: DataFrame, *cols: str) -> DataFrame:
    """Range-partition ``df`` on ``cols`` and record each row's partition
    as the bucket column ``pid``: every row of partition p precedes every
    row of p+1 in ``cols`` order, so ``pid`` refines that order. The frame
    is checkpointed eagerly: partition ids must be identical in the offset
    pass and the in-bucket pass (two plan branches would re-sample range
    boundaries independently)."""
    return (
        df.repartitionByRange(RANGE_PARTITIONS, *cols)
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )


def bucket_offsets(
    df: DataFrame,
    by: list[str],
    bucket: str | list[str],
    fn=F.sum,
    **cols: str | Column,
) -> DataFrame:
    """One row per (``by``, ``bucket``) carrying each ``fn`` aggregate of
    ``cols`` (output name -> column) over the bucket, plus
    ``<name>_before``: the same aggregate over every earlier bucket of the
    ``by`` group (0 for a sum; NULL for ``F.min`` when there is none).
    The window runs over this |groups| × |buckets| frame, never over the
    rows."""
    keys = [*by, *_names(bucket)]
    w = (
        Window.partitionBy(*by)
        .orderBy(*_names(bucket))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = [fn(n).over(w) for n in cols]
    if fn is F.sum:
        before = [F.coalesce(b, F.lit(0)) for b in before]
    return (
        df.groupBy(*keys)
        .agg(*[fn(c).alias(n) for n, c in cols.items()])
        .select(
            *keys, *cols, *[b.alias(f"{n}_before") for b, n in zip(before, cols)]
        )
    )


def prefix_scan(
    df: DataFrame,
    by: list[str],
    bucket: str | list[str],
    order: str | list[str],
    fn=F.sum,
    inclusive: bool = False,
    **cols: str | Column,
) -> DataFrame:
    """``df`` plus one column per ``cols`` entry (output name -> column):
    the running ``fn`` (``F.sum`` or ``F.min``) of that column over the
    rows before each row in (``bucket``, ``order``) order within its
    ``by`` group — up to and including the row when ``inclusive``.
    Exact when ``bucket`` order refines ``order``. The bucket offsets
    broadcast back onto the rows; the row window is partitioned by
    (``by``, ``bucket``), so no stage passes the rows through one task."""
    keys = [*by, *_names(bucket)]
    offsets = bucket_offsets(df, by, bucket, fn, **cols).drop(*cols)
    w = (
        Window.partitionBy(*keys)
        .orderBy(*_names(order))
        .rowsBetween(Window.unboundedPreceding, 0 if inclusive else -1)
    )
    run = []
    for n, c in cols.items():
        before, within = F.col(f"{n}_before"), fn(c).over(w)
        if fn is F.sum:
            run.append(before + F.coalesce(within, F.lit(0)))
        else:
            run.append(F.least(before, within))
    return df.join(F.broadcast(offsets), keys).select(
        *df.columns, *[r.alias(n) for r, n in zip(run, cols)]
    )


def _check(quantiles: dict[str, tuple[int, int]]) -> None:
    for name, (num, den) in quantiles.items():
        if not (0 <= num <= den) or den <= 0:
            raise ValueError(f"quantile {name}: need 0 <= num <= den, got {num}/{den}")


def _order_stats(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight: Column,
    targets: dict[str, Column],
    n_buckets: int,
) -> tuple[DataFrame, DataFrame]:
    """The order-statistic pass every fit shares. ``targets`` maps an
    output name to a 1-based weight position (a column over the group's
    total weight ``_wtot``); per group, ``picked`` holds the value at which
    the running weight in value order first reaches each position. Rows
    with a NULL value or a NULL / non-positive ``weight`` are ignored.
    Returns ``(picked, kframe)``, both keyed by ``group_cols`` (``_g``
    when empty); ``kframe`` is the per-group (_vmin, _vmax, _wtot) frame.

    Stages: per-group extrema + total weight (one combinable aggregate);
    map-side value bucketing (a pure function of (value, extrema), so
    equal values share a bucket); the :func:`bucket_offsets` weight
    histogram, whose interval (_cnt_before, _cnt_before + _cnt] locates
    the bucket of each target; a running weight inside ONLY the located
    buckets (the broadcast semi-join drops every other bucket). Exactly
    one row satisfies _cw - w < _lt <= _cw since weights are positive,
    and the picked VALUE is the same under any tie order."""
    v = F.col(value_col).cast("double")
    w = F.col("_w")
    df = df.select(
        *group_cols, v.alias(value_col), weight.cast("long").alias("_w")
    ).filter(v.isNotNull() & w.isNotNull() & (w > 0))
    # Empty group_cols -> one global group; a constant key keeps every
    # stage identical instead of special-casing the scalar path.
    if not group_cols:
        df = df.withColumn("_g", F.lit(1))
        group_cols = ["_g"]

    kframe = df.groupBy(*group_cols).agg(
        F.min(value_col).alias("_vmin"),
        F.max(value_col).alias("_vmax"),
        F.sum("_w").alias("_wtot"),
    )
    span = F.col("_vmax") - F.col("_vmin")
    bucket = F.when(span <= F.lit(0.0), F.lit(0)).otherwise(
        F.least(
            F.floor((F.col(value_col) - F.col("_vmin")) / span * n_buckets).cast(
                "int"
            ),
            F.lit(n_buckets - 1),
        )
    )
    bucketed = df.join(F.broadcast(kframe), group_cols).withColumn("_b", bucket)

    hist = bucket_offsets(bucketed, group_cols, "_b", _cnt="_w")
    t, before = F.col("_t.t"), F.col("_cnt_before")
    tk = (
        hist.join(kframe, group_cols)
        .select(
            *group_cols,
            "_b",
            "_cnt",
            "_cnt_before",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(name).alias("which"), pos.alias("t"))
                        for name, pos in targets.items()
                    ]
                )
            ).alias("_t"),
        )
        .filter((t > before) & (t <= before + F.col("_cnt")))
        .select(
            *group_cols,
            "_b",
            F.col("_t.which").alias("_which"),
            (t - before).alias("_lt"),
        )
    )

    wrun = (
        Window.partitionBy(*group_cols, "_b", "_which")
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    picked = (
        bucketed.join(F.broadcast(tk), [*group_cols, "_b"])
        .withColumn("_cw", F.sum("_w").over(wrun))
        .filter((F.col("_cw") >= F.col("_lt")) & (F.col("_cw") - w < F.col("_lt")))
        .groupBy(*group_cols)
        .agg(
            *[
                F.min(F.when(F.col("_which") == name, F.col(value_col))).alias(name)
                for name in targets
            ]
        )
    )
    return picked, kframe


def exact_group_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    quantiles: dict[str, tuple[int, int]],
    n_buckets: int = N_QUANTILE_BUCKETS,
) -> DataFrame:
    """Return one row per group with a column per requested quantile.

    ``quantiles`` maps output column name -> ``(num, den)`` with
    ``0 <= num <= den``; the fraction is ``num/den``. ``group_cols`` may
    be empty for a single global quantile row. NULL values are ignored
    (matching ``quantile_cont``). The result frame has |groups| rows and
    is meant to be broadcast back onto the scoring pass.

    Engine-exactness contract: given that ``value_col`` holds doubles
    that are bit-identical to the oracle engine's (same formula on both
    sides — the standard requirement everywhere in this repo), every
    returned threshold is bit-identical to the SQL produced by
    :func:`oracle_group_quantile_sql`.

    Rank k (0-based) is weight position k+1 at unit weight, so both
    bracket ends of every fraction are :func:`_order_stats` targets; the
    interpolation is the one floating-point step, joined on ``kframe``.
    """
    _check(quantiles)

    def krem(num: int, den: int) -> Column:
        return F.expr(f"((_wtot - 1) * {num}) % {den}")

    targets = {}
    for name, (num, den) in quantiles.items():
        klo = F.expr(f"((_wtot - 1) * {num}) div {den}")
        targets[f"_vlo_{name}"] = klo + 1
        targets[f"_vhi_{name}"] = klo + (krem(num, den) > 0).cast("bigint") + 1
    picked, kframe = _order_stats(
        df, group_cols, value_col, F.lit(1), targets, n_buckets
    )
    cols = []
    for name, (num, den) in quantiles.items():
        frac = krem(num, den).cast("double") / F.lit(den).cast("double")
        lo, hi = F.col(f"_vlo_{name}"), F.col(f"_vhi_{name}")
        cols.append((lo + frac * (hi - lo)).alias(name))
    return picked.join(kframe, group_cols or ["_g"]).select(*group_cols, *cols)


def oracle_group_quantile_sql(
    source: str,
    group_cols: list[str],
    value_col: str,
    quantiles: dict[str, tuple[int, int]],
    prefix: str = "_eq",
) -> str:
    """DuckDB CTE block computing the SAME thresholds as
    :func:`exact_group_quantiles` — deliberately via a DIFFERENT algorithm
    (plain per-group ``row_number`` rank selection) so the oracle is an
    independent check of the bucket-prefix plan, not its transliteration.
    Emits CTE bodies ``{prefix}_ranked/_kk/_vv/_thr``; join the final
    ``{prefix}_thr`` (columns: group cols + one column per quantile name).
    Must be embedded in an existing WITH chain (prefix with a comma);
    ``prefix`` disambiguates multiple blocks in one statement.
    """
    g = ", ".join(group_cols) if group_cols else "1 AS _g"
    gkey = ", ".join(group_cols) if group_cols else "_g"
    part = f"PARTITION BY {gkey} " if group_cols else ""
    kk_cols, vv_cols, thr_cols = [], [], []
    for name, (num, den) in quantiles.items():
        kk_cols.append(
            f"((_n - 1) * {num}) // {den} AS _klo_{name}, "
            f"((_n - 1) * {num}) % {den} AS _krem_{name}"
        )
        vv_cols.append(
            f"min(CASE WHEN _r = _klo_{name} THEN _v END) AS _vlo_{name}, "
            f"min(CASE WHEN _r = _klo_{name} + "
            f"(CASE WHEN _krem_{name} > 0 THEN 1 ELSE 0 END) "
            f"THEN _v END) AS _vhi_{name}"
        )
        thr_cols.append(
            f"_vlo_{name} + (_krem_{name}::DOUBLE / {den}) "
            f"* (_vhi_{name} - _vlo_{name}) AS {name}"
        )
    grp_out = (", ".join(group_cols) + ",") if group_cols else ""
    p = prefix
    return f"""
    {p}_base AS (
      SELECT {g}, {value_col}::DOUBLE AS _v FROM {source}
      WHERE {value_col} IS NOT NULL
    ),
    {p}_ranked AS (
      SELECT {gkey}, _v,
             row_number() OVER ({part}ORDER BY _v) - 1 AS _r
      FROM {p}_base
    ),
    {p}_kk AS (
      SELECT {gkey}, {", ".join(kk_cols)}
      FROM (SELECT {gkey}, count(*) AS _n FROM {p}_base GROUP BY {gkey})
    ),
    {p}_vv AS (
      SELECT r.{gkey.replace(", ", ", r.")}, {", ".join(vv_cols)}
      FROM {p}_ranked r JOIN {p}_kk USING ({gkey})
      GROUP BY r.{gkey.replace(", ", ", r.")}
    ),
    {p}_thr AS (
      SELECT {grp_out} {", ".join(thr_cols)}
      FROM {p}_vv JOIN {p}_kk USING ({gkey})
    )"""


def exact_group_weighted_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
    quantiles: dict[str, tuple[int, int]],
    n_buckets: int = N_QUANTILE_BUCKETS,
) -> DataFrame:
    """WEIGHTED-rank sibling of :func:`exact_group_quantiles`: the returned
    threshold for fraction ``q = num/den`` is the smallest value ``v`` such
    that the cumulative WEIGHT of rows with value <= v reaches
    ``target = clamp(ceil(W·num/den), 1, W)`` (W = the group's total
    weight). This is the cut real curation recipes need — "drop the
    lowest-quality 30% of TOKENS" weights each document by its token
    count, not 1 (round-7 verdict #2: the unweighted form selects kth-order
    statistics of rows, so a source full of short junk docs loses far less
    than 30% of its token mass).

    Exactness: weights must be positive INTEGERS (token counts are), so
    ``target`` is pure bigint arithmetic — ``(W·num) div den`` plus a
    remainder test — and the threshold is an ACTUAL data value (no
    interpolation: there is no meaningful between-value token position, and
    skipping it keeps the whole fit in integer + comparison arithmetic,
    bit-identical across engines with no IEEE subtlety at all). Rows with
    NULL value or NULL/non-positive weight are ignored. ``q = 0/den``
    returns the group min (target clamps to 1); ``q = den/den`` the max.

    The fit is :func:`_order_stats` with one target per fraction, so the
    plan has no corpus- or group-wide sort and never joins the extrema
    frame back.
    """
    _check(quantiles)
    targets = {
        name: F.greatest(
            F.least(
                F.expr(
                    f"((_wtot * {num}) div {den}) + "
                    f"(CASE WHEN (_wtot * {num}) % {den} > 0 THEN 1 ELSE 0 END)"
                ),
                F.col("_wtot"),
            ),
            F.lit(1).cast("long"),
        )
        for name, (num, den) in quantiles.items()
    }
    picked, _ = _order_stats(
        df, group_cols, value_col, F.col(weight_col), targets, n_buckets
    )
    return picked.select(*group_cols, *quantiles)


def oracle_group_weighted_quantile_sql(
    source: str,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
    quantiles: dict[str, tuple[int, int]],
    prefix: str = "_wq",
) -> str:
    """DuckDB CTE block computing the SAME thresholds as
    :func:`exact_group_weighted_quantiles` via a DIFFERENT algorithm — a
    RANGE-frame cumulative weight (all value ties included at once) and
    ``min(v) WHERE cumw >= target`` instead of bucket location + first
    crossing — so the oracle independently checks the plan. Emits CTEs
    ``{prefix}_base/_tgt/_cum/_thr``; join ``{prefix}_thr`` (group cols +
    one column per quantile name). Embed in an existing WITH chain.
    """
    g = ", ".join(group_cols) if group_cols else "1 AS _g"
    gkey = ", ".join(group_cols) if group_cols else "_g"
    part = f"PARTITION BY {gkey} " if group_cols else ""
    tgt_cols, thr_cols = [], []
    for name, (num, den) in quantiles.items():
        tgt_cols.append(
            f"greatest(least(((_W * {num}) // {den}) + "
            f"(CASE WHEN (_W * {num}) % {den} > 0 THEN 1 ELSE 0 END), _W), 1) "
            f"AS _tgt_{name}"
        )
        thr_cols.append(
            f"min(CASE WHEN _cw >= _tgt_{name} THEN _v END) AS {name}"
        )
    grp_out = (", ".join(group_cols) + ",") if group_cols else ""
    p = prefix
    return f"""
    {p}_base AS (
      SELECT {g}, {value_col}::DOUBLE AS _v, {weight_col}::BIGINT AS _w
      FROM {source}
      WHERE {value_col} IS NOT NULL AND {weight_col} IS NOT NULL
        AND {weight_col} > 0
    ),
    {p}_tgt AS (
      SELECT {gkey}, {", ".join(tgt_cols)}
      FROM (SELECT {gkey}, sum(_w) AS _W FROM {p}_base GROUP BY {gkey})
    ),
    {p}_cum AS (
      SELECT {gkey}, _v,
             sum(_w) OVER ({part}ORDER BY _v
                           RANGE BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS _cw
      FROM {p}_base
    ),
    {p}_thr AS (
      SELECT {grp_out} {", ".join(thr_cols)}
      FROM {p}_cum JOIN {p}_tgt USING ({gkey})
      GROUP BY {gkey}
    )"""


def exact_group_kth(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int,
    out_col: str = "kth",
    n_buckets: int = N_QUANTILE_BUCKETS,
) -> DataFrame:
    """Value of the k-th SMALLEST element per group (1-based, clamped to
    the group size) — the fixed-rank sibling of
    :func:`exact_group_quantiles`: one :func:`_order_stats` target at unit
    weight, with the rank given absolutely instead of as a fraction of the
    group. This is the primitive behind exact per-group QUOTAS: filter
    ``value <= kth`` to keep exactly k rows per group (when values are
    distinct) without ever sorting a group — the selection plan touches
    ~group/n_buckets rows per group.
    """
    if int(k) < 1:
        raise ValueError(f"{out_col}: kth rank must be >= 1, got {k}")
    target = F.least(F.lit(int(k)).cast("long"), F.col("_wtot"))
    picked, _ = _order_stats(
        df, group_cols, value_col, F.lit(1), {out_col: target}, n_buckets
    )
    return picked.select(*group_cols, out_col)
