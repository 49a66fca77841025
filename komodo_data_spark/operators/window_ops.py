"""Analytic window-function pack over the events table.

SURVEY §2.5 notes the reference uses only LAG (W1/W2); this pack covers the
rest of the analytic surface an engine must have: ranking (percent_rank /
cume_dist / ntile), rows-frame moving aggregates, value-navigation
(lead/lag/first/last), and time-based RANGE frames.

Determinism contract (oracle-matched): every ROWS frame and every
lead/lag is ordered by (ts_ms, event_id) — event_id is unique, so tie
order can never differ between engines. The RANGE frame orders by ts_ms
alone (value-based frames include all peers, so ties are order-free by
construction).

Scale notes (100 TB): all windows partition by a key (event_type /
user_id) — one hash shuffle each, state bounded per partition; no
unpartitioned global window anywhere (that would serialize onto one task).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from komodo_data_spark.operators.relational import _dbl, dec
from komodo_data_spark.registry import query
from komodo_data_spark.sources.tables import load_events

NTILES = 4
MOVING_ROWS = 4  # current + 4 preceding = 5-row window
RANGE_MS = 600_000  # 10-minute trailing time frame


@query
def events_analytic_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type user leaderboard: total value with percent_rank,
    cume_dist, and quartile (ntile). Ranking key is (total DESC, user_id)
    so equal totals can't reorder between engines."""
    ev = load_events(spark, sf_dir)
    totals = ev.groupBy("event_type", "user_id").agg(
        _dbl(F.sum(dec("value", 18, 2))).alias("total_value")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("total_value"), "user_id"
    )
    return totals.select(
        "event_type",
        "user_id",
        "total_value",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(NTILES).over(w).alias("quartile"),
    )


def events_analytic_ranks_oracle() -> str:
    return f"""
    WITH totals AS (
      SELECT event_type, user_id,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, user_id, total_value,
           percent_rank() OVER w AS pct_rank,
           cume_dist()    OVER w AS cume,
           CAST(ntile({NTILES}) OVER w AS INT) AS quartile
    FROM totals
    WINDOW w AS (PARTITION BY event_type ORDER BY total_value DESC, user_id)
    """


@query
def events_moving_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 5-row moving average of value plus the delta to the
    previous event — the rows-frame + navigation combo."""
    ev = load_events(spark, sf_dir)
    order = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    frame = order.rowsBetween(-MOVING_ROWS, 0)
    return ev.select(
        "user_id",
        "event_id",
        "ts_ms",
        F.round(F.avg("value").over(frame), 6).alias("moving_avg"),
        F.round(
            F.col("value") - F.lag("value", 1, 0.0).over(order), 6
        ).alias("delta_prev"),
    )


def events_moving_agg_oracle() -> str:
    return f"""
    SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
           round(avg(value) OVER (PARTITION BY user_id
                                  ORDER BY epoch_ms(ts), event_id
                                  ROWS BETWEEN {MOVING_ROWS} PRECEDING AND CURRENT ROW), 6)
             AS moving_avg,
           round(value - lag(value, 1, 0.0) OVER (PARTITION BY user_id
                                                  ORDER BY epoch_ms(ts), event_id), 6)
             AS delta_prev
    FROM events
    """


@query
def events_range_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing 10-minute value sum: a value-based RANGE frame on
    epoch millis — peers (equal timestamps) are all in-frame, so the result
    is independent of tie order. DECIMAL accumulation, double output."""
    ev = load_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ms")
        .rangeBetween(-RANGE_MS, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts_ms",
        _dbl(F.sum(dec("value", 18, 2)).over(w)).alias("trailing_10m_sum"),
    )


def events_range_sum_oracle() -> str:
    return f"""
    SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
           CAST(SUM(CAST(value AS DECIMAL(18,2)))
                OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)
                      RANGE BETWEEN {RANGE_MS} PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS trailing_10m_sum
    FROM events
    """
