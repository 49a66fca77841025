"""Reshape operators: PIVOT, UNPIVOT (melt), and GROUPING SETS.

Engine-completeness rows (SURVEY §2.4 'absent from reference' note): the
reference (gelic-idealab/komodo-data process.py) has only flat GROUP BYs;
these cover the reshaping surface an analytics engine is expected to have.

Scale notes (100 TB):
- ``events_pivot_daily`` pins the pivot value list explicitly — without it
  Spark runs an extra distinct-collect job over the full table to discover
  columns, and the output schema becomes data-dependent (a breaking change
  waiting to happen when a new event type appears). One hash aggregate,
  map-side partials, no extra shuffle vs a plain groupBy.
- ``events_unpivot_counts`` uses the built-in melt/unpivot (codegen'd
  Expand), which multiplies rows AFTER aggregation — unpivot the small
  aggregate, never the fact table.
- ``events_grouping_sets`` evaluates all four groupings in one Expand +
  one aggregate (one shuffle), vs four scans + union for the naive form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


from komodo_data_spark.registry import query
from komodo_data_spark.sources.tables import load_events

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_DAY_MS = 86_400_000


def _day_col():
    return F.expr(f"ts_ms div {_DAY_MS}").alias("day")


@query
def events_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event counts pivoted to one column per event type."""
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(_day_col())
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, EVENT_TYPES)
        .orderBy("day")
    )


def events_pivot_daily_oracle() -> str:
    cols = ",\n           ".join(
        f"COUNT(*) FILTER (WHERE event_type = '{t}') AS {t}" for t in EVENT_TYPES
    )
    return f"""
    SELECT epoch_ms(ts) // {_DAY_MS} AS day,
           {cols}
    FROM events GROUP BY 1 ORDER BY 1
    """


@query
def events_unpivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip: pivot per-user counts wide, then UNPIVOT back to long
    (user_id, event_type, n). Zero cells are dropped so the round-trip
    equals the plain group-by — which is exactly what the oracle states."""
    ev = load_events(spark, sf_dir)
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, EVENT_TYPES)
    )
    return (
        wide.unpivot("user_id", EVENT_TYPES, "event_type", "n")
        .filter(F.col("n") > 0)
        .orderBy("user_id", "event_type")
    )


def events_unpivot_counts_oracle() -> str:
    return """
    SELECT user_id, event_type, COUNT(*) AS n
    FROM events GROUP BY user_id, event_type
    ORDER BY user_id, event_type
    """


@query
def events_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS ((event_type, day), (event_type), (day), ()) with a
    grouping_id discriminator — all four aggregates in one Expand+shuffle."""
    ev = load_events(spark, sf_dir)
    ev.select(
        _day_col(), "event_type", "value"
    ).createOrReplaceTempView("_gs_events")
    return spark.sql(
        """
        SELECT event_type, day,
               CAST(grouping_id(event_type, day) AS BIGINT) AS gid,
               count(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM _gs_events
        GROUP BY GROUPING SETS ((event_type, day), (event_type), (day), ())
        """
    )


def events_grouping_sets_oracle() -> str:
    return f"""
    SELECT event_type, epoch_ms(ts) // {_DAY_MS} AS day,
           CAST(GROUPING(event_type) * 2 + GROUPING(epoch_ms(ts) // {_DAY_MS}) AS BIGINT) AS gid,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY GROUPING SETS ((event_type, 2), (event_type), (2), ())
    """
