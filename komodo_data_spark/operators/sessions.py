"""Sessionization over the ``events`` stream table (north-star extension).

Batch gap-and-island formulation: a session breaks when the gap to the
previous event of the same user exceeds SESSION_GAP_MS. The window is
partitioned by ``user_id`` — at 100 TB each user's history sorts locally
within its hash partition, one exchange total, no global sort. (Contrast
with the reference's W1/W2 windows, which are globally ordered because its
queries pre-filter to a single entity stream — SURVEY.md §2.5.)

The streaming twin (streaming/windows.py session_rollup) uses Spark's
``session_window``, whose merge semantics match this gap rule; the test
suite pins stream == batch equality on the same input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from komodo_data_spark.registry import query
from komodo_data_spark.sources.tables import load_events

SESSION_GAP_MS = 30 * 60 * 1000  # 30 minutes


@query
def event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessions: (user_id, session_seq, n_events, start_ms, end_ms,
    duration_ms) with a 30-minute inactivity gap."""
    ev = load_events(spark, sf_dir).select("user_id", "ts_ms")
    w = Window.partitionBy("user_id").orderBy("ts_ms")
    with_breaks = ev.withColumn(
        "is_break",
        (
            F.col("ts_ms") - F.lag("ts_ms", 1).over(w) > SESSION_GAP_MS
        ).cast("int"),
    ).withColumn(
        "session_seq",
        F.sum(F.coalesce(F.col("is_break"), F.lit(0))).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        with_breaks.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts_ms").alias("start_ms"),
            F.max("ts_ms").alias("end_ms"),
        )
        .withColumn("duration_ms", F.col("end_ms") - F.col("start_ms"))
    )


def event_sessions_oracle() -> str:
    return f"""
    WITH e AS (
      SELECT user_id, epoch_ms(ts) AS ts_ms FROM events
    ), b AS (
      SELECT user_id, ts_ms,
        CASE WHEN ts_ms - lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms)
                  > {SESSION_GAP_MS} THEN 1 ELSE 0 END AS is_break
      FROM e
    ), s AS (
      SELECT user_id, ts_ms,
        CAST(SUM(is_break) OVER (
          PARTITION BY user_id ORDER BY ts_ms
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS BIGINT) AS session_seq
      FROM b
    )
    SELECT user_id, session_seq, count(*) AS n_events,
           min(ts_ms) AS start_ms, max(ts_ms) AS end_ms,
           max(ts_ms) - min(ts_ms) AS duration_ms
    FROM s GROUP BY user_id, session_seq
    """


#: Overlap-join chunk width. Sessions explode into the 1-hour chunks they
#: span, turning the interval θ-join into an equi-join on chunk id.
OVERLAP_CHUNK_MS = 3_600_000


@query
def session_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval overlap join: pairs of sessions from DIFFERENT users whose
    [start, end] spans intersect, with the overlap length.

    Naive formulation is an O(n²) θ-join (BroadcastNestedLoop — a
    cross-product at 100 TB). Scale path used here: each session is
    exploded map-side into the fixed-width time chunks it covers, the pair
    search becomes an equi-join on chunk id (hash-partitioned, AQE-skew-
    splittable), the exact predicate re-verifies on the joined row, and a
    distinct collapses pairs that share several chunks. Cost is bounded by
    (sessions per chunk)² per chunk instead of (all sessions)² — the same
    blocking idea as dedup's LSH band join. u1 < u2 keeps one row per
    unordered pair.

    The session frame is localCheckpointed before the self-join: both
    join sides previously re-ran the whole sessionization pipeline
    (scan → user window sort → gap/island windows → rollup; the plan
    showed the subtree twice with zero exchange reuse), so the lineage
    cut halves the derivation. Lazy, not eager — one action consumes it,
    and the blocks are GC-released with the result frame.
    """
    s = (
        event_sessions(spark, sf_dir)
        .select("user_id", "session_seq", "start_ms", "end_ms")
        .localCheckpoint(eager=False)
    )
    chunked = s.withColumn(
        "chunk",
        F.explode(
            F.sequence(
                F.floor(F.col("start_ms") / F.lit(OVERLAP_CHUNK_MS)),
                F.floor(F.col("end_ms") / F.lit(OVERLAP_CHUNK_MS)),
            )
        ),
    )
    a = chunked.alias("a")
    b = chunked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.user_id") < F.col("b.user_id"))
            & (F.col("a.start_ms") <= F.col("b.end_ms"))
            & (F.col("b.start_ms") <= F.col("a.end_ms")),
        )
        .select(
            F.col("a.user_id").alias("u1"),
            F.col("a.session_seq").alias("s1"),
            F.col("b.user_id").alias("u2"),
            F.col("b.session_seq").alias("s2"),
            (
                F.least("a.end_ms", "b.end_ms")
                - F.greatest("a.start_ms", "b.start_ms")
            ).alias("overlap_ms"),
        )
        .distinct()
    )


def session_overlap_pairs_oracle() -> str:
    sessions_cte = event_sessions_oracle().strip()
    return f"""
    WITH sess AS ({sessions_cte})
    SELECT a.user_id AS u1, a.session_seq AS s1,
           b.user_id AS u2, b.session_seq AS s2,
           least(a.end_ms, b.end_ms) - greatest(a.start_ms, b.start_ms)
             AS overlap_ms
    FROM sess a JOIN sess b
      ON a.user_id < b.user_id
     AND a.start_ms <= b.end_ms AND b.start_ms <= a.end_ms
    """


@query
def events_session_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered per-session transcript assembly — the SFT-data shape: each
    session becomes one training example whose "turns" are its events in
    event-time order (``type_a>type_b>...``), with turn / distinct-type
    counts and duration for curriculum and packing decisions downstream.

    The op the rest of the registry lacked: an ORDER-PRESERVING collect.
    ``collect_list`` alone is non-deterministic under parallel merge, so
    each turn is collected as a (ts_ms, event_id, event_type) struct and
    ``array_sort`` imposes the total order inside the aggregate — the
    struct's field order IS the sort key, and (ts_ms, event_id) is unique,
    so the transcript is deterministic under any partitioning / retry.

    Scale: the sessionizing window hash-partitions on user_id (one
    exchange, local sort); the groupBy key (user_id, session_seq) is a
    superset of that clustering, so Catalyst reuses the exchange — ONE
    shuffle total. Per-group state is bounded by session length (gap-
    bounded by construction), never by corpus size.
    """
    ev = load_events(spark, sf_dir).select(
        "user_id", "ts_ms", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    s = ev.withColumn(
        "is_break",
        (
            F.col("ts_ms") - F.lag("ts_ms", 1).over(w) > SESSION_GAP_MS
        ).cast("int"),
    ).withColumn(
        "session_seq",
        F.sum(F.coalesce(F.col("is_break"), F.lit(0))).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    turns = F.array_sort(F.collect_list(F.struct("ts_ms", "event_id", "event_type")))
    return s.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.countDistinct("event_type").alias("n_types"),
        F.min("ts_ms").alias("start_ms"),
        (F.max("ts_ms") - F.min("ts_ms")).alias("duration_ms"),
        F.array_join(
            F.transform(turns, lambda t: t["event_type"]), ">"
        ).alias("transcript"),
    )


def events_session_transcripts_oracle() -> str:
    return f"""
    WITH e AS (
      SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, event_type FROM events
    ), b AS (
      SELECT user_id, ts_ms, event_id, event_type,
        CASE WHEN ts_ms - lag(ts_ms) OVER (
               PARTITION BY user_id ORDER BY ts_ms, event_id)
                  > {SESSION_GAP_MS} THEN 1 ELSE 0 END AS is_break
      FROM e
    ), s AS (
      SELECT user_id, ts_ms, event_id, event_type,
        CAST(SUM(is_break) OVER (
          PARTITION BY user_id ORDER BY ts_ms, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS BIGINT) AS session_seq
      FROM b
    )
    SELECT user_id, session_seq,
           count(*) AS n_turns,
           count(DISTINCT event_type) AS n_types,
           min(ts_ms) AS start_ms,
           max(ts_ms) - min(ts_ms) AS duration_ms,
           string_agg(event_type, '>' ORDER BY ts_ms, event_id) AS transcript
    FROM s GROUP BY user_id, session_seq
    """
