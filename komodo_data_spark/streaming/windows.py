"""Structured Streaming windowed aggregations over the events stream.

The reference has no real streaming (10 s polling loop, SURVEY.md §2.10);
this module supplies the watermark + windowed-agg surface Spark adds on top:

- ``hourly_rollup``     — tumbling 1-hour event-time window; the streaming
  twin of operators/relational.events_hourly_rollup (same epoch-hour
  buckets, same aggregates — the test suite pins stream == batch).
- ``session_rollup``    — ``session_window`` with a 30-minute gap; merge
  semantics match the batch gap-and-island operator
  (operators/sessions.event_sessions).

Both transformations accept EITHER a streaming or a batch DataFrame — the
logical plan is identical; only the sink differs. At scale: state lives in
the aggregation operator keyed by (window, event_type) / (session, user) —
the watermark bounds state size; without it, complete-mode state grows with
the key space. File source + checkpoint give exactly-once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from komodo_data_spark.streaming.stores import file_stream

#: Canonical (normalized) events stream schema: ts as epoch-nanos long, the
#: form the engine itself writes (sources.tables.normalize_events output).
EVENTS_STREAM_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)

SESSION_GAP = "30 minutes"
WATERMARK = "2 hours"


def events_stream(
    spark: SparkSession, events_dir: str, max_files_per_trigger: int = 16
) -> DataFrame:
    """File-source stream over an events parquet directory, with the same
    derived ``ts``/``ts_ms``/``ts_ts`` columns as sources.tables.load_events.

    The driver testdata has shipped ``ts`` under two physical types
    (nanos-long and timestamp[us]); the file source's footer peek picks up
    whichever is on disk, then normalize_events canonicalizes.
    ``max_files_per_trigger`` sets the micro-batch granularity (1 = one
    batch per arrival file, the shape the latency bench measures).
    """
    from komodo_data_spark.sources.tables import normalize_events

    return normalize_events(file_stream(spark, events_dir, max_files_per_trigger))


def hourly_rollup(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour window per event_type; epoch-ms window start so the
    output schema matches the batch events_hourly_rollup exactly."""
    src = events.withWatermark("ts_ts", WATERMARK) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts_ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.unix_millis("window.start").alias("window_start_ms"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_rollup(events: DataFrame) -> DataFrame:
    """Hopping 1-hour/30-minute window per event_type — the streaming twin
    of operators/timeseries.events_sliding_rollup (same Expand-then-agg
    plan; each event lands in exactly 2 windows). State is keyed by
    (window, event_type); the watermark expires windows older than
    ``WATERMARK`` so state stays bounded by the active window span."""
    src = events.withWatermark("ts_ts", WATERMARK) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts_ts", "1 hour", "30 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.unix_millis("window.start").alias("window_start_ms"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_rollup(events: DataFrame) -> DataFrame:
    """Per-user session windows (30-minute gap): session_window merges
    overlapping [ts, ts+gap) intervals — same sessions as the batch
    gap-and-island operator."""
    src = events.withWatermark("ts_ts", WATERMARK) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts_ts", SESSION_GAP), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_millis("session_window.start").alias("start_ms"),
            "n_events",
        )
    )


def transcript_rollup(events: DataFrame) -> DataFrame:
    """Streaming twin of operators/sessions.events_session_transcripts: the
    per-user session_window aggregate ALSO assembles the ordered transcript
    — each session emits its events in (ts_ms, event_id) order as
    ``type_a>type_b>...`` the moment the watermark closes the session.

    Order preservation under micro-batching: collect_list's merge order
    across batches is arbitrary, so turns are collected as (ts_ms,
    event_id, event_type) structs and array_sort imposes the total order
    inside the final aggregate — same rule as the batch op, so stream ==
    batch byte-for-byte (pinned in tests). State per key is the session's
    turn structs — bounded by session length (gap-bounded), expired by the
    watermark, never corpus-bound.
    """
    src = events.withWatermark("ts_ts", WATERMARK) if events.isStreaming else events
    turns = F.array_sort(
        F.collect_list(F.struct("ts_ms", "event_id", "event_type"))
    )
    return (
        src.groupBy(F.session_window("ts_ts", SESSION_GAP), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.array_join(
                F.transform(turns, lambda t: t["event_type"]), ">"
            ).alias("transcript"),
        )
        .select(
            "user_id",
            F.unix_millis("session_window.start").alias("start_ms"),
            "n_turns",
            "transcript",
        )
    )


def run_to_memory(
    stream_df: DataFrame, query_name: str, checkpoint: str
) -> DataFrame:
    """Drain the stream with AvailableNow into an in-memory table and return
    it as a batch DataFrame (test/verification harness)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(query_name)
