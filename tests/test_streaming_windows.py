"""Streaming windowed aggregations: the stream must produce exactly what the
batch formulation produces on the same input (AvailableNow drain)."""

from __future__ import annotations

import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from komodo_data_spark.operators.relational import events_hourly_rollup
from komodo_data_spark.operators.sessions import event_sessions
from komodo_data_spark.sources.tables import load_events
from komodo_data_spark.streaming import windows as W


def _sorted_pdf(df, keys) -> pd.DataFrame:
    return df.toPandas().sort_values(keys).reset_index(drop=True)


@pytest.fixture(scope="module")
def events_dir(sf_dir, tmp_path_factory) -> str:
    """File-source streams need a *directory*; stage the events parquet."""
    d = tmp_path_factory.mktemp("events_src")
    shutil.copy(f"{sf_dir}/events.parquet", d / "part-0.parquet")
    return str(d)


def test_stream_hourly_rollup_matches_batch(spark, sf_dir, events_dir, tmp_path):
    stream = W.events_stream(spark, events_dir)
    assert stream.isStreaming
    got = W.run_to_memory(
        W.hourly_rollup(stream), "hourly_mem", str(tmp_path / "ckpt1")
    )
    exp = events_hourly_rollup(spark, sf_dir)
    keys = ["window_start_ms", "event_type"]
    pd.testing.assert_frame_equal(
        _sorted_pdf(got, keys), _sorted_pdf(exp, keys), check_dtype=False
    )


def test_stream_sliding_rollup_matches_batch(spark, sf_dir, events_dir, tmp_path):
    from komodo_data_spark.operators.timeseries import events_sliding_rollup

    stream = W.events_stream(spark, events_dir)
    got = W.run_to_memory(
        W.sliding_rollup(stream), "sliding_mem", str(tmp_path / "ckpt_slide")
    )
    exp = events_sliding_rollup(spark, sf_dir)
    keys = ["window_start_ms", "event_type"]
    pd.testing.assert_frame_equal(
        _sorted_pdf(got, keys), _sorted_pdf(exp, keys), check_dtype=False
    )


def test_stream_session_rollup_matches_batch_islands(
    spark, sf_dir, events_dir, tmp_path
):
    stream = W.events_stream(spark, events_dir)
    got = W.run_to_memory(
        W.session_rollup(stream), "sessions_mem", str(tmp_path / "ckpt2")
    )
    exp = event_sessions(spark, sf_dir).select("user_id", "start_ms", "n_events")
    keys = ["user_id", "start_ms"]
    pd.testing.assert_frame_equal(
        _sorted_pdf(got, keys), _sorted_pdf(exp, keys), check_dtype=False
    )


def test_stream_transcript_rollup_matches_batch(
    spark, sf_dir, events_dir, tmp_path
):
    """Order-preserving transcript assembly, streamed: the session_window
    aggregate emits the same (user, session-start, n_turns, transcript)
    rows as the batch gap-and-island op — collect order across micro-batch
    merges cannot leak into the transcript because array_sort imposes the
    (ts_ms, event_id) total order inside the aggregate."""
    from komodo_data_spark.operators.sessions import events_session_transcripts

    stream = W.events_stream(spark, events_dir)
    got = W.run_to_memory(
        W.transcript_rollup(stream), "transcripts_mem", str(tmp_path / "ckpt_tr")
    )
    exp = events_session_transcripts(spark, sf_dir).select(
        "user_id", "start_ms", "n_turns", "transcript"
    )
    keys = ["user_id", "start_ms"]
    pd.testing.assert_frame_equal(
        _sorted_pdf(got, keys), _sorted_pdf(exp, keys), check_dtype=False
    )


def test_batch_and_stream_transform_share_plan(spark, sf_dir):
    """The same transformation applied to the batch frame gives the same
    result — transformations are sink-agnostic."""
    ev = load_events(spark, sf_dir)
    batch_rollup = W.hourly_rollup(ev)
    exp = events_hourly_rollup(spark, sf_dir)
    keys = ["window_start_ms", "event_type"]
    pd.testing.assert_frame_equal(
        _sorted_pdf(batch_rollup, keys), _sorted_pdf(exp, keys), check_dtype=False
    )


def test_stateful_running_totals_match_batch(spark, sf_dir, events_dir, tmp_path):
    """applyInPandasWithState: after draining the stream, the last emitted
    row per user equals the batch aggregate."""
    from pyspark.sql import functions as F

    from komodo_data_spark.streaming.stateful import user_running_totals

    stream = W.events_stream(spark, events_dir)
    out = user_running_totals(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("running_mem")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("running_mem").toPandas()
    # update mode may emit a row per user per batch; the final row per user
    # (max n_events) is the cumulative state
    got = got.sort_values("n_events").groupby("user_id").last().reset_index()

    exp = (
        load_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.max("ts_ms").alias("max_ts_ms"),
        )
        .toPandas()
    )
    keys = ["user_id"]
    pd.testing.assert_frame_equal(
        got.sort_values(keys).reset_index(drop=True)[exp.columns],
        exp.sort_values(keys).reset_index(drop=True),
        check_dtype=False,
        rtol=1e-9,
    )


def test_materialized_rollup_matches_batch(spark, sf_dir, events_dir, tmp_path):
    """foreachBatch upsert maintenance: the materialized parquet rollup
    equals the batch rollup after the stream drains."""
    from komodo_data_spark.streaming.materialize import start_rollup_maintenance

    rollup_path = str(tmp_path / "rollup_store")
    stream = W.events_stream(spark, events_dir)
    q = start_rollup_maintenance(
        spark,
        W.hourly_rollup(stream),
        rollup_path,
        str(tmp_path / "ckpt4"),
    )
    q.awaitTermination()
    got = spark.read.parquet(rollup_path)
    exp = events_hourly_rollup(spark, sf_dir)
    keys = ["window_start_ms", "event_type"]
    pd.testing.assert_frame_equal(
        _sorted_pdf(got, keys)[_sorted_pdf(exp, keys).columns],
        _sorted_pdf(exp, keys),
        check_dtype=False,
        rtol=1e-9,
    )


def test_stream_dedup_matches_batch_distinct(spark, sf_dir, tmp_path):
    """A doubled source (same file staged twice = at-least-once redelivery)
    must dedup back to exactly the batch-distinct row set."""
    import shutil as _sh

    from komodo_data_spark.streaming import joins as J

    dup_dir = tmp_path / "events_dup"
    dup_dir.mkdir()
    _sh.copy(f"{sf_dir}/events.parquet", dup_dir / "part-0.parquet")
    _sh.copy(f"{sf_dir}/events.parquet", dup_dir / "part-1.parquet")

    stream = W.events_stream(spark, str(dup_dir))
    got = J.run_to_memory_append(
        J.dedup_stream(stream).select("event_id", "user_id", "event_type"),
        "dedup_mem",
        str(tmp_path / "ckpt_dedup"),
    )
    exp = load_events(spark, sf_dir).select("event_id", "user_id", "event_type")
    assert got.count() == exp.count()  # every duplicate dropped, nothing lost
    assert got.exceptAll(exp).count() == 0


def test_stream_stream_join_matches_batch(spark, sf_dir, events_dir, tmp_path):
    """Stream-stream interval join (purchase x prior-30-min clicks) drains
    to exactly the batch join's pairs."""
    from komodo_data_spark.streaming import joins as J

    def split(df):
        return (
            df.filter(df.event_type == "click"),
            df.filter(df.event_type == "purchase"),
        )

    s_clicks, s_purch = split(W.events_stream(spark, events_dir))
    got = J.run_to_memory_append(
        J.click_purchase_join(s_clicks, s_purch),
        "ssjoin_mem",
        str(tmp_path / "ckpt_ssjoin"),
    )
    b_clicks, b_purch = split(load_events(spark, sf_dir))
    exp = J.click_purchase_join(b_clicks, b_purch)
    keys = ["purchase_id", "click_id"]
    pd.testing.assert_frame_equal(
        _sorted_pdf(got, keys), _sorted_pdf(exp, keys), check_dtype=False
    )


def test_stream_stream_left_join_matches_batch(spark, sf_dir, events_dir, tmp_path):
    """LEFT OUTER stream-stream join: unmatched clicks must flush with NULL
    purchase columns once the watermark closes their interval — AvailableNow
    over bounded input advances the watermark to the end, so the drained
    result equals the batch left join exactly (including the NULL rows)."""
    from komodo_data_spark.streaming import joins as J

    def split(df):
        return (
            df.filter(df.event_type == "click"),
            df.filter(df.event_type == "purchase"),
        )

    s_clicks, s_purch = split(W.events_stream(spark, events_dir))
    got = J.run_to_memory_append(
        J.click_purchase_left_join(s_clicks, s_purch),
        "ssljoin_mem",
        str(tmp_path / "ckpt_ssljoin"),
    )
    ev = load_events(spark, sf_dir)
    b_clicks, b_purch = split(ev)
    exp = J.click_purchase_left_join(b_clicks, b_purch)
    assert got.filter("purchase_id IS NULL").count() > 0  # outer rows exist
    # Clicks whose 30-min interval the FINAL watermark never closes can't
    # flush their unmatched row — that's the outer-join contract, not a
    # bug. The global watermark is the MIN over both input streams (each
    # max event time - 2 h), so the closed region ends 2 h 30 m before the
    # EARLIER of the two stream heads.
    wm_base = min(
        b_clicks.agg(F.max("ts_ms")).first()[0],
        b_purch.agg(F.max("ts_ms")).first()[0],
    )
    closed = b_clicks.select(F.col("event_id").alias("click_id")).filter(
        b_clicks.ts_ms < wm_base - (2 * 3600 + 30 * 60) * 1000
    )
    keys = ["click_id", "purchase_id"]
    pd.testing.assert_frame_equal(
        _sorted_pdf(got.join(closed, "click_id", "left_semi"), keys),
        _sorted_pdf(exp.join(closed, "click_id", "left_semi"), keys),
        check_dtype=False,
    )


def test_stream_static_enrich_matches_batch(spark, sf_dir, events_dir, tmp_path):
    """Stream-static broadcast enrichment drains to exactly the batch join,
    and its plan must be stateless (no state store nodes)."""
    from komodo_data_spark.streaming import joins as J

    segments = J.user_segments(load_events(spark, sf_dir))
    got = J.run_to_memory_append(
        J.enrich_stream(W.events_stream(spark, events_dir), segments),
        "enrich_mem",
        str(tmp_path / "ckpt_enrich"),
    )
    exp = J.enrich_stream(load_events(spark, sf_dir), segments)
    keys = ["event_id"]
    pd.testing.assert_frame_equal(
        _sorted_pdf(got, keys), _sorted_pdf(exp, keys), check_dtype=False
    )


def test_tws_running_totals_match_batch(spark, sf_dir, events_dir, tmp_path):
    """transformWithStateInPandas (Spark 4 stateful API): final state per
    user equals the batch aggregate, same as the applyInPandasWithState
    twin. Needs the RocksDB state store provider for this query only."""
    from pyspark.sql import functions as F

    from komodo_data_spark.streaming.stateful import (
        tws_available,
        tws_required_confs,
        user_running_totals_tws,
    )

    if not tws_available():
        pytest.skip("transformWithState needs the protobuf package")

    old = {}
    for k, v in tws_required_confs().items():
        old[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        stream = W.events_stream(spark, events_dir)
        out = user_running_totals_tws(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("tws_mem")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = spark.table("tws_mem").toPandas()
        got = got.sort_values("n_events").groupby("user_id").last().reset_index()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    exp = (
        load_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.max("ts_ms").alias("max_ts_ms"),
        )
        .toPandas()
    )
    keys = ["user_id"]
    pd.testing.assert_frame_equal(
        got.sort_values(keys).reset_index(drop=True)[exp.columns],
        exp.sort_values(keys).reset_index(drop=True),
        check_dtype=False,
        rtol=1e-9,
    )


def test_checkpoint_restart_processes_only_new_files(spark, sf_dir, tmp_path):
    """Exactly-once evidence: restarting the materialized-rollup stream
    from its checkpoint ingests ONLY the file added since the last run
    (state restored, old input not replayed), and the final store still
    equals the full batch rollup."""
    import pyarrow.parquet as pq

    from komodo_data_spark.streaming.materialize import start_rollup_maintenance

    src = tmp_path / "incr_src"
    src.mkdir()
    table = pq.read_table(f"{sf_dir}/events.parquet")
    half = table.num_rows // 2
    pq.write_table(table.slice(0, half), src / "part-a.parquet")

    rollup_path = str(tmp_path / "incr_store")
    ckpt = str(tmp_path / "incr_ckpt")

    q1 = start_rollup_maintenance(
        spark, W.hourly_rollup(W.events_stream(spark, str(src))), rollup_path, ckpt
    )
    q1.awaitTermination()

    # second half arrives; SAME checkpoint -> only the new file is read
    pq.write_table(table.slice(half), src / "part-b.parquet")
    q2 = start_rollup_maintenance(
        spark, W.hourly_rollup(W.events_stream(spark, str(src))), rollup_path, ckpt
    )
    q2.awaitTermination()
    n_input_run2 = sum(
        int(p["numInputRows"]) for p in q2.recentProgress
    )
    assert n_input_run2 <= table.num_rows - half  # no replay of part-a

    got = spark.read.parquet(rollup_path)
    exp = events_hourly_rollup(spark, sf_dir)
    keys = ["window_start_ms", "event_type"]
    pd.testing.assert_frame_equal(
        _sorted_pdf(got, keys)[_sorted_pdf(exp, keys).columns],
        _sorted_pdf(exp, keys),
        check_dtype=False,
        rtol=1e-9,
    )


def test_streaming_funnel_matches_batch(spark, sf_dir, events_dir, tmp_path):
    """Streaming per-user funnel state == the batch funnel's per-step user
    counts after the stream drains."""
    from komodo_data_spark.operators.events_analytics import funnel_conversion
    from komodo_data_spark.streaming.stateful import user_funnel_stream

    stream = W.events_stream(spark, events_dir)
    q = (
        user_funnel_stream(stream)
        .writeStream.format("memory")
        .queryName("funnel_mem")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_funnel"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("funnel_mem").toPandas()
    # keep the final (highest) state per user, then count users per step
    final = got.sort_values("step_reached").groupby("user_id").last()
    stream_counts = {
        step: int((final["step_reached"] >= step).sum()) for step in (1, 2, 3)
    }
    exp = {
        r["step"]: r["n_users"]
        for r in funnel_conversion(spark, sf_dir).collect()
    }
    assert stream_counts == exp


def test_streaming_sketch_store_matches_batch_heavy_hitters(
    spark, sf_dir, tmp_path
):
    """Per-batch sketch rows accumulated via foreachBatch, combined at read
    time, must reproduce the batch heavy-hitter set exactly (counts are
    exact below maxItemsTracked)."""
    import shutil as _sh

    from komodo_data_spark.operators.stats_ops import (
        HEAVY_MIN_EVENTS,
        events_heavy_hitters,
    )
    from komodo_data_spark.streaming import sketches as SK

    # three disjoint files -> three micro-batches -> three sketch rows
    src = tmp_path / "ev_parts"
    src.mkdir()
    ev = load_events(spark, sf_dir)
    for i in range(3):
        ev.filter(F.col("event_id") % 3 == i).select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        ).coalesce(1).write.parquet(str(src / f"chunk={i}"))
        _sh.move(
            str(next((src / f"chunk={i}").glob("part-*.parquet"))),
            str(src / f"part-{i}.parquet"),
        )
        _sh.rmtree(src / f"chunk={i}")

    stream = (
        spark.readStream.schema(W.EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = SK.start_sketch_maintenance(
        spark, stream, str(tmp_path / "sk_store"), str(tmp_path / "ckpt_sk")
    )
    q.awaitTermination()

    store = spark.read.parquet(str(tmp_path / "sk_store"))
    assert store.count() == 3  # one sketch row per micro-batch

    got = SK.heavy_hitters_from_store(
        spark, str(tmp_path / "sk_store"), HEAVY_MIN_EVENTS
    )
    exp = events_heavy_hitters(spark, sf_dir)
    keys = ["user_id"]
    pd.testing.assert_frame_equal(
        _sorted_pdf(got, keys), _sorted_pdf(exp, keys), check_dtype=False
    )

    # retention: folding all epochs into the base row must not change any
    # estimate (mergeable-sketch law), and the store becomes O(1)
    n_folded = SK.compact_store(spark, str(tmp_path / "sk_store"))
    assert n_folded == 3
    store2 = spark.read.parquet(str(tmp_path / "sk_store"))
    assert store2.count() == 1
    assert store2.select("epoch_id").first()[0] == -1
    got2 = SK.heavy_hitters_from_store(
        spark, str(tmp_path / "sk_store"), HEAVY_MIN_EVENTS
    )
    pd.testing.assert_frame_equal(
        _sorted_pdf(got2, keys), _sorted_pdf(exp, keys), check_dtype=False
    )
    # compacting an already-compacted store is a no-op
    assert SK.compact_store(spark, str(tmp_path / "sk_store")) == 0


def test_compact_store_crash_reentrant(spark, tmp_path):
    """compact_store must converge to exact counts after a crash at ANY
    point of a prior compaction — the round-3 hazard was a crash between
    the base write and the epoch prune double-counting the folded epochs
    on re-run. Three crash points are simulated: (A) fold staged + marker
    written, prune never ran; (B) same, but a NEW epoch arrived after the
    crash (must not be mistaken for a folded one); (C) partial tmp
    partition with no marker (fold died mid-write)."""
    import json
    import os

    from komodo_data_spark.streaming import sketches as SK

    store = str(tmp_path / "sk_store_crash")

    def write_epoch(ids, epoch):
        df = spark.createDataFrame([(int(i),) for i in ids], "user_id long")
        SK.accumulate_batch(spark, df, epoch, store)

    def counts():
        return {
            r["user_id"]: r["n_events"]
            for r in SK.heavy_hitters_from_store(spark, store, 1).collect()
        }

    def stage_fold(epochs_in_fold, marker_epochs):
        staged = (
            spark.read.parquet(store)
            .filter(F.col("epoch_id").isin([-1] + epochs_in_fold))
            .agg(
                F.expr(
                    f"approx_top_k_combine(sk, {SK.MAX_ITEMS_TRACKED})"
                ).alias("sk")
            )
            .withColumn("epoch_id", F.lit(-2))
            .localCheckpoint(eager=True)
        )
        (
            staged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch_id")
            .parquet(store)
        )
        with open(os.path.join(store, SK._INFLIGHT_MARKER), "w") as fh:
            json.dump({"epochs": marker_epochs}, fh)

    write_epoch([1, 1, 1, 2], 0)
    write_epoch([1, 1, 3], 1)
    write_epoch([2, 2], 2)
    exact = {1: 5, 2: 3, 3: 1}
    assert counts() == exact

    # (A) committed fold of all three epochs, crash before the prune: the
    # re-run must prune each folded epoch exactly once, never re-fold it
    stage_fold([0, 1, 2], [0, 1, 2])
    assert SK.compact_store(spark, store) == 0  # recovery did the work
    assert counts() == exact
    s = spark.read.parquet(store)
    assert s.count() == 1 and s.first()["epoch_id"] == -1

    # (B) fold of epoch 7 committed, crash before prune, then the stream
    # resumed and produced epoch 9 — recovery must delete ONLY epoch 7
    write_epoch([4, 4], 7)
    stage_fold([7], [7])
    write_epoch([5], 9)  # arrives after the crash, not in the marker
    assert SK.compact_store(spark, store) == 1  # folds the late epoch 9
    assert counts() == {1: 5, 2: 3, 3: 1, 4: 2, 5: 1}

    # (C) fold died mid-write: tmp partition exists with garbage, no
    # marker — must be discarded (not read!) and the fold redone fresh
    write_epoch([6], 11)
    tmp_dir = os.path.join(store, "epoch_id=-2")
    os.makedirs(tmp_dir)
    with open(os.path.join(tmp_dir, "part-corrupt.parquet"), "wb") as fh:
        fh.write(b"\x00garbage, not parquet")
    assert SK.compact_store(spark, store) == 1
    assert counts() == {1: 5, 2: 3, 3: 1, 4: 2, 5: 1, 6: 1}
    s2 = spark.read.parquet(store)
    assert s2.count() == 1 and s2.first()["epoch_id"] == -1
    assert not os.path.exists(os.path.join(store, SK._INFLIGHT_MARKER))

    # (D) crash DURING the marker write: truncated JSON + stale tmp — the
    # prune never started (marker install is rename-atomic), so recovery
    # must discard both and the refold must still produce exact counts
    write_epoch([8], 13)
    os.makedirs(tmp_dir, exist_ok=True)
    with open(os.path.join(tmp_dir, "part-junk.parquet"), "wb") as fh:
        fh.write(b"\x00junk")
    with open(os.path.join(store, SK._INFLIGHT_MARKER), "w") as fh:
        fh.write('{"epo')  # truncated mid-write
    assert SK.compact_store(spark, store) == 1
    assert counts() == {1: 5, 2: 3, 3: 1, 4: 2, 5: 1, 6: 1, 8: 1}
    assert not os.path.exists(os.path.join(store, SK._INFLIGHT_MARKER))


def test_statestore_reader_matches_batch_state(spark, sf_dir, events_dir, tmp_path):
    """Spark 4 statestore reader: the checkpoint's per-user state (read as a
    batch table, no replay) equals the batch aggregate after the stream
    drains — the state-audit loop a production stateful pipeline runs."""
    from pyspark.sql import functions as F

    from komodo_data_spark.streaming.stateful import (
        running_totals_state,
        user_running_totals,
    )

    ck = str(tmp_path / "ckpt_ssr")
    q = (
        user_running_totals(W.events_stream(spark, events_dir))
        .writeStream.format("memory")
        .queryName("ssr_sink")
        .outputMode("update")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = running_totals_state(spark, ck).toPandas()
    exp = (
        load_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.max("ts_ms").alias("max_ts_ms"),
        )
        .toPandas()
    )
    pd.testing.assert_frame_equal(
        got.sort_values("user_id").reset_index(drop=True)[exp.columns],
        exp.sort_values("user_id").reset_index(drop=True),
        check_dtype=False,
        rtol=1e-9,
    )


def test_incremental_minhash_candidates_match_batch(spark, sf_dir, tmp_path):
    """Streaming incremental near-dup detection: documents arrive file by
    file; the union of candidate pairs across batches (new-vs-new plus
    new-vs-store) equals the batch detector's candidate set over the full
    corpus — order of arrival must not change what is detected. A second
    drain over the same checkpoint adds nothing (epoch-idempotent store)."""
    from pyspark.sql import functions as F

    from komodo_data_spark.operators.dedup import bands_of, postings_of
    from komodo_data_spark.sources.tables import load_table
    from komodo_data_spark.streaming.dedup_incremental import (
        candidates_from_store,
        start_incremental_dedup,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # stage the corpus as 3 arrival files (deterministic split by doc_id)
    src = tmp_path / "docs_arrivals"
    src.mkdir()
    for i in range(3):
        # coalesce the NULL doc_id into bucket 0 — pmod(NULL) matches no
        # filter and would silently drop the row from the arrivals
        docs.filter(
            F.coalesce(F.pmod("doc_id", F.lit(3)), F.lit(0)) == i
        ).coalesce(1).write.parquet(str(src / f"arrival_{i}.parquet_dir"))
    import glob as _glob
    import shutil

    for i, part in enumerate(
        sorted(_glob.glob(str(src / "*" / "part-*.parquet")))
    ):
        shutil.copy(part, str(src / f"file_{i}.parquet"))
    for d in _glob.glob(str(src / "*.parquet_dir")):
        shutil.rmtree(d)

    store = str(tmp_path / "band_store")
    pairs = str(tmp_path / "pairs_store")
    ck = str(tmp_path / "ckpt_inc_dedup")
    q = start_incremental_dedup(spark, str(src), store, pairs, ck)
    q.awaitTermination()

    got = {
        (r["doc_i"], r["doc_j"])
        for r in candidates_from_store(spark, pairs).collect()
    }
    bands = bands_of(postings_of(docs))
    exp = {
        (r["doc_i"], r["doc_j"])
        for r in (
            bands.alias("a")
            .join(bands.alias("b"), ["band_id", "band_hash"])
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_i"),
                F.col("b.doc_id").alias("doc_j"),
            )
            .distinct()
            .collect()
        )
    }
    assert got == exp
    assert len(exp) > 0  # the corpus does contain near-dup candidates

    # restart with the same checkpoint: no new batches, store unchanged
    q2 = start_incremental_dedup(spark, str(src), store, pairs, ck)
    q2.awaitTermination()
    got2 = {
        (r["doc_i"], r["doc_j"])
        for r in candidates_from_store(spark, pairs).collect()
    }
    assert got2 == exp

    # retention: folding the band store into its base partition preserves
    # the probe key set exactly (a new arrival detects the same candidates)
    from komodo_data_spark.streaming.dedup_incremental import (
        compact_band_store,
        detect_batch,
    )

    before_keys = {
        (r["doc_id"], r["band_id"], r["band_hash"])
        for r in spark.read.parquet(store).collect()
    }
    assert compact_band_store(spark, store) == 3
    after = spark.read.parquet(store)
    after_keys = {
        (r["doc_id"], r["band_id"], r["band_hash"]) for r in after.collect()
    }
    assert after_keys == before_keys
    assert after.select("epoch_id").distinct().collect()[0][0] == -1
    assert compact_band_store(spark, store) == 0  # idempotent
    # a replayed batch against the compacted store finds the same pairs
    batch0 = docs.filter(F.pmod("doc_id", F.lit(3)) == 0)
    detect_batch(spark, batch0, 99, store, pairs)
    got3 = {
        (r["doc_i"], r["doc_j"])
        for r in candidates_from_store(spark, pairs).collect()
    }
    assert got3 == exp


def test_incremental_dedup_store_read_failure_fails_batch(spark, tmp_path):
    """A MISSING store means 'first batch' and proceeds; a store that exists
    but cannot be read (corrupt footer, IO error) must raise so foreachBatch
    retries the epoch — swallowing it would permanently drop every
    new-vs-history candidate pair for that epoch once the checkpoint
    commits. The shared reader every store goes through
    (``stores.read_store``) is pinned directly on the same three shapes."""
    import pytest

    from komodo_data_spark.streaming.dedup_incremental import detect_batch
    from komodo_data_spark.streaming.stores import (
        overwrite_partitions,
        read_store,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again and again"),
         (2, "an entirely different document about spark execution plans")],
        "doc_id long, text string",
    )
    pairs = str(tmp_path / "pairs_out")

    # missing store path -> first-batch semantics, no raise
    detect_batch(spark, docs, 0, str(tmp_path / "no_store_here"), pairs)

    # corrupt store (exists, not parquet) -> the batch must FAIL
    bad_store = tmp_path / "bad_store"
    bad_store.mkdir()
    (bad_store / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        detect_batch(spark, docs, 1, str(bad_store), pairs)

    # the shared reader: missing path and an empty-frame partitioned
    # write both mean "never accumulated a fact"; a corrupt file raises
    assert read_store(spark, str(tmp_path / "never_written")) is None
    empty_store = str(tmp_path / "empty_store")
    overwrite_partitions(
        spark.createDataFrame([], "k long, epoch_id int"), empty_store, "epoch_id"
    )
    assert read_store(spark, empty_store) is None
    with pytest.raises(Exception):
        read_store(spark, str(bad_store))


def test_streaming_drift_monitor_matches_batch_psi(spark, sf_dir, tmp_path):
    """Streaming PSI drift: each micro-batch's logged PSI equals the batch
    computation on exactly that batch's rows vs the same frozen reference;
    replaying the drained stream adds nothing (epoch-idempotent log); and
    a shifted batch scores above the 0.2 trigger while an in-distribution
    batch stays below it."""
    import glob as _glob
    import shutil

    from pyspark.sql import functions as F

    from komodo_data_spark.sources.tables import load_events
    from komodo_data_spark.streaming import drift as D

    ev = load_events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    ref_path = str(tmp_path / "drift_ref")
    D.write_reference(ev, ref_path)

    # arrivals: file 0 = an in-distribution slice, file 1 = a SHIFTED slice
    # (every value forced into the top bin)
    src = tmp_path / "drift_arrivals"
    src.mkdir()
    slices = [
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 2 == 1).withColumn(
            "value", F.lit(999.0)
        ),
    ]
    for i, sl in enumerate(slices):
        sl.coalesce(1).write.parquet(str(src / f"stage_{i}"))
        part = _glob.glob(str(src / f"stage_{i}" / "part-*.parquet"))[0]
        shutil.move(part, str(src / f"file_{i}.parquet"))
        shutil.rmtree(src / f"stage_{i}")

    log_path = str(tmp_path / "drift_log")
    ck = str(tmp_path / "ckpt_drift")
    q = D.start_drift_monitor(spark, str(src), ref_path, log_path, ck)
    q.awaitTermination()

    got = {
        (r["epoch_id"], r["event_type"]): r
        for r in D.drift_log(spark, log_path).collect()
    }
    ref = spark.read.parquet(ref_path)
    # stream == batch per epoch (file_N arrives as epoch N)
    for epoch, sl in enumerate(slices):
        exp = {
            r["event_type"]: r
            for r in D.psi_of(D.value_bins(sl), ref, ["event_type"]).collect()
        }
        for etype, er in exp.items():
            gr = got[(epoch, etype)]
            assert abs(gr["psi"] - er["psi"]) < 1e-12
            assert gr["n_events"] == er["n_events"]
    # in-distribution slice quiet (sampling noise only), shifted slice loud
    assert all(r["psi"] < 0.2 for (e, _t), r in got.items() if e == 0)
    assert all(r["psi"] > 1.0 for (e, _t), r in got.items() if e == 1)

    # replay with the same checkpoint: no new epochs, log unchanged
    q2 = D.start_drift_monitor(spark, str(src), ref_path, log_path, ck)
    q2.awaitTermination()
    assert D.drift_log(spark, log_path).count() == len(got)


def test_corpus_clean_stream_matches_batch_gate(spark, sf_dir, tmp_path):
    """Streaming corpus cleaning == the batch gate on the same corpus: the
    surviving content-fingerprint set is identical, each fingerprint
    appears exactly once, and every survivor's keep probability clears the
    threshold — arrival order changes WHICH duplicate survives, never
    WHAT content survives."""
    from pyspark.sql import functions as F

    from komodo_data_spark.sources.tables import load_table
    from komodo_data_spark.streaming.corpus_stream import (
        clean_docs,
        start_corpus_clean_stream,
    )

    docs = load_table(spark, sf_dir, "documents")
    src = tmp_path / "docs_gate_arrivals"
    src.mkdir()
    import glob as _glob
    import shutil

    for i in range(3):
        docs.filter(F.pmod("doc_id", F.lit(3)) == i).coalesce(1).write.parquet(
            str(src / f"a{i}.d")
        )
    for i, part in enumerate(sorted(_glob.glob(str(src / "*" / "part-*.parquet")))):
        shutil.copy(part, str(src / f"file_{i}.parquet"))
    for d in _glob.glob(str(src / "*.d")):
        shutil.rmtree(d)

    out = str(tmp_path / "clean_out")
    q = start_corpus_clean_stream(
        spark, str(src), out, str(tmp_path / "ckpt_gate")
    )
    q.awaitTermination()

    got = spark.read.parquet(out).toPandas()
    exp = clean_docs(docs).toPandas()
    assert sorted(got["content_fp"]) == sorted(exp["content_fp"])
    assert got["content_fp"].is_unique
    assert (got["p_keep"] >= 0.5).all()


def test_expectations_stream_gates_and_quarantines(spark, sf_dir, events_dir, tmp_path):
    """Streaming expectations gate: clean + quarantine partition the input
    exactly; every quarantined row is annotated with the rules it broke;
    counts match the batch application of the same rules; replaying with
    the same checkpoint adds nothing (epoch-idempotent writes)."""
    from pyspark.sql import functions as F

    from komodo_data_spark.streaming.expectations import (
        EVENTS_RULES,
        annotate,
        start_expectations_stream,
    )

    clean_p = str(tmp_path / "ev_clean")
    quar_p = str(tmp_path / "ev_quarantine")
    ck = str(tmp_path / "ckpt_expect")
    q = start_expectations_stream(spark, events_dir, clean_p, quar_p, ck)
    q.awaitTermination()

    clean = spark.read.parquet(clean_p)
    quar = spark.read.parquet(quar_p)
    batch = annotate(load_events(spark, sf_dir), EVENTS_RULES)
    n_bad = batch.filter(F.size("failed_rules") > 0).count()
    n_all = batch.count()
    assert quar.count() == n_bad
    assert clean.count() == n_all - n_bad
    assert n_bad > 0  # fixture contains 'error' events -> real violations
    # quarantined rows carry the exact broken rules
    assert (
        quar.filter(
            (F.col("event_type") == "error")
            & ~F.array_contains("failed_rules", "known_type")
        ).count()
        == 0
    )
    # clean rows pass every rule when re-audited
    assert (
        annotate(clean, EVENTS_RULES).filter(F.size("failed_rules") > 0).count()
        == 0
    )

    # replay: same checkpoint -> no new epochs, identical counts
    q2 = start_expectations_stream(spark, events_dir, clean_p, quar_p, ck)
    q2.awaitTermination()
    assert spark.read.parquet(clean_p).count() == n_all - n_bad
    assert spark.read.parquet(quar_p).count() == n_bad


def test_streaming_transitions_match_batch_matrix(spark, sf_dir, tmp_path):
    """Per-user last-event state seams consecutive-pair counting across
    micro-batches: the summed streaming increments equal the batch
    transition matrix exactly. Files are staged in event-time tertiles so
    the state must genuinely carry across batches."""
    import shutil as _sh

    from komodo_data_spark.operators.events_analytics import (
        events_transition_matrix,
    )
    from komodo_data_spark.streaming.stateful import user_transitions_stream

    ev = load_events(spark, sf_dir)
    lo, hi = ev.selectExpr(
        "percentile(ts_ms, 0.33)", "percentile(ts_ms, 0.66)"
    ).first()
    src = tmp_path / "ev_tertiles"
    src.mkdir()
    parts = [
        ev.filter(F.col("ts_ms") <= lo),
        ev.filter((F.col("ts_ms") > lo) & (F.col("ts_ms") <= hi)),
        ev.filter(F.col("ts_ms") > hi),
    ]
    import os as _os
    import time as _time

    for i, p in enumerate(parts):
        p.select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        ).coalesce(1).write.parquet(str(src / f"chunk{i}"))
        f = next((src / f"chunk{i}").glob("part-*.parquet"))
        dest = src / f"part-{i}.parquet"
        _sh.move(str(f), str(dest))
        _sh.rmtree(src / f"chunk{i}")
        # file source orders by modification time: force arrival order
        _os.utime(dest, (1_700_000_000 + i, 1_700_000_000 + i))
        _time.sleep(0.01)

    stream = W.events_stream(spark, str(src))
    # one file per batch so state must seam across three batches
    stream = (
        spark.readStream.schema(spark.read.parquet(str(src)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    from komodo_data_spark.sources.tables import normalize_events

    q = (
        user_transitions_stream(normalize_events(stream))
        .writeStream.format("memory")
        .queryName("trans_mem")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_trans"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = (
        spark.table("trans_mem")
        .groupBy("prev_type", "next_type")
        .agg(F.sum("n_transitions").alias("n_transitions"))
        .toPandas()
    )
    exp = (
        events_transition_matrix(spark, sf_dir)
        .select("prev_type", "next_type", "n_transitions")
        .toPandas()
    )
    keys = ["prev_type", "next_type"]
    pd.testing.assert_frame_equal(
        got.sort_values(keys).reset_index(drop=True),
        exp.sort_values(keys).reset_index(drop=True),
        check_dtype=False,
    )



def test_streaming_observe_metrics_surface_in_progress(spark, sf_dir, events_dir, tmp_path):
    """Streaming twin of engine.run_observed: df.observe() metrics ride the
    StreamingQueryProgress — per-batch row counts and invariants with no
    second scan and no extra action, the streaming audit channel."""
    import json as _json

    from komodo_data_spark.sources.tables import load_events

    stream = W.events_stream(spark, events_dir)
    obs = stream.observe(
        "ingest_metrics",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("value").alias("sum_value"),
    )
    q = (
        obs.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt_obs"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    totals = {"n_rows": 0, "sum_value": 0.0}
    for p in q.recentProgress:
        m = _json.loads(p.json).get("observedMetrics", {}).get("ingest_metrics")
        if m:
            totals["n_rows"] += m["n_rows"]
            totals["sum_value"] += m["sum_value"]
    exp = load_events(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
    ).first()
    assert totals["n_rows"] == exp["n"]
    assert abs(totals["sum_value"] - exp["s"]) < 1e-6


def test_incremental_block_scrub_matches_batch(spark, sf_dir, tmp_path):
    """Streaming repeated-block scrub: documents arrive file by file in
    doc_id order; the union of scrubbed outputs across batches equals the
    batch operator over the full corpus (the global first-occurrence
    keeper is then always the first arrival). A second drain over the same
    checkpoint adds nothing; compacting the block store changes no future
    decision; a replayed epoch is idempotent."""
    from pyspark.sql import functions as F

    from komodo_data_spark.operators.dedup import dedup_repeated_blocks
    from komodo_data_spark.sources.tables import load_table
    from komodo_data_spark.streaming.block_scrub import (
        compact_block_store,
        scrub_batch,
        scrubbed_from_store,
        start_incremental_block_scrub,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ids = sorted(r[0] for r in docs.select("doc_id").collect())
    cut1, cut2 = ids[len(ids) // 3], ids[2 * len(ids) // 3]
    # stage the corpus as 3 arrival files RANGE-split by doc_id, so arrival
    # order equals doc_id order (file_0 < file_1 < file_2 lexically).
    src = tmp_path / "docs_arrivals"
    src.mkdir()
    splits = [
        docs.filter(F.col("doc_id") < cut1),
        docs.filter((F.col("doc_id") >= cut1) & (F.col("doc_id") < cut2)),
        docs.filter(F.col("doc_id") >= cut2),
    ]
    import glob as _glob
    import shutil

    for i, part in enumerate(splits):
        part.coalesce(1).write.parquet(str(src / f"arrival_{i}.parquet_dir"))
        inner = _glob.glob(str(src / f"arrival_{i}.parquet_dir" / "part-*.parquet"))
        shutil.copy(inner[0], str(src / f"file_{i}.parquet"))
        shutil.rmtree(str(src / f"arrival_{i}.parquet_dir"))

    store = str(tmp_path / "block_store")
    out = str(tmp_path / "scrubbed")
    ck = str(tmp_path / "ckpt_block_scrub")
    q = start_incremental_block_scrub(spark, str(src), store, out, ck)
    q.awaitTermination()

    def rows(df):
        return {
            (
                r["doc_id"],
                r["n_blocks"],
                r["n_removed"],
                r["clean_len"],
                r["clean_fp"],
            )
            for r in df.collect()
        }

    got = rows(scrubbed_from_store(spark, out))
    exp = rows(dedup_repeated_blocks(spark, sf_dir))
    assert got == exp
    assert sum(r[2] for r in exp) > 0  # the corpus does contain repeats

    # restart with the same checkpoint: no new batches, output unchanged
    q2 = start_incremental_block_scrub(spark, str(src), store, out, ck)
    q2.awaitTermination()
    assert rows(scrubbed_from_store(spark, out)) == exp

    # compaction folds epochs to the base partition, same key set — but by
    # default it must EXCLUDE the highest epoch: that is the only epoch
    # whose checkpoint commit can still be pending, and folding it into
    # the base would make a replay treat its own blocks as history
    # (scrubbing every block of every replayed doc).
    before = {r["blk"] for r in spark.read.parquet(store).collect()}
    assert compact_block_store(spark, store) == 2  # epochs 0,1; 2 kept
    mid = spark.read.parquet(store)
    assert {r["blk"] for r in mid.collect()} == before
    assert {r[0] for r in mid.select("epoch_id").distinct().collect()} == {
        -1,
        2,
    }
    # crash-window replay after a default compaction: epoch 2 re-runs
    # against base(0,1) plus its own intact partition and must make
    # identical decisions — the exact scenario folding epoch 2 would break
    batch2 = spark.read.parquet(str(src / "file_2.parquet")).select(
        "doc_id", "text"
    )
    scrub_batch(spark, batch2, 2, store, out)
    assert rows(scrubbed_from_store(spark, out)) == exp

    # the operator can fold the last epoch once it is known committed
    assert compact_block_store(spark, store, committed_through=2) == 1
    after_df = spark.read.parquet(store)
    assert {r["blk"] for r in after_df.collect()} == before
    assert after_df.select("epoch_id").distinct().collect()[0][0] == -1
    assert compact_block_store(spark, store) == 0  # idempotent

    # at-least-once safety: a crash AFTER the store write but BEFORE the
    # checkpoint commit replays the epoch with its own blocks already on
    # disk — the replay must make identical decisions (history is
    # strictly-earlier epochs), not scrub the replayed docs against
    # themselves.
    batch0 = spark.read.parquet(str(src / "file_0.parquet")).select(
        "doc_id", "text"
    )
    store2, out2 = str(tmp_path / "store2"), str(tmp_path / "out2")
    scrub_batch(spark, batch0, 0, store2, out2)
    first = rows(scrubbed_from_store(spark, out2))
    scrub_batch(spark, batch0, 0, store2, out2)  # replay of epoch 0
    assert rows(scrubbed_from_store(spark, out2)) == first


def test_incremental_bm25_matches_batch(spark, sf_dir, tmp_path):
    """Streaming BM25 index: documents arrive file by file; scoring from
    the accumulated store equals the batch operator over the full corpus
    EXACTLY (scores included — the counters reconstruct the same avgdl
    arithmetic). Replay of an epoch is idempotent; compacting the
    postings — even interleaved with a replay of a folded epoch — changes
    no score."""
    from pyspark.sql import functions as F

    from komodo_data_spark.operators.text_analysis import text_bm25_rank
    from komodo_data_spark.sources.tables import load_table
    from komodo_data_spark.streaming.bm25_incremental import (
        bm25_from_store,
        compact_bm25_postings,
        index_batch,
        start_incremental_bm25,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = tmp_path / "docs_arrivals_bm25"
    src.mkdir()
    import glob as _glob
    import shutil

    for i in range(3):
        part_dir = src / f"arrival_{i}.parquet_dir"
        docs.filter(F.pmod("doc_id", F.lit(3)) == i).coalesce(1).write.parquet(
            str(part_dir)
        )
        inner = _glob.glob(str(part_dir / "part-*.parquet"))
        shutil.copy(inner[0], str(src / f"file_{i}.parquet"))
        shutil.rmtree(str(part_dir))

    store = str(tmp_path / "bm25_store")
    ck = str(tmp_path / "ckpt_bm25")
    q = start_incremental_bm25(spark, str(src), store, ck)
    q.awaitTermination()

    def rows(df):
        return [
            (r["doc_id"], r["bm25_score"], r["n_terms_matched"], r["dl"])
            for r in df.collect()
        ]

    def assert_same(got, exp):
        # identical ranking and integer fields; scores to float tolerance
        # (the per-doc term-score sum is order-sensitive in the last ulp)
        assert [(r[0], r[2], r[3]) for r in got] == [
            (r[0], r[2], r[3]) for r in exp
        ]
        for g, e in zip(got, exp):
            assert abs(g[1] - e[1]) <= 1e-12 * max(abs(e[1]), 1.0)

    exp = rows(text_bm25_rank(spark, sf_dir))
    assert_same(rows(bm25_from_store(spark, store)), exp)
    assert len(exp) > 0

    # replayed epoch: dynamic overwrite of the same partitions, no change
    batch1 = spark.read.parquet(str(src / "file_1.parquet")).select(
        "doc_id", "text"
    )
    index_batch(spark, batch1, 1, store)
    assert_same(rows(bm25_from_store(spark, store)), exp)

    # compaction preserves scores; a replay AFTER its epoch was folded
    # duplicates that epoch's rows on disk — the distinct read absorbs it
    assert compact_bm25_postings(spark, store) == 3
    assert_same(rows(bm25_from_store(spark, store)), exp)
    index_batch(spark, batch1, 1, store)  # replay of a folded epoch
    assert_same(rows(bm25_from_store(spark, store)), exp)
    assert compact_bm25_postings(spark, store) == 1  # refold absorbs it
    assert_same(rows(bm25_from_store(spark, store)), exp)


def test_incremental_bm25_empty_postings_is_valid_empty_index(spark, tmp_path):
    """A corpus containing none of the query terms indexes counters but no
    postings partitions; scoring must return an empty top-k, not a
    path-not-found error."""
    from komodo_data_spark.streaming.bm25_incremental import (
        bm25_from_store,
        index_batch,
    )

    batch = spark.createDataFrame(
        [(1, "nothing matches here"), (2, "still nothing")],
        "doc_id long, text string",
    )
    store = str(tmp_path / "bm25_empty_store")
    index_batch(spark, batch, 0, store)
    got = bm25_from_store(spark, store)
    assert got.count() == 0
    assert got.columns == ["doc_id", "bm25_score", "n_terms_matched", "dl"]


def test_block_scrub_survives_zero_block_first_batch(spark, tmp_path):
    """A first batch of all-short docs writes an EMPTY store directory
    (dynamic overwrite of an empty frame creates the dir, no partitions);
    the next batch must treat that as 'no history yet' rather than failing
    the read forever. Corrupt stores must still fail the batch."""
    import pytest

    from komodo_data_spark.streaming.block_scrub import (
        scrub_batch,
        scrubbed_from_store,
    )

    store = str(tmp_path / "store_empty_first")
    out = str(tmp_path / "out_empty_first")
    short = spark.createDataFrame(
        [(1, "too short"), (2, "also tiny")], "doc_id long, text string"
    )
    blk = "a b c d e f g h"
    full = spark.createDataFrame(
        [(3, f"{blk} x y"), (4, f"{blk} z w")], "doc_id long, text string"
    )
    scrub_batch(spark, short, 0, store, out)
    scrub_batch(spark, full, 1, store, out)  # must not raise
    rows = {
        r["doc_id"]: r["n_removed"]
        for r in scrubbed_from_store(spark, out).collect()
    }
    assert rows == {1: 0, 2: 0, 3: 0, 4: 1}  # doc 3 keeps, doc 4 scrubbed

    bad_store = tmp_path / "bad_block_store"
    bad_store.mkdir()
    (bad_store / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        scrub_batch(spark, full, 2, str(bad_store), out)


def test_docs_pii_gate_quarantines_exactly_the_scanner_hits(spark, tmp_path):
    """Streaming docs gate with the PII rule: the quarantine holds exactly
    the documents the batch PII scanner flags (shared pattern bank), clean
    docs re-audit clean, and checkpoint replay adds nothing."""
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    from komodo_data_spark.streaming.expectations import (
        annotate,
        docs_rules,
        start_docs_expectations_stream,
    )

    texts = [
        "plain words only here",
        "reach me at alice@example.com today",
        "call 555-123-4567 now",
        "server at 10.1.2.3 responded",
        "redacted already [EMAIL] fine",
        "another clean document",
    ]
    docs_dir = str(tmp_path / "docs_in")
    os.makedirs(docs_dir)
    # two files -> two micro-batches at maxFilesPerTrigger=1
    for i, chunk in enumerate((texts[:3], texts[3:])):
        pd.DataFrame(
            {
                "doc_id": range(i * 3 + 1, i * 3 + 1 + len(chunk)),
                "text": chunk,
                "lang": ["en"] * len(chunk),
                "source": ["s"] * len(chunk),
                "n_chars": [len(t) for t in chunk],
            }
        ).to_parquet(os.path.join(docs_dir, f"part{i}.parquet"))

    clean_p = str(tmp_path / "docs_clean")
    quar_p = str(tmp_path / "docs_quar")
    ck = str(tmp_path / "ckpt_docs")
    q = start_docs_expectations_stream(
        spark, docs_dir, clean_p, quar_p, ck, max_files_per_trigger=1
    )
    q.awaitTermination()

    clean = spark.read.parquet(clean_p)
    quar = spark.read.parquet(quar_p)
    assert sorted(r["doc_id"] for r in quar.collect()) == [2, 3, 4]
    assert sorted(r["doc_id"] for r in clean.collect()) == [1, 5, 6]
    assert set(quar.select(F.explode("failed_rules")).toPandas().iloc[:, 0]) == {
        "no_unredacted_pii"
    }
    # clean rows re-audit clean under the same rules
    assert (
        annotate(clean, docs_rules())
        .filter(F.size("failed_rules") > 0)
        .count()
        == 0
    )
    # replay with the same checkpoint: epoch-idempotent, nothing added
    q2 = start_docs_expectations_stream(
        spark, docs_dir, clean_p, quar_p, ck, max_files_per_trigger=1
    )
    q2.awaitTermination()
    assert spark.read.parquet(clean_p).count() == 3
    assert spark.read.parquet(quar_p).count() == 3


def _stage_doc_files(spark, tmp_path, n_files=3):
    import os

    import pandas as pd

    docs_dir = str(tmp_path / "docs_arrivals")
    os.makedirs(docs_dir)
    next_id = 1
    for i in range(n_files):
        n = 4 + i
        pd.DataFrame(
            {
                "doc_id": range(next_id, next_id + n),
                "text": [f"doc number {j} body words" for j in range(n)],
                "n_tokens": [10 + j for j in range(n)],
            }
        ).to_parquet(os.path.join(docs_dir, f"arrival{i}.parquet"))
        next_id += n
    return docs_dir, next_id - 1


def test_incremental_export_matches_batch_sink_after_compaction(
    spark, tmp_path
):
    """Stream arrivals into epoch-partitioned shards, then compact: the
    result must be EXACTLY what the batch sink produces over the same
    input — same manifest, verify-clean — and shard assignment agrees
    between the two paths for every document."""
    from komodo_data_spark.sources.export import (
        export_training_shards,
        read_manifest,
        verify_export,
    )
    from komodo_data_spark.streaming.export_incremental import (
        compact_export,
        start_incremental_export,
    )

    docs_dir, total = _stage_doc_files(spark, tmp_path)
    exp = str(tmp_path / "export_inc")
    ck = str(tmp_path / "ckpt_exp_inc")
    q = start_incremental_export(spark, docs_dir, exp, ck, n_shards=4)
    q.awaitTermination()

    inc = spark.read.parquet(exp)
    assert inc.count() == total
    assert inc.select("epoch_id").distinct().count() == 3  # one per arrival

    # replay with the same checkpoint: epoch-idempotent, nothing added
    q2 = start_incremental_export(spark, docs_dir, exp, ck, n_shards=4)
    q2.awaitTermination()
    assert spark.read.parquet(exp).count() == total

    # batch reference over the same input
    batch_out = str(tmp_path / "export_batch")
    m_batch = export_training_shards(
        spark.read.parquet(docs_dir),
        batch_out,
        n_shards=4,
        token_col="n_tokens",
    )
    m_inc = compact_export(
        spark, exp, n_shards=4, token_col="n_tokens"
    )
    assert m_inc == m_batch  # identical manifest incl. fingerprint
    assert read_manifest(exp) == m_batch
    v = verify_export(spark, exp)
    assert v["ok"], v["mismatches"]
    # per-doc shard assignment identical across the two write paths
    a = {
        r["doc_id"]: r["shard"]
        for r in spark.read.parquet(exp).select("doc_id", "shard").collect()
    }
    b = {
        r["doc_id"]: r["shard"]
        for r in spark.read.parquet(batch_out)
        .select("doc_id", "shard")
        .collect()
    }
    assert a == b


def test_incremental_export_compaction_swap_recovers_from_crash(
    spark, tmp_path
):
    """Crash windows of the shared publish protocol: a READY staging with
    the live path gone rolls FORWARD; an un-ready staging beside an intact
    path is discarded; a stranded backup with the path gone rolls BACK."""
    import os
    import shutil

    from komodo_data_spark.sources.publish import (
        READY_MARKER,
        backup_path,
        staging_path,
    )
    from komodo_data_spark.streaming.export_incremental import (
        compact_export,
        start_incremental_export,
    )

    docs_dir, total = _stage_doc_files(spark, tmp_path)
    exp = str(tmp_path / "export_inc")
    ck = str(tmp_path / "ckpt")
    start_incremental_export(spark, docs_dir, exp, ck, n_shards=2).awaitTermination()

    # crash window: COMPLETE (ready-marked) staging, live path gone
    m1 = compact_export(spark, exp, n_shards=2, token_col="n_tokens")
    shutil.move(exp, staging_path(exp))
    open(os.path.join(staging_path(exp), READY_MARKER), "w").close()
    assert not os.path.exists(exp)
    m2 = compact_export(spark, exp, n_shards=2, token_col="n_tokens")
    assert m2 == m1
    assert spark.read.parquet(exp).count() == total

    # un-ready staging beside an intact path: discarded
    os.makedirs(staging_path(exp))
    m3 = compact_export(spark, exp, n_shards=2, token_col="n_tokens")
    assert m3 == m1
    assert not os.path.exists(staging_path(exp))

    # stranded backup with the path gone (crash before staging was ready):
    # rolls back to the pre-publish directory
    shutil.move(exp, backup_path(exp))
    m4 = compact_export(spark, exp, n_shards=2, token_col="n_tokens")
    assert m4 == m1
    assert spark.read.parquet(exp).count() == total
    assert not os.path.exists(backup_path(exp))


def test_incremental_export_guards(spark, tmp_path):
    """Review-finding guards: reserved columns are refused (not clobbered);
    compacting a never-populated export no-ops to None; duplicate keys
    across epochs (fresh-checkpoint restart) are refused by default and
    resolved newest-wins on request."""
    import pandas as pd

    from komodo_data_spark.streaming.export_incremental import (
        compact_export,
        export_batch,
    )

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a", "b"], "shard": [9, 9]})
    )
    try:
        export_batch(df, 0, str(tmp_path / "x"), n_shards=2)
        raise AssertionError("expected ValueError for reserved column")
    except ValueError:
        pass

    assert compact_export(spark, str(tmp_path / "never_written")) is None

    # same doc under two epochs with different text = stale-epoch state
    exp = str(tmp_path / "dup_store")
    clean = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["old1", "old2"]})
    )
    export_batch(clean, 0, exp, n_shards=2)
    export_batch(
        spark.createDataFrame(pd.DataFrame({"doc_id": [1], "text": ["new1"]})),
        1,
        exp,
        n_shards=2,
    )
    try:
        compact_export(spark, exp, n_shards=2)
        raise AssertionError("expected ValueError for duplicate keys")
    except ValueError as exc:
        assert "duplicate" in str(exc)
    m = compact_export(
        spark, exp, n_shards=2, on_duplicate_keys="keep_latest_epoch"
    )
    assert m["total_rows"] == 2
    rows = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(exp).select("doc_id", "text").collect()
    }
    assert rows == {1: "new1", 2: "old2"}  # newest epoch wins for doc 1

    # NULL keys: must be refused with their own error, never read as
    # "duplicates" (countDistinct skips NULLs) and never collapsed to one
    # row by keep_latest_epoch (review finding)
    exp2 = str(tmp_path / "null_key_store")
    export_batch(
        spark.createDataFrame(
            pd.DataFrame({"doc_id": pd.array([1, None], dtype="Int64"),
                          "text": ["a", "orphan"]})
        ),
        0,
        exp2,
        n_shards=2,
    )
    for mode in ("error", "keep_latest_epoch"):
        try:
            compact_export(spark, exp2, n_shards=2, on_duplicate_keys=mode)
            raise AssertionError("expected ValueError for NULL keys")
        except ValueError as exc:
            assert "NULL" in str(exc) and "duplicate" not in str(exc)

    # ...and a clean store containing NO NULLs and NO duplicates must not
    # trip either guard. The old n != countDistinct comparison misread
    # NULL-KEYED rows as duplicates (the exp2 case above — countDistinct
    # skips NULLs); it was fine on this clean store, which is kept as a
    # guard against over-correcting the fix.
    exp3 = str(tmp_path / "clean_store")
    export_batch(
        spark.createDataFrame(
            pd.DataFrame({"doc_id": [1, 2], "text": ["a", "b"]})
        ),
        0,
        exp3,
        n_shards=2,
    )
    assert compact_export(spark, exp3, n_shards=2)["total_rows"] == 2


def test_incremental_mix_weights_match_batch(spark, sf_dir, tmp_path):
    """Stream the documents table through the counter store: the weights
    read from the store equal the batch docs_temperature_mix over the same
    corpus; replay adds nothing; compaction folds epochs to the O(1) base
    without changing any weight."""
    import os

    from komodo_data_spark.operators.pipeline_ops import docs_temperature_mix
    from komodo_data_spark.streaming.mix_incremental import (
        compact_mix_store,
        read_mix_weights,
        start_incremental_mix,
    )

    # stage the documents table as 3 arrival files
    docs_dir = str(tmp_path / "docs_arrivals")
    os.makedirs(docs_dir)
    from pyspark.sql import functions as F

    from komodo_data_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"stage{i}"))
        import glob
        import shutil

        (src_file,) = glob.glob(str(tmp_path / f"stage{i}" / "*.parquet"))
        shutil.move(src_file, os.path.join(docs_dir, f"arrival{i}.parquet"))

    store = str(tmp_path / "mix_store")
    ck = str(tmp_path / "ckpt_mix")
    start_incremental_mix(spark, docs_dir, store, ck).awaitTermination()

    def as_map(df):
        return {
            r["source"]: (r["n_tokens"], r["p_raw"], r["q_temp"])
            for r in df.collect()
        }

    batch = as_map(docs_temperature_mix(spark, sf_dir))
    inc = as_map(read_mix_weights(spark, store))
    assert set(batch) == set(inc)
    for s in batch:
        assert batch[s][0] == inc[s][0]  # exact token counts
        assert abs(batch[s][1] - inc[s][1]) < 1e-12
        assert abs(batch[s][2] - inc[s][2]) < 1e-12

    # replay: same checkpoint, nothing re-counted
    start_incremental_mix(spark, docs_dir, store, ck).awaitTermination()
    assert as_map(read_mix_weights(spark, store)) == inc

    # compaction: epochs fold to the base, weights unchanged
    folded = compact_mix_store(spark, store)
    assert folded == 3
    assert (
        spark.read.parquet(store).select("epoch_id").distinct().collect()[0][
            "epoch_id"
        ]
        == -1
    )
    assert as_map(read_mix_weights(spark, store)) == inc


def test_mix_store_read_survives_crashed_compaction_scratch(spark, tmp_path):
    """A compaction that crashed after staging the scratch epoch (-2) but
    before the marker install must not double-count reads: the reader
    heals the store and the weights stay identical. An empty/missing
    store reads as an empty weights frame and compacts to 0."""
    import pandas as pd

    from komodo_data_spark.streaming.mix_incremental import (
        compact_mix_store,
        counts_batch,
        read_mix_weights,
    )
    from komodo_data_spark.streaming.sketches import _TMP_EPOCH

    store = str(tmp_path / "mix_store")
    for e, rows in enumerate(([("a", "x y z")], [("a", "p q"), ("b", "m n")])):
        counts_batch(
            spark.createDataFrame(
                pd.DataFrame(rows, columns=["source", "text"])
            ),
            e,
            store,
        )
    before = {
        r["source"]: r["n_tokens"] for r in read_mix_weights(spark, store).collect()
    }
    assert before == {"a": 5, "b": 2}
    # simulate the crash: full copy of the store staged under epoch_id=-2
    (
        spark.read.parquet(store)
        .groupBy("source")
        .agg(F.sum("n_tokens").alias("n_tokens"))
        .withColumn("epoch_id", F.lit(_TMP_EPOCH))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch_id")
        .parquet(store)
    )
    after = {
        r["source"]: r["n_tokens"] for r in read_mix_weights(spark, store).collect()
    }
    assert after == before  # no double count
    # missing store: empty frame + compaction no-op
    empty = read_mix_weights(spark, str(tmp_path / "never"))
    assert empty.count() == 0
    assert compact_mix_store(spark, str(tmp_path / "never")) == 0


def test_incremental_ann_index_matches_batch_knn(spark, sf_dir, tmp_path):
    """Streaming ANN index: vectors arrive file by file; top-k served from
    the store alone equals the batch knn_lsh_signbits over the full corpus
    — arrival order must not change any neighbor. A second drain over the
    same checkpoint adds nothing (epoch-idempotent partitions), and the
    DISTINCT fold compaction provably changes no probe result."""
    import glob as _glob
    import shutil

    from pyspark.sql import functions as F

    from komodo_data_spark.operators.similarity import knn_lsh_signbits
    from komodo_data_spark.sources.tables import load_table
    from komodo_data_spark.streaming.ann_incremental import (
        compact_ann_store,
        knn_from_store,
        start_incremental_ann_index,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    src = tmp_path / "emb_arrivals"
    src.mkdir()
    for i in range(3):
        emb.filter(F.pmod("vec_id", F.lit(3)) == i).coalesce(1).write.parquet(
            str(src / f"arrival_{i}.parquet_dir")
        )
    for i, part in enumerate(
        sorted(_glob.glob(str(src / "*" / "part-*.parquet")))
    ):
        shutil.copy(part, str(src / f"file_{i}.parquet"))
    for d in _glob.glob(str(src / "*.parquet_dir")):
        shutil.rmtree(d)

    store = str(tmp_path / "ann_store")
    ck = str(tmp_path / "ckpt_ann")
    start_incremental_ann_index(spark, str(src), store, ck).awaitTermination()

    def topk():
        return sorted(
            (r["query_id"], r["rnk"], r["neighbor_id"], round(r["cosine"], 9))
            for r in knn_from_store(spark, store).collect()
        )

    got = topk()
    exp = sorted(
        (r["query_id"], r["rnk"], r["neighbor_id"], round(r["cosine"], 9))
        for r in knn_lsh_signbits(spark, sf_dir).collect()
    )
    assert got == exp and got

    # replay drain: same checkpoint, nothing new to process
    start_incremental_ann_index(spark, str(src), store, ck).awaitTermination()
    assert topk() == exp

    # compaction folds epochs without changing any probe result
    n_folded = compact_ann_store(spark, store)
    assert n_folded >= 3
    assert topk() == exp

    # empty store contract
    assert knn_from_store(spark, str(tmp_path / "never")) is None


def test_incremental_pq_index_matches_batch_ivfpq(spark, sf_dir, tmp_path):
    """PQ-coded streaming ANN index: the model (coarse cells + residual
    codebooks) freezes from the batch fit, vectors arrive file by file and
    encode to (vec_id, cell_id, codes) rows, and ADC top-k served from the
    code store alone equals batch knn_ivfpq_adc over the same corpus —
    arrival order must not change any neighbor or any cosine bit. Replay
    drain adds nothing; the DISTINCT fold changes no probe; and the code
    store is materially NARROWER on disk than the float store over the
    identical rows (the round-7 verdict #3 point of the upgrade)."""
    import glob as _glob
    import shutil

    from pyspark.sql import functions as F

    from komodo_data_spark.operators.similarity import (
        N_QUERIES,
        knn_ivfpq_adc,
    )
    from komodo_data_spark.sources.tables import load_table
    from komodo_data_spark.streaming.ann_incremental import (
        start_incremental_ann_index,
    )
    from komodo_data_spark.streaming.ann_pq_incremental import (
        compact_pq_store,
        knn_from_pq_store,
        publish_ivfpq_model,
        read_pq_index,
        start_incremental_pq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    src = tmp_path / "emb_arrivals"
    src.mkdir()
    for i in range(3):
        emb.filter(F.pmod("vec_id", F.lit(3)) == i).coalesce(1).write.parquet(
            str(src / f"arrival_{i}.parquet_dir")
        )
    for i, part in enumerate(
        sorted(_glob.glob(str(src / "*" / "part-*.parquet")))
    ):
        shutil.copy(part, str(src / f"file_{i}.parquet"))
    for d in _glob.glob(str(src / "*.parquet_dir")):
        shutil.rmtree(d)

    model = str(tmp_path / "pq_model")
    store = str(tmp_path / "pq_store")
    ck = str(tmp_path / "ckpt_pq")

    # model not published yet -> fail fast, not inside the first batch
    import pytest

    with pytest.raises(RuntimeError, match="IVFPQ"):
        start_incremental_pq_index(spark, str(src), model, store, ck)

    publish_ivfpq_model(spark, sf_dir, model)
    start_incremental_pq_index(
        spark, str(src), model, store, ck
    ).awaitTermination()

    queries = emb.filter(F.col("vec_id") < N_QUERIES)

    def topk():
        return sorted(
            (r["query_id"], r["rnk"], r["neighbor_id"], r["adc_cosine"])
            for r in knn_from_pq_store(spark, model, store, queries).collect()
        )

    got = topk()
    exp = sorted(
        (r["query_id"], r["rnk"], r["neighbor_id"], r["adc_cosine"])
        for r in knn_ivfpq_adc(spark, sf_dir).collect()
    )
    assert got == exp and got  # bit-exact cosines, same neighbors

    # replay drain: same checkpoint, nothing new to process
    start_incremental_pq_index(
        spark, str(src), model, store, ck
    ).awaitTermination()
    assert topk() == exp

    # compaction folds epochs without changing any probe result
    assert compact_pq_store(spark, store) >= 3
    assert topk() == exp

    # width: build the FLOAT store over the identical arrivals and compare
    # on-disk bytes — the code store must be materially narrower (the
    # in-memory payload ratio is 4 codes vs 64 doubles = 256x; parquet
    # encoding and per-row overhead compress that, still >= 4x here)
    fstore = str(tmp_path / "float_store")
    start_incremental_ann_index(
        spark, str(src), fstore, str(tmp_path / "ckpt_float")
    ).awaitTermination()

    def _bytes(root):
        return sum(
            os.path.getsize(p)
            for p in _glob.glob(os.path.join(root, "**", "*.parquet"),
                                recursive=True)
        )

    import os

    pq_bytes, float_bytes = _bytes(store), _bytes(fstore)
    assert read_pq_index(spark, store).count() == emb.count()
    assert pq_bytes * 4 <= float_bytes, (pq_bytes, float_bytes)

    # empty store contract
    assert knn_from_pq_store(spark, model, str(tmp_path / "never"), queries) is None


def test_docs_compression_gate_matches_batch_scorer(spark, sf_dir, tmp_path):
    """The streaming zlib gate must keep/quarantine exactly the documents
    the batch scorer's keep band keeps/drops (one shared kernel), across
    file-by-file arrival; a replay drain over the same checkpoint adds
    nothing."""
    import glob as _glob
    import shutil

    import pandas as pd
    from pyspark.sql import functions as F

    from komodo_data_spark.operators.text_analysis import (
        text_compression_ratio,
    )
    from komodo_data_spark.streaming.compression_gate import (
        start_docs_compression_gate,
    )

    # corpus + planted rows covering the gate's full contract: a
    # degenerate doc (quarantine nonempty), the SAME doc_id delivered
    # twice (a re-crawl batch — each row must pass through exactly once,
    # never be join-multiplied), and a NULL doc_id row (must be split,
    # never dropped)
    planted = spark.createDataFrame(
        [
            (990001, "spam " * 400, "en", "s", 2000),
            (990005, "a normal enough document about spark", "en", "s", 36),
            (990005, "a normal enough document about spark", "en", "s", 36),
            (None, "orphan row with no key but real text here", "en", "s", 41),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").unionByName(
        planted
    )
    src = tmp_path / "docs_gate_arrivals"
    src.mkdir()
    staged = str(tmp_path / "staged_docs")
    # load_table expects {dir}/documents.parquet
    docs.coalesce(1).write.parquet(staged + "/documents.parquet")
    for i in range(3):
        # coalesce the NULL doc_id into bucket 0 — pmod(NULL) matches no
        # filter and would silently drop the row from the arrivals
        docs.filter(
            F.coalesce(F.pmod("doc_id", F.lit(3)), F.lit(0)) == i
        ).coalesce(1).write.parquet(str(src / f"arrival_{i}.parquet_dir"))
    for i, part in enumerate(
        sorted(_glob.glob(str(src / "*" / "part-*.parquet")))
    ):
        shutil.copy(part, str(src / f"file_{i}.parquet"))
    for d in _glob.glob(str(src / "*.parquet_dir")):
        shutil.rmtree(d)

    clean = str(tmp_path / "gate_clean")
    quar = str(tmp_path / "gate_quarantine")
    ck = str(tmp_path / "ckpt_zgate")
    start_docs_compression_gate(
        spark, str(src), clean, quar, ck, max_files_per_trigger=1
    ).awaitTermination()

    from collections import Counter

    batch = Counter(
        (r["doc_id"], r["keep"])
        for r in text_compression_ratio(spark, staged).collect()
    )
    got_clean = Counter(
        r["doc_id"] for r in spark.read.parquet(clean).collect()
    )
    got_quar = Counter(r["doc_id"] for r in spark.read.parquet(quar).collect())
    assert got_clean == Counter(d for (d, k), n in batch.items() if k for _ in range(n))
    assert got_quar == Counter(d for (d, k), n in batch.items() if not k for _ in range(n))
    assert got_quar[990001] == 1 and got_clean
    # duplicate rows pass through exactly once each (not join-multiplied
    # to x4) and the NULL-keyed row is split, not dropped — whichever side
    # of the band the batch scorer puts them on
    assert got_clean[990005] + got_quar[990005] == 2
    assert got_clean[None] + got_quar[None] == 1

    # replay drain: epoch-idempotent partitions, nothing duplicated
    start_docs_compression_gate(
        spark, str(src), clean, quar, ck, max_files_per_trigger=1
    ).awaitTermination()
    assert spark.read.parquet(clean).count() == sum(got_clean.values())
    assert spark.read.parquet(quar).count() == sum(got_quar.values())


def test_docs_decontamination_gate_matches_batch_scanner(spark, sf_dir, tmp_path):
    """The streaming 4-gram decontamination gate must reach exactly the
    batch scanner's verdicts (one shared kernel,
    ``pipeline_ops.contamination_annotate``) across file-by-file arrival;
    a benchmark-store update mid-stream screens only SUBSEQUENT batches;
    a replay drain over the same checkpoint adds nothing."""
    import glob as _glob
    import shutil

    from pyspark.sql import functions as F

    from komodo_data_spark.operators.pipeline_ops import (
        benchmark_contamination,
    )
    from komodo_data_spark.streaming.decontamination_gate import (
        DEFAULT_MAX_CONTAM_FRAC,
        start_docs_decontamination_gate,
        update_benchmark_store,
    )

    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench_docs = base.filter(F.col("doc_id") % 47 == 0)
    leak_text = bench_docs.orderBy("doc_id").first()["text"]
    # planted rows covering the gate's full contract: an eval-set leak
    # (quarantine nonempty; 990001 % 47 != 0 so the batch scanner treats
    # it as corpus), the SAME doc_id delivered twice (must pass through
    # exactly once each, never join-multiplied), and a NULL doc_id row
    # (must be split, never dropped)
    planted = spark.createDataFrame(
        [
            (990001, leak_text, "en", "s", len(leak_text)),
            (990005, "a normal enough document about spark", "en", "s", 36),
            (990005, "a normal enough document about spark", "en", "s", 36),
            (None, "orphan row with no key but real text here", "en", "s", 41),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    corpus = base.filter(F.col("doc_id") % 47 != 0).unionByName(planted)

    # batch scanner's view: one documents table holding bench + corpus
    # (it derives the benchmark membership by the % 47 stand-in itself);
    # it drops NULL-keyed rows by that membership filter, so the NULL row
    # is pinned on the gate side only
    staged = str(tmp_path / "staged_docs")
    base.unionByName(planted.filter(F.col("doc_id").isNotNull())).coalesce(
        1
    ).write.parquet(staged + "/documents.parquet")

    src = tmp_path / "docs_decontam_arrivals"
    src.mkdir()
    for i in range(3):
        corpus.filter(
            F.coalesce(F.pmod("doc_id", F.lit(3)), F.lit(0)) == i
        ).coalesce(1).write.parquet(str(src / f"arrival_{i}.parquet_dir"))
    for i, part in enumerate(
        sorted(_glob.glob(str(src / "*" / "part-*.parquet")))
    ):
        shutil.copy(part, str(src / f"file_{i}.parquet"))
    for d in _glob.glob(str(src / "*.parquet_dir")):
        shutil.rmtree(d)

    store = str(tmp_path / "bench_store")
    update_benchmark_store(bench_docs, store, version=1)

    clean = str(tmp_path / "decontam_clean")
    quar = str(tmp_path / "decontam_quarantine")
    ck = str(tmp_path / "ckpt_decontam")
    start_docs_decontamination_gate(
        spark, str(src), store, clean, quar, ck, max_files_per_trigger=1
    ).awaitTermination()

    # stream == batch: same keep verdict AND same contamination_frac for
    # every unique non-NULL corpus doc (990005 is excluded from the frac
    # map below because the batch scanner keys hits by doc_id — its two
    # rows share one aggregate — while the gate scores each row; both
    # sides agree on the verdict either way, pinned by the counters)
    batch = {
        r["doc_id"]: (
            r["contamination_frac"] <= DEFAULT_MAX_CONTAM_FRAC,
            r["contamination_frac"],
        )
        for r in benchmark_contamination(spark, staged).collect()
    }
    got_clean = spark.read.parquet(clean).collect()
    got_quar = spark.read.parquet(quar).collect()
    for rows, expect_keep in ((got_clean, True), (got_quar, False)):
        for r in rows:
            if r["doc_id"] is None or r["doc_id"] == 990005:
                continue
            keep, frac = batch[r["doc_id"]]
            assert keep is expect_keep, r["doc_id"]
            assert abs(r["contamination_frac"] - frac) < 1e-12, r["doc_id"]
    from collections import Counter

    clean_ids = Counter(r["doc_id"] for r in got_clean)
    quar_ids = Counter(r["doc_id"] for r in got_quar)
    assert set(clean_ids) | set(quar_ids) == set(batch) | {None, 990005}
    assert quar_ids[990001] == 1  # the planted eval leak is quarantined
    assert clean_ids[990005] + quar_ids[990005] == 2  # dup passes twice
    assert clean_ids[None] + quar_ids[None] == 1  # NULL split, not dropped

    # benchmark-store update mid-stream: a NEW benchmark version screens
    # only batches that arrive after it — prior epochs stay as published
    new_bench_text = "a freshly released benchmark question about windows"
    update_benchmark_store(
        spark.createDataFrame([(new_bench_text,)], "text string"),
        store,
        version=2,
    )
    late = spark.createDataFrame(
        [
            (990100, new_bench_text, "en", "s", len(new_bench_text)),
            (990101, "late but perfectly clean document text", "en", "s", 38),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    late.coalesce(1).write.parquet(str(src / "arrival_late.parquet_dir"))
    part = _glob.glob(str(src / "arrival_late.parquet_dir" / "part-*.parquet"))[0]
    shutil.copy(part, str(src / "file_3.parquet"))
    shutil.rmtree(str(src / "arrival_late.parquet_dir"))
    start_docs_decontamination_gate(
        spark, str(src), store, clean, quar, ck, max_files_per_trigger=1
    ).awaitTermination()
    clean_ids2 = Counter(r["doc_id"] for r in spark.read.parquet(clean).collect())
    quar_ids2 = Counter(r["doc_id"] for r in spark.read.parquet(quar).collect())
    assert quar_ids2[990100] == 1 and clean_ids2[990101] == 1
    # prior epochs untouched: only the two late rows were added
    assert sum(clean_ids2.values()) == sum(clean_ids.values()) + 1
    assert sum(quar_ids2.values()) == sum(quar_ids.values()) + 1

    # replay drain: epoch-idempotent partitions, nothing duplicated
    start_docs_decontamination_gate(
        spark, str(src), store, clean, quar, ck, max_files_per_trigger=1
    ).awaitTermination()
    assert spark.read.parquet(clean).count() == sum(clean_ids2.values())
    assert spark.read.parquet(quar).count() == sum(quar_ids2.values())


def test_compact_distinct_store_crash_fuzz_every_prune(spark, tmp_path):
    """Kill compact_distinct_store before EVERY epoch-prune rmtree (for
    all N): the store's distinct fact set must be unchanged after the
    crash (the base was written before any prune, so facts are at worst
    duplicated across base + unpruned epochs), and a plain re-fold must
    converge to the single -1 base with the identical fact set."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from komodo_data_spark.streaming import stores as S

    def build(n: int) -> str:
        store = str(tmp_path / f"dfuzz_{n}")
        for e in range(3):
            (
                spark.range(e * 4, e * 4 + 6)  # overlapping ranges: real dups
                .select(
                    F.col("id").alias("k"),
                    (F.col("id") % 5).alias("v"),
                    F.lit(e).cast("long").alias("epoch_id"),
                )
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("epoch_id")
                .parquet(store)
            )
        return store

    def facts(store: str):
        return sorted(
            (r["k"], r["v"])
            for r in spark.read.parquet(store)
            .select("k", "v")
            .distinct()
            .collect()
        )

    class _Crash:
        def __init__(self, at):
            self.at, self.calls = at, 0

        def rmtree(self, *a, **k):
            if self.calls >= self.at:
                raise RuntimeError("injected crash")
            self.calls += 1
            import shutil as real

            return real.rmtree(*a, **k)

        def __getattr__(self, name):
            import shutil as real

            return getattr(real, name)

    baseline = facts(build(99))
    for n in range(3):  # 3 epochs -> 3 prune rmtrees
        store = build(n)
        crash = _Crash(n)
        orig = S.shutil
        S.shutil = crash
        try:
            with pytest.raises(RuntimeError, match="injected crash"):
                S.compact_distinct_store(spark, store, ["k", "v"])
        finally:
            S.shutil = orig
        assert facts(store) == baseline  # no fact lost or invented
        refolded = S.compact_distinct_store(spark, store, ["k", "v"])
        assert refolded >= 0
        assert facts(store) == baseline
        parts = [
            d for d in os.listdir(store) if d.startswith("epoch_id=")
        ]
        assert parts == ["epoch_id=-1"]  # fully folded after retry


def test_k_anonymity_gate_hold_and_release(spark, tmp_path):
    """The streaming k-anonymity release gate: a record is released iff its
    QI class's ACCUMULATED count has reached k (hold-and-release —
    k-anonymity is a corpus property, classes only grow), and when a class
    CROSSES k its earlier-parked members are promoted out of held in the
    SAME epoch — so the released store satisfies k-anonymity at every
    epoch boundary, not just after an out-of-band promotion job. A
    replayed epoch (at-least-once redelivery) overwrites its own
    store/output partitions and changes nothing."""
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from komodo_data_spark.operators.pipeline_ops import QI_COLS
    from komodo_data_spark.streaming.k_anonymity_gate import (
        accumulated_class_counts,
        k_anonymity_gate_batch,
        start_k_anonymity_gate,
        still_held,
    )

    def cust(rows):
        return pa.table(
            {
                "c_custkey": pa.array([r[0] for r in rows], pa.int64()),
                "c_name": pa.array([f"C#{r[0]}" for r in rows], pa.string()),
                "c_nationkey": pa.array([r[1] for r in rows], pa.int32()),
                "c_acctbal": pa.array([r[3] for r in rows], pa.float64()),
                "c_mktsegment": pa.array([r[2] for r in rows], pa.string()),
            }
        )

    # class A = (1, AUTO, band 1), class B = (2, BLDG, band 0); k = 3
    A, B = (1, "AUTO", 1500.0), (2, "BLDG", 10.0)
    arrivals = [
        [(1, *A), (2, *A), (3, *B)],  # epoch 0: A=2 held, B=1 held
        [(4, *A)],  # epoch 1: A crosses 3 -> row 4 AND parked 1,2 release
        [(5, *A), (6, *B)],  # epoch 2: A=4 released, B=2 held
    ]
    src = tmp_path / "kanon_arrivals"
    src.mkdir()
    for i, rows in enumerate(arrivals):
        p = str(src / f"file_{i}.parquet")
        pq.write_table(cust(rows), p)
        _os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    store = str(tmp_path / "kanon_store")
    rel = str(tmp_path / "kanon_released")
    held = str(tmp_path / "kanon_held")
    start_k_anonymity_gate(
        spark, str(src), store, rel, held,
        str(tmp_path / "ckpt_kanon"), k=3, max_files_per_trigger=1,
    ).awaitTermination()

    rel_rows = spark.read.parquet(rel).collect()
    released = {
        (r["c_custkey"], r["epoch_id"], r["origin_epoch"]) for r in rel_rows
    }
    held_rows = {
        (r["c_custkey"], r["epoch_id"])
        for r in spark.read.parquet(held).collect()
    }
    # atomic whole-class release: epoch 1 publishes row 4 AND the parked
    # rows 1, 2 (origin epoch 0) the moment class A crosses k=3
    assert released == {(4, 1, 1), (1, 1, 0), (2, 1, 0), (5, 2, 2)}
    # held is append-only; promotion publishes to released without
    # rewriting held partitions
    assert held_rows == {(1, 0), (2, 0), (3, 0), (6, 2)}

    # the privacy invariant the atomic release buys: at EVERY epoch
    # boundary the released store itself is k-anonymous
    for upto in (0, 1, 2):
        by_class: dict[tuple, int] = {}
        for r in rel_rows:
            if r["epoch_id"] <= upto:
                key = tuple(r[c] for c in QI_COLS)
                by_class[key] = by_class.get(key, 0) + 1
        assert all(n >= 3 for n in by_class.values()), (upto, by_class)

    # accumulated store == the batch audit's class sizes
    acc = {
        tuple(r[c] for c in QI_COLS): r["acc_n"]
        for r in accumulated_class_counts(spark, store).collect()
    }
    assert acc == {(1, "AUTO", 1): 4, (2, "BLDG", 0): 2}

    # the live parked view: only records whose class is still below k
    parked = {r["c_custkey"] for r in still_held(spark, store, held, k=3).collect()}
    assert parked == {3, 6}

    # at-least-once replay of epoch 1: byte-identical state, no recount
    replay = spark.createDataFrame(
        [(4, "C#4", 1, 1500.0, "AUTO")],
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    k_anonymity_gate_batch(replay, 1, store, rel, held, k=3)
    acc2 = {
        tuple(r[c] for c in QI_COLS): r["acc_n"]
        for r in accumulated_class_counts(spark, store).collect()
    }
    assert acc2 == acc
    released2 = {
        (r["c_custkey"], r["epoch_id"], r["origin_epoch"])
        for r in spark.read.parquet(rel).collect()
    }
    assert released2 == released


def test_k_anonymity_still_held_when_everything_released(spark, tmp_path):
    """A held dir holding only _SUCCESS (every epoch released everything —
    empty partitioned writes emit no part files) is a legitimate state:
    ``still_held`` must return the EMPTY parked view when given the held
    schema, and fail with a precondition error naming that fix when not
    (round-7 advice: the bare read threw UNABLE_TO_INFER_SCHEMA)."""
    import pytest

    from komodo_data_spark.streaming.k_anonymity_gate import (
        k_anonymity_gate_batch,
        still_held,
    )

    batch = spark.createDataFrame(
        [(1, "C#1", 1, 1500.0, "AUTO"), (2, "C#2", 1, 1600.0, "AUTO")],
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    store = str(tmp_path / "store")
    rel = str(tmp_path / "released")
    held = str(tmp_path / "held")
    # k=1: both records release at epoch 0; the held write is an empty
    # partitioned frame -> held dir contains only _SUCCESS
    k_anonymity_gate_batch(batch, 0, store, rel, held, k=1)
    assert spark.read.parquet(rel).count() == 2

    held_schema = (
        spark.read.parquet(rel).drop("origin_epoch").schema
    )  # held rows = released rows minus the promotion stamp
    assert (
        still_held(spark, store, held, k=1, schema=held_schema).count() == 0
    )
    with pytest.raises(RuntimeError, match="schema"):
        still_held(spark, store, held, k=1)


def test_docs_dsir_gate_matches_batch_weights(spark, sf_dir, tmp_path):
    """The streaming DSIR importance gate must reproduce the batch
    scorer's weights exactly (one shared kernel: ``dsir_fit_llr`` +
    ``dsir_annotate``) across file-by-file arrival; a model REFIT
    mid-stream re-scores only SUBSEQUENT batches (latest-wins store,
    unlike the union-of-versions benchmark store); a replay drain over
    the same checkpoint adds nothing."""
    import glob as _glob
    import shutil
    from collections import Counter

    from pyspark.sql import functions as F

    from komodo_data_spark.operators.pipeline_ops import (
        DSIR_TARGET_SOURCE,
        docs_dsir_weights,
    )
    from komodo_data_spark.streaming.dsir_gate import (
        start_docs_dsir_gate,
        update_dsir_model_store,
    )

    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    raw = base.filter(F.col("source") != DSIR_TARGET_SOURCE)
    # planted rows covering the pass-through contract: the SAME doc_id
    # delivered twice (must pass through exactly once each, never
    # join-multiplied) and a NULL doc_id row (split, never dropped)
    planted = spark.createDataFrame(
        [
            (990005, "a normal enough document about spark", "en", "sX", 36),
            (990005, "a normal enough document about spark", "en", "sX", 36),
            (None, "orphan row with no key but real text here", "en", "sX", 41),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    arrivals = raw.unionByName(planted)

    src = tmp_path / "docs_dsir_arrivals"
    src.mkdir()
    for i in range(3):
        arrivals.filter(
            F.coalesce(F.pmod("doc_id", F.lit(3)), F.lit(0)) == i
        ).coalesce(1).write.parquet(str(src / f"arrival_{i}.parquet_dir"))
    for i, part in enumerate(
        sorted(_glob.glob(str(src / "*" / "part-*.parquet")))
    ):
        shutil.copy(part, str(src / f"file_{i}.parquet"))
    for d in _glob.glob(str(src / "*.parquet_dir")):
        shutil.rmtree(d)

    store = str(tmp_path / "dsir_model_store")
    update_dsir_model_store(base, store, version=1)

    keep = str(tmp_path / "dsir_keep")
    div = str(tmp_path / "dsir_diverted")
    ck = str(tmp_path / "ckpt_dsir")
    start_docs_dsir_gate(
        spark, str(src), store, keep, div, ck, max_files_per_trigger=1
    ).awaitTermination()

    # stream == batch: the gate's log_weight equals the batch scorer's
    # for every unique corpus doc (same corpus snapshot behind the model)
    batch = {
        r["doc_id"]: (r["n_toks"], r["log_weight"])
        for r in docs_dsir_weights(spark, sf_dir).collect()
    }
    got_keep = spark.read.parquet(keep).collect()
    got_div = spark.read.parquet(div).collect()
    seen = Counter()
    for rows, expect_keep in ((got_keep, True), (got_div, False)):
        for r in rows:
            seen[r["doc_id"]] += 1
            assert (r["log_weight"] >= 0.0) is expect_keep, r["doc_id"]
            if r["doc_id"] is None or r["doc_id"] == 990005:
                continue
            n, lw = batch[r["doc_id"]]
            assert r["n_toks"] == n, r["doc_id"]
            assert abs(r["log_weight"] - lw) < 1e-9, r["doc_id"]
    assert set(seen) == set(batch) | {None, 990005}
    assert seen[990005] == 2  # dup passes through twice
    assert seen[None] == 1  # NULL-keyed row split, not dropped

    # model refit mid-stream: vocabulary unseen by model v1 scores as
    # mildly target-like (smoothing mass ratio favors the smaller target
    # total), but after a refit on a corpus where that vocabulary is
    # heavily RAW, the same text is diverted — and only batches arriving
    # AFTER the refit see the new model
    odd_vocab = "zzzqq wwvvk kkjjr zzzqq wwvvk"
    flood = spark.createDataFrame(
        [(800000 + i, odd_vocab, "en", "sRaw", len(odd_vocab)) for i in range(50)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    update_dsir_model_store(base.unionByName(flood), store, version=2)
    late = spark.createDataFrame(
        [(990100, odd_vocab, "en", "sX", len(odd_vocab))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    late.coalesce(1).write.parquet(str(src / "arrival_late.parquet_dir"))
    part = _glob.glob(str(src / "arrival_late.parquet_dir" / "part-*.parquet"))[0]
    shutil.copy(part, str(src / "file_3.parquet"))
    shutil.rmtree(str(src / "arrival_late.parquet_dir"))
    start_docs_dsir_gate(
        spark, str(src), store, keep, div, ck, max_files_per_trigger=1
    ).awaitTermination()
    div2 = Counter(r["doc_id"] for r in spark.read.parquet(div).collect())
    keep2 = Counter(r["doc_id"] for r in spark.read.parquet(keep).collect())
    assert div2[990100] == 1  # odd vocab diverted under the refit model
    # prior epochs keep their v1 verdicts: exactly one row was added
    assert sum(keep2.values()) + sum(div2.values()) == sum(seen.values()) + 1

    # replay drain: epoch-idempotent partitions, nothing duplicated
    start_docs_dsir_gate(
        spark, str(src), store, keep, div, ck, max_files_per_trigger=1
    ).awaitTermination()
    assert spark.read.parquet(keep).count() == sum(keep2.values())
    assert spark.read.parquet(div).count() == sum(div2.values())


def test_moments_stream_matches_batch_rollup_merge(spark, sf_dir, tmp_path):
    """Incremental moments store == batch rollup merge on the same rows:
    the stream persists per-epoch hourly partials (hours deliberately
    SPLIT across micro-batches by the parity staging), the store readout
    reproduces the batch op's daily statistics including the merged
    variance, replay with the same checkpoint changes nothing
    (epoch-idempotent partitions), and the retention fold to hour grain
    preserves the readout exactly."""
    import glob as _glob
    import shutil

    from pyspark.sql import functions as F

    from komodo_data_spark.operators.timeseries import (
        events_rollup_merge,
        merge_daily,
    )
    from komodo_data_spark.sources.tables import load_events
    from komodo_data_spark.streaming import moments_incremental as M

    ev = load_events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    src = tmp_path / "moments_arrivals"
    src.mkdir()
    for i in range(2):  # every hour lands in BOTH epochs -> real merging
        sl = ev.filter(F.col("event_id") % 2 == i)
        sl.coalesce(1).write.parquet(str(src / f"stage_{i}"))
        part = _glob.glob(str(src / f"stage_{i}" / "part-*.parquet"))[0]
        shutil.move(part, str(src / f"file_{i}.parquet"))
        shutil.rmtree(src / f"stage_{i}")

    store = str(tmp_path / "moments_store")
    ck = str(tmp_path / "ckpt_moments")
    q = M.start_moments_stream(spark, str(src), store, ck)
    q.awaitTermination()

    def by_day(df):
        return {r["day_ms"]: r for r in df.collect()}

    got = by_day(M.daily_from_store(spark, store))
    exp = by_day(events_rollup_merge(spark, sf_dir))
    assert set(got) == set(exp) and got
    for day, er in exp.items():
        gr = got[day]
        for c in ("n_events", "n_values", "min_value", "max_value"):
            assert gr[c] == er[c], (day, c)
        for c in ("sum_value", "mean_value", "var_pop_value"):
            assert abs(gr[c] - er[c]) <= 1e-9 * max(1.0, abs(er[c])), (day, c)

    partials = spark.read.parquet(store)
    assert partials.select("epoch_id").distinct().count() == 2
    # hours genuinely split across epochs (the merge path is exercised)
    assert (
        partials.groupBy("hour").count().filter(F.col("count") > 1).count()
        > 0
    )

    # replay with the same checkpoint: store unchanged
    n_rows = partials.count()
    q2 = M.start_moments_stream(spark, str(src), store, ck)
    q2.awaitTermination()
    assert spark.read.parquet(store).count() == n_rows

    # retention fold to hour grain: readout identical
    folded = by_day(merge_daily(M.compact_store(spark, store)))
    assert set(folded) == set(got)
    for day, gr in got.items():
        fr = folded[day]
        for c in ("n_events", "n_values", "min_value", "max_value"):
            assert fr[c] == gr[c]
        for c in ("sum_value", "mean_value", "var_pop_value"):
            assert abs(fr[c] - gr[c]) <= 1e-9 * max(1.0, abs(gr[c]))


def test_gates_fail_fast_without_published_store(spark, tmp_path):
    """A gate started before its model/benchmark store was ever published
    must raise a clear precondition error at start_*() time — not die
    inside the first foreachBatch with a bare path-not-found (round-6
    advice finding)."""
    from komodo_data_spark.streaming.decontamination_gate import (
        start_docs_decontamination_gate,
    )
    from komodo_data_spark.streaming.dsir_gate import start_docs_dsir_gate

    docs = str(tmp_path / "docs")
    with pytest.raises(RuntimeError, match="benchmark-shingle store"):
        start_docs_decontamination_gate(
            spark, docs, str(tmp_path / "no_store"),
            str(tmp_path / "clean"), str(tmp_path / "quar"),
            str(tmp_path / "ckpt1"),
        )
    with pytest.raises(RuntimeError, match="DSIR model store"):
        start_docs_dsir_gate(
            spark, docs, str(tmp_path / "no_model"),
            str(tmp_path / "keep"), str(tmp_path / "div"),
            str(tmp_path / "ckpt2"),
        )


def test_quantile_stream_matches_batch_and_bounds_error(spark, sf_dir, tmp_path):
    """Incremental quantile store == batch histogram-percentile op on the
    same rows EXACTLY (fixed-grid counts merge with zero error; bins are
    deliberately split across micro-batches), the grid-resolution error
    vs the EXACT percentile is within one bin width as documented, replay
    with the same checkpoint changes nothing, and the retention fold
    preserves the readout exactly."""
    import glob as _glob
    import shutil

    from pyspark.sql import functions as F

    from komodo_data_spark.operators.timeseries import (
        VHIST_QS,
        VHIST_W,
        events_value_percentiles_hist,
        percentiles_from_partials,
    )
    from komodo_data_spark.sources.tables import load_events
    from komodo_data_spark.streaming import quantiles_incremental as Q

    ev = load_events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    src = tmp_path / "qtile_arrivals"
    src.mkdir()
    for i in range(2):  # every event_type lands in BOTH epochs -> merging
        sl = ev.filter(F.col("event_id") % 2 == i)
        sl.coalesce(1).write.parquet(str(src / f"stage_{i}"))
        part = _glob.glob(str(src / f"stage_{i}" / "part-*.parquet"))[0]
        shutil.move(part, str(src / f"file_{i}.parquet"))
        shutil.rmtree(src / f"stage_{i}")

    store = str(tmp_path / "qtile_store")
    ck = str(tmp_path / "ckpt_qtile")
    Q.start_value_quantile_stream(spark, str(src), store, ck).awaitTermination()

    def by_type(df):
        return {r["event_type"]: r for r in df.collect()}

    got = by_type(Q.percentiles_from_store(spark, store))
    exp = by_type(events_value_percentiles_hist(spark, sf_dir))
    assert set(got) == set(exp) and got
    for et, er in exp.items():
        gr = got[et]
        assert gr["n_values"] == er["n_values"], et
        for c in VHIST_QS:
            assert gr[c] == er[c], (et, c)  # EXACT: counts merge losslessly

    # grid-resolution bound: every estimate within one bin width of the
    # exact k-th ORDER STATISTIC (the inverse-CDF quantile — the
    # interpolated percentile has no histogram bound in sparse tails;
    # see the VHIST grid note)
    vals_by_type: dict[str, list] = {}
    for r in load_events(spark, sf_dir).select("event_type", "value").collect():
        if r["value"] is not None:
            vals_by_type.setdefault(r["event_type"], []).append(r["value"])
    for et, gr in got.items():
        vs = sorted(vals_by_type[et])
        for c, (num, den) in VHIST_QS.items():
            k_lo = ((len(vs) - 1) * num) // den
            assert abs(gr[c] - vs[k_lo]) <= VHIST_W, (et, c, gr[c], vs[k_lo])

    partials = spark.read.parquet(store)
    assert partials.select("epoch_id").distinct().count() == 2
    # bins genuinely split across epochs (the merge path is exercised)
    assert (
        partials.groupBy("event_type", "b").count()
        .filter(F.col("count") > 1).count() > 0
    )

    # replay with the same checkpoint: store unchanged
    n_rows = partials.count()
    Q.start_value_quantile_stream(spark, str(src), store, ck).awaitTermination()
    assert spark.read.parquet(store).count() == n_rows

    # retention fold to one row per (type, bin): readout identical
    folded = by_type(percentiles_from_partials(Q.compact_store(spark, store)))
    assert set(folded) == set(got)
    for et, gr in got.items():
        for c in VHIST_QS:
            assert folded[et][c] == gr[c]


def test_quantile_stream_flags_domain_drift(spark, tmp_path):
    """Value-domain drift: values walking past VHIST_TOP (and below
    VHIST_LO) land in explicit overflow/underflow bins instead of
    silently clamping into the edge bins (round-7 advice). A percentile
    whose rank lands there raises its ``*_clamped`` flag and is estimated
    inside the exact observed range (the merged min/max), while every
    in-grid percentile keeps the one-bin-width bound — on the SAME
    readout, with the drifted bins split across micro-batches."""
    import glob as _glob
    import shutil

    from pyspark.sql import functions as F

    from komodo_data_spark.operators.timeseries import (
        VHIST_LO,
        VHIST_TOP,
        VHIST_W,
        percentiles_from_partials,
        value_hist_partials,
    )
    from komodo_data_spark.streaming import quantiles_incremental as Q

    # 'drift': 196 in-grid values 0..195 plus 4 overflow values -> with
    # n=200, p99's rank klo=197 lands in the overflow bin while p50/p90
    # stay in-grid. 'udrift': 120 negative values + 80 in-grid -> p50's
    # rank 99 lands in the underflow bin, p90/p99 stay in-grid.
    ev = spark.range(400).select(
        F.col("id").alias("event_id"),
        (F.lit(1_700_000_000_000_000_000) + F.col("id") * F.lit(10**9)).alias(
            "ts"
        ),
        (F.col("id") % 7).alias("user_id"),
        F.when(F.col("id") < 200, F.lit("drift"))
        .otherwise(F.lit("udrift"))
        .alias("event_type"),
        F.when(F.col("id") < 196, F.col("id").cast("double"))
        .when(F.col("id") < 200, F.lit(900.0) + (F.col("id") - 196) * 100.0)
        .otherwise((F.col("id") - 320).cast("double"))
        .alias("value"),
        F.lit(None).cast("string").alias("props"),
    )
    src = tmp_path / "drift_arrivals"
    src.mkdir()
    for i in range(2):  # drifted bins land in BOTH epochs -> merge path
        sl = ev.filter(F.col("event_id") % 2 == i)
        sl.coalesce(1).write.parquet(str(src / f"stage_{i}"))
        part = _glob.glob(str(src / f"stage_{i}" / "part-*.parquet"))[0]
        shutil.move(part, str(src / f"file_{i}.parquet"))
        shutil.rmtree(src / f"stage_{i}")

    store = str(tmp_path / "drift_store")
    Q.start_value_quantile_stream(
        spark, str(src), store, str(tmp_path / "ckpt_drift")
    ).awaitTermination()
    got = {r["event_type"]: r for r in Q.percentiles_from_store(spark, store).collect()}

    # drift: p99 flagged, estimated inside [VHIST_TOP, observed max]
    d = got["drift"]
    assert d["p99_clamped"] is True
    assert VHIST_TOP <= d["p99"] <= 1200.0
    # in-grid percentiles keep the one-bin-width bound vs the exact
    # order statistic (values 0..195: v[99]=99, v[179]=179)
    assert abs(d["p50"] - 99.0) <= VHIST_W and d["p50_clamped"] is False
    assert abs(d["p90"] - 179.0) <= VHIST_W and d["p90_clamped"] is False

    # udrift: sorted = -120..-1, 0..79 -> v[99]=-21 (underflow), v[179]=59
    u = got["udrift"]
    assert u["p50_clamped"] is True
    assert -120.0 <= u["p50"] < VHIST_LO
    assert abs(u["p90"] - 59.0) <= VHIST_W and u["p90_clamped"] is False
    assert abs(u["p99"] - 77.0) <= VHIST_W and u["p99_clamped"] is False

    # stream == batch kernel on the same rows, drift included
    exp = {
        r["event_type"]: r
        for r in percentiles_from_partials(value_hist_partials(ev)).collect()
    }
    for et, gr in got.items():
        for c in gr.asDict():
            assert gr[c] == exp[et][c], (et, c)


def test_k_anonymity_gate_crash_between_writes_replays_identically(
    spark, tmp_path
):
    """The atomic-promotion replay claim, crash-fuzzed: kill the batch
    AFTER the class-count store write but BEFORE the released write (the
    window where a naive implementation would double-promote on replay,
    because the store already contains the crashed epoch). The replay
    must reproduce the identical released partition — the promotion set
    reads only strict-prior state (held epochs < E; crossing test folds
    the store through E-1), so the half-written epoch can't poison it."""
    from pyspark.sql import DataFrame

    from komodo_data_spark.streaming import k_anonymity_gate as G

    def cust_df(rows):
        return spark.createDataFrame(
            [(i, f"C#{i}", nk, bal, seg) for i, nk, seg, bal in rows],
            "c_custkey long, c_name string, c_nationkey int, "
            "c_acctbal double, c_mktsegment string",
        )

    A = (1, "AUTO", 1500.0)
    store = str(tmp_path / "kz_store")
    rel = str(tmp_path / "kz_released")
    held = str(tmp_path / "kz_held")

    # epoch 0: two A-members park in held (k=3 not reached)
    G.k_anonymity_gate_batch(
        cust_df([(1, *A), (2, *A)]), 0, store, rel, held, k=3
    )
    assert spark.read.parquet(held).count() == 2

    # epoch 1 (first attempt): crash right after the epoch's class counts
    # land in the store — released/held for epoch 1 never written
    batch1 = cust_df([(3, *A)])

    class _Boom(RuntimeError):
        pass

    real_batch = G.k_anonymity_gate_batch

    def crashing_batch(batch_df: DataFrame, epoch_id, *a, **kw):
        # run the real function but blow up inside by sabotaging the
        # released write: monkeypatch DataFrame writes is invasive, so
        # instead re-implement the crash point — write the store
        # partition exactly as the real code does, then die.
        from pyspark.sql import functions as F

        qi = G.qi_classes(batch_df)
        (
            qi.groupBy(*G.QI_COLS)
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("epoch_id", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch_id")
            .parquet(a[0])
        )
        raise _Boom("injected crash after store write")

    import pytest as _pytest

    with _pytest.raises(_Boom):
        crashing_batch(batch1, 1, store, rel, held)
    # the crash window state: store HAS epoch 1, released epoch 1 does not
    assert (
        spark.read.parquet(store)
        .filter("epoch_id = 1").count() == 1
    )
    import os as _os
    assert not _os.path.exists(_os.path.join(rel, "epoch_id=1"))

    # replay epoch 1 through the REAL batch fn: must release row 3 AND
    # promote rows 1, 2 exactly once, despite the store already holding
    # epoch 1 from the crashed attempt
    real_batch(batch1, 1, store, rel, held, k=3)
    released = {
        (r["c_custkey"], r["epoch_id"], r["origin_epoch"])
        for r in spark.read.parquet(rel).collect()
    }
    assert released == {(3, 1, 1), (1, 1, 0), (2, 1, 0)}

    # and a SECOND full replay of the same epoch changes nothing
    real_batch(batch1, 1, store, rel, held, k=3)
    released2 = {
        (r["c_custkey"], r["epoch_id"], r["origin_epoch"])
        for r in spark.read.parquet(rel).collect()
    }
    assert released2 == released


def test_incremental_ewma_matches_batch_monitor(spark, sf_dir, tmp_path):
    """Stream the events table through the hourly counter store: the EWMA
    read from the store is BIT-equal to the batch events_ewma_hourly over
    the same events (shared count kernel + shared dyadic math); replay
    adds nothing; compaction folds epochs to the O(1) base without
    changing any smoothed value."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from komodo_data_spark.operators.timeseries import events_ewma_hourly
    from komodo_data_spark.sources.tables import load_events
    from komodo_data_spark.streaming.ewma_incremental import (
        compact_ewma_store,
        read_ewma,
        start_incremental_ewma,
    )

    ev_dir = str(tmp_path / "ewma_arrivals")
    os.makedirs(ev_dir)
    ev = load_events(spark, sf_dir)
    for i in range(3):
        spark.read.parquet(os.path.join(sf_dir, "events.parquet")).filter(
            F.col("event_id") % 3 == i
        ).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"evstage{i}")
        )
        (src_file,) = glob.glob(str(tmp_path / f"evstage{i}" / "*.parquet"))
        shutil.move(src_file, os.path.join(ev_dir, f"arrival{i}.parquet"))

    store = str(tmp_path / "ewma_store")
    ck = str(tmp_path / "ckpt_ewma")
    start_incremental_ewma(spark, ev_dir, store, ck).awaitTermination()

    def as_map(df):
        return {
            (r["event_type"], r["day_ms"], r["hour"]): (
                r["n_events"],
                r["ewma"],
            )
            for r in df.collect()
        }

    batch = as_map(events_ewma_hourly(spark, sf_dir))
    inc = as_map(read_ewma(spark, store))
    assert batch == inc  # bit-exact: dyadic alpha, shared kernels

    # replay: same checkpoint, nothing re-counted
    start_incremental_ewma(spark, ev_dir, store, ck).awaitTermination()
    assert as_map(read_ewma(spark, store)) == inc

    # compaction: epochs fold to the base, values unchanged
    folded = compact_ewma_store(spark, store)
    assert folded == 3
    assert as_map(read_ewma(spark, store)) == inc

    # empty store path: read yields an empty frame with the full schema
    empty = read_ewma(spark, str(tmp_path / "ewma_store_never"))
    assert empty.columns == [
        "event_type",
        "day_ms",
        "hour",
        "n_events",
        "ewma",
    ]
    assert empty.count() == 0


def test_incremental_kn3_matches_batch_scorer(spark, sf_dir, tmp_path):
    """Stream the documents table through the trigram-KN counter store:
    scoring the same corpus from the folded store equals the batch
    text_kneser_ney3_logprob (identical integer model frames via the
    shared count kernel; per-doc avg(ln p) pinned at 1e-12 relative —
    float-sum order is the only freedom). Replay adds nothing; compaction
    folds epochs without changing any score; an empty store scores an
    empty frame with the full schema."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from komodo_data_spark.operators.text_analysis import (
        text_kneser_ney3_logprob,
    )
    from komodo_data_spark.streaming.kn3_incremental import (
        compact_kn3_store,
        read_kn3_scores,
        start_incremental_kn3,
    )

    docs_dir = str(tmp_path / "kn3_arrivals")
    os.makedirs(docs_dir)
    for i in range(3):
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).filter(
            F.col("doc_id") % 3 == i
        ).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"docstage{i}")
        )
        (src_file,) = glob.glob(str(tmp_path / f"docstage{i}" / "*.parquet"))
        shutil.move(src_file, os.path.join(docs_dir, f"arrival{i}.parquet"))

    store = str(tmp_path / "kn3_store")
    ck = str(tmp_path / "ckpt_kn3")
    start_incremental_kn3(spark, docs_dir, store, ck).awaitTermination()

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))

    def as_map(df):
        return {
            r["doc_id"]: (r["n_trigrams"], r["avg_logprob_kn3"])
            for r in df.collect()
        }

    batch = as_map(
        text_kneser_ney3_logprob(spark, sf_dir).select(
            "doc_id", "n_trigrams", "avg_logprob_kn3"
        )
    )
    inc = as_map(read_kn3_scores(spark, store, docs))
    assert set(batch) == set(inc)
    for k in batch:
        assert batch[k][0] == inc[k][0]
        assert inc[k][1] == pytest.approx(batch[k][1], rel=1e-12)

    # replay: same checkpoint, nothing re-counted
    start_incremental_kn3(spark, docs_dir, store, ck).awaitTermination()
    inc2 = as_map(read_kn3_scores(spark, store, docs))
    assert set(inc2) == set(inc)
    for k in inc:
        assert inc2[k][1] == pytest.approx(inc[k][1], rel=1e-12)

    # compaction: epochs fold to the O(1) base, scores unchanged
    folded = compact_kn3_store(spark, store)
    assert folded == 3
    inc3 = as_map(read_kn3_scores(spark, store, docs))
    assert set(inc3) == set(inc)
    for k in inc:
        assert inc3[k][1] == pytest.approx(inc[k][1], rel=1e-12)

    # empty store path: empty scored frame, full schema
    empty = read_kn3_scores(
        spark, str(tmp_path / "kn3_never_written"), docs
    )
    assert empty.columns == ["doc_id", "n_trigrams", "avg_logprob_kn3"]
    assert empty.count() == 0


def test_incremental_simhash_matches_batch_capped(spark, sf_dir, tmp_path):
    """Streaming incremental capped-SimHash detection: payloads arrive
    file by file; the union of verified pairs across batches equals the
    batch capped detector over the full corpus (no segment bucket
    crosses the cap mid-stream on this corpus, so the probe-time cap
    decisions match the batch's global ones)."""
    from pyspark.sql import functions as F

    from komodo_data_spark.operators.multimodal_ops import (
        media_simhash_pairs_capped,
    )
    from komodo_data_spark.sources.tables import load_table
    from komodo_data_spark.streaming.simhash_incremental import (
        pairs_from_store,
        start_incremental_simhash,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = tmp_path / "docs_arrivals"
    src.mkdir()
    for i in range(3):
        docs.filter(
            F.coalesce(F.pmod("doc_id", F.lit(3)), F.lit(0)) == i
        ).coalesce(1).write.parquet(str(src / f"arrival_{i}.parquet_dir"))
    import glob as _glob
    import shutil

    for i, part in enumerate(
        sorted(_glob.glob(str(src / "*" / "part-*.parquet")))
    ):
        shutil.copy(part, str(src / f"file_{i}.parquet"))
    for d in _glob.glob(str(src / "*.parquet_dir")):
        shutil.rmtree(d)

    store = str(tmp_path / "seg_store")
    pairs = str(tmp_path / "sim_pairs")
    ck = str(tmp_path / "ckpt_inc_simhash")
    q = start_incremental_simhash(spark, str(src), store, pairs, ck)
    q.awaitTermination()

    got = {
        (r["doc_i"], r["doc_j"], r["hamming"])
        for r in pairs_from_store(spark, pairs).collect()
    }
    exp = {
        (r["doc_i"], r["doc_j"], r["hamming"])
        for r in media_simhash_pairs_capped(spark, sf_dir).collect()
    }
    assert got == exp
    assert got  # non-vacuous: the corpus has planted near-dup payloads


def test_incremental_simhash_hot_bucket_is_monotone(spark, tmp_path):
    """A bucket that crosses the cap mid-stream stops producing NEW
    pairs but keeps the pairs it emitted while cold — detections are
    never retracted by a template later going viral (whereas the batch
    capped detector over the final corpus returns nothing: its global
    occupancy is over the cap)."""
    from komodo_data_spark.operators.multimodal_ops import _media_gram_toks
    from komodo_data_spark.operators.dedup import _simhash_signatures
    from komodo_data_spark.streaming.simhash_incremental import (
        detect_batch,
        pairs_from_store,
    )
    from pyspark.sql import functions as F

    text = "the same viral template payload body repeated " * 4
    store = str(tmp_path / "seg_store")
    pairs = str(tmp_path / "sim_pairs")

    def batch(ids):
        return spark.createDataFrame(
            [(i, text) for i in ids], "doc_id long, text string"
        )

    # epoch 0: two copies — occupancy 2 <= cap, pair emitted
    detect_batch(spark, batch([1, 2]), 0, store, pairs, key_cap=4)
    # epoch 1: the template goes viral — occupancy 2 + 10 > cap, skipped
    detect_batch(spark, batch(range(100, 110)), 1, store, pairs, key_cap=4)
    got = {
        (r["doc_i"], r["doc_j"], r["hamming"])
        for r in pairs_from_store(spark, pairs).collect()
    }
    assert got == {(1, 2, 0)}
    # and the batch capped detector over the SAME final corpus is empty
    from komodo_data_spark.operators.dedup import (
        simhash_pigeonhole_pairs_capped,
    )
    from komodo_data_spark.operators.multimodal_ops import (
        MEDIA_HAMMING_MAX,
        MEDIA_SIMHASH_BITS,
    )

    all_docs = batch([1, 2] + list(range(100, 110))).withColumn(
        "toks", _media_gram_toks()
    )
    assert (
        simhash_pigeonhole_pairs_capped(
            _simhash_signatures(all_docs),
            bits=MEDIA_SIMHASH_BITS,
            hmax=MEDIA_HAMMING_MAX,
            key_cap=4,
        ).count()
        == 0
    )


def test_incremental_simhash_compaction_preserves_occupancy(
    spark, tmp_path
):
    """The DISTINCT fold preserves per-key occupancy exactly (each doc
    contributes each seg_id once), so cap decisions after compaction
    match before — and the highest epoch (the only one that can belong
    to an uncommitted batch) is kept OUT of the fold, so its replay
    cannot leave rows in both base and epoch partitions."""
    import os

    from komodo_data_spark.streaming.simhash_incremental import (
        compact_seg_store,
        detect_batch,
    )

    store = str(tmp_path / "seg_store")
    pairs = str(tmp_path / "sim_pairs")

    def batch(lo, hi):
        return spark.createDataFrame(
            [
                (i, f"payload body {i} with distinct words {i*7}")
                for i in range(lo, hi)
            ],
            "doc_id long, text string",
        )

    detect_batch(spark, batch(0, 8), 0, store, pairs, key_cap=64)
    detect_batch(spark, batch(8, 12), 1, store, pairs, key_cap=64)
    before = sorted(
        map(
            tuple,
            spark.read.parquet(store)
            .groupBy("seg_id", "seg_val")
            .count()
            .collect(),
        )
    )
    folded = compact_seg_store(spark, store)
    # only epoch 0 folds; epoch 1 (max — possibly uncommitted) is kept
    assert folded == 1
    assert not os.path.isdir(os.path.join(store, "epoch_id=0"))
    assert os.path.isdir(os.path.join(store, "epoch_id=1"))
    after = sorted(
        map(
            tuple,
            spark.read.parquet(store)
            .groupBy("seg_id", "seg_val")
            .count()
            .collect(),
        )
    )
    assert before == after


def test_incremental_simhash_replay_does_not_double_count(spark, tmp_path):
    """At-least-once replay: after a store write whose checkpoint commit
    failed, the epoch replays. The replayed batch must NOT see its own
    stored segment rows as history — that would double its keys'
    occupancy (flipping true occupancy in (cap/2, cap] over the cap) and
    dynamically overwrite the epoch's pairs partition with the
    post-flip (empty) set, silently losing verified pairs."""
    from komodo_data_spark.streaming.simhash_incremental import (
        detect_batch,
        pairs_from_store,
    )

    text = "the same near dup template payload body repeated " * 4
    store = str(tmp_path / "seg_store")
    pairs = str(tmp_path / "sim_pairs")
    batch = spark.createDataFrame(
        [(i, text) for i in (1, 2, 3)], "doc_id long, text string"
    )
    expected = {(1, 2, 0), (1, 3, 0), (2, 3, 0)}

    # first attempt: occupancy 3 <= cap 4, all three pairs emitted
    detect_batch(spark, batch, 0, store, pairs, key_cap=4)
    got1 = {
        (r["doc_i"], r["doc_j"], r["hamming"])
        for r in pairs_from_store(spark, pairs).collect()
    }
    assert got1 == expected
    # replay of the SAME epoch (checkpoint commit lost): occupancy must
    # still read 3 (batch only), not 3 + 3 (batch + its stored copy)
    detect_batch(spark, batch, 0, store, pairs, key_cap=4)
    got2 = {
        (r["doc_i"], r["doc_j"], r["hamming"])
        for r in pairs_from_store(spark, pairs).collect()
    }
    assert got2 == expected
    # and a genuinely LATER epoch does see epoch 0 as history: 3 store
    # + 1 batch = 4 <= cap, so the new doc pairs with all three
    late = spark.createDataFrame([(9, text)], "doc_id long, text string")
    detect_batch(spark, late, 1, store, pairs, key_cap=4)
    got3 = {
        (r["doc_i"], r["doc_j"], r["hamming"])
        for r in pairs_from_store(spark, pairs).collect()
    }
    assert got3 == expected | {(1, 9, 0), (2, 9, 0), (3, 9, 0)}
