"""Capture-file ingestion, control-table semantics, dispatcher, streaming."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from komodo_data_spark.schemas import CAPTURE_FILE_SCHEMA, CAPTURES_SCHEMA, DATA_REQUESTS_SCHEMA
from komodo_data_spark.sources import capture, control
from komodo_data_spark.streaming import dispatch
from komodo_data_spark.streaming.ingest import start_capture_stream
from tests.synth import make_captures, make_rows


@pytest.fixture(scope="module")
def captures_dir(tmp_path_factory, data_pdf):
    """Write fixture rows as capture files at {dir}/{session}/{capture}/data."""
    root = tmp_path_factory.mktemp("captures")
    for cid, grp in data_pdf.groupby("capture_id"):
        session, cap = cid.split("_")
        d = root / session / cap
        d.mkdir(parents=True)
        recs = grp.drop(columns=[]).to_dict("records")
        (d / "data").write_text(json.dumps(recs))
    return str(root)


def test_capture_path():
    assert capture.capture_path("/c", "126_1630443513898") == "/c/126/1630443513898/data"


def test_ingest_ready_captures(spark, tmp_path, captures_dir, data_pdf):
    caps = spark.createDataFrame(
        pd.DataFrame(make_captures()), schema=CAPTURES_SCHEMA
    )
    data_path = str(tmp_path / "data_table")
    results = capture.ingest_ready_captures(spark, caps, captures_dir, data_path)
    # two real captures succeed; the in-flight one (end IS NULL) is skipped
    assert sorted(cid for cid, ok, _ in results if ok) == sorted(
        data_pdf["capture_id"].unique()
    )
    assert all(stamp > 0 for _, ok, stamp in results if ok)

    loaded = spark.read.parquet(data_path)
    assert loaded.count() == len(data_pdf)
    # partitioned by session_id → the ubiquitous session filter prunes
    assert any("session_id=" in p for p in os.listdir(data_path))
    # capture_id survives as string with the underscore intact
    assert loaded.filter(F.col("capture_id") == "126_1630443513898").count() > 0


def test_missing_file_fails_gracefully(spark, tmp_path):
    ok = capture.process_file(
        spark, "1_2", str(tmp_path / "nope" / "data"), str(tmp_path / "out")
    )
    assert ok is False


def test_control_latest_wins(spark, tmp_path):
    path = str(tmp_path / "captures_ctl")
    caps = spark.createDataFrame(
        pd.DataFrame(make_captures(include_inflight=False)), schema=CAPTURES_SCHEMA
    )
    control.init_table(caps, path)
    control.mark_processed(
        spark, path, [("126_1630443513898", True, 1700000123)]
    )
    cur = control.current_view(spark, path, "capture_id")
    row = {r["capture_id"]: r["processed"] for r in cur.collect()}
    assert row["126_1630443513898"] == 1700000123
    assert row["127_1630450000000"] is None
    # a later failure overwrites: latest wins
    control.mark_processed(spark, path, [("126_1630443513898", False, 0)])
    cur = control.current_view(spark, path, "capture_id")
    row = {r["capture_id"]: r["processed"] for r in cur.collect()}
    assert row["126_1630443513898"] == 0


REQUESTS = [
    # valid interaction request
    (1, "aggregate_interaction_type", 0,
     '{"sessionId": 126, "clientId": 5, "interactionType": 1, "entityType": 0}'),
    # valid user request
    (2, "aggregate_user", 0,
     '{"sessionId": 126, "clientId": 5, "interactionType": 1, "entityType": 0}'),
    # JSON null sessionId → MySQL '->' yields text 'null' → rejected
    (3, "aggregate_interaction_type", 0,
     '{"sessionId": null, "clientId": 888, "interactionType": 1, "entityType": 0}'),
    # unknown function → ignored
    (4, "not_a_function", 0, '{"sessionId": 126}'),
    # already fulfilled → not selected
    (5, "aggregate_user", 1, '{"sessionId": 126, "clientId": 5}'),
    # valid energy request
    (6, "user_energy", 0,
     '{"sessionId": 126, "clientId": 5, "interactionType": 1, "entityType": 0}'),
]


def test_export_csv_reference_byte_parity(spark, tmp_path):
    """Golden-bytes pin of the CSV sink against the reference's pandas
    ``to_csv`` output (process.py:100-107). The literal below is exactly
    what pandas 1.1.4 (the reference's pinned version, Dockerfile stack)
    produces on Linux for these values — its formatting contract is
    unchanged in current pandas: floats via ``str()`` shortest-repr
    (``0.536178417303133`` stays 15 digits, ``1e-07`` stays scientific),
    NaN/None → empty field, QUOTE_MINIMAL with doubled inner quotes for
    JSON strings, ``\\n`` terminator, trailing newline. A change to the
    export path (e.g. Spark's native csv writer, a float_format option)
    that silently altered any of these would break drop-in parity for
    consumers of the reference's files."""
    from komodo_data_spark.streaming.dispatch import export_csv

    df = spark.createDataFrame(
        [
            (1, 0.536178417303133, '{"a": 1, "b": "x"}'),  # golden energy value
            (2, 1e-07, "null"),  # scientific repr + the literal "null" text
            (3, None, None),  # NULL double and NULL string
            (4, 16797.0, "plain"),  # integral float keeps the ".0"
        ],
        "request_id long, value double, message string",
    )
    path = export_csv(df, str(tmp_path), "golden", filename="golden.csv")
    golden = (
        b"request_id,value,message\n"
        b'1,0.536178417303133,"{""a"": 1, ""b"": ""x""}"\n'
        b"2,1e-07,null\n"
        b"3,,\n"
        b"4,16797.0,plain\n"
    )
    with open(path, "rb") as fh:
        assert fh.read() == golden


def test_dispatcher(spark, data_df, tmp_path):
    reqs = spark.createDataFrame(
        [
            dict(
                request_id=rid,
                processed_capture_id="126_1630443513898",
                who_requested=2,
                aggregation_function=fn,
                is_it_fulfilled=ful,
                url=None,
                message=msg,
                file_location=None,
            )
            for rid, fn, ful, msg in REQUESTS
        ],
        schema=DATA_REQUESTS_SCHEMA,
    )
    out = str(tmp_path / "exports")
    fulfilled = []
    done = dispatch.aggregation_file_download(
        spark, reqs, data_df, out, on_fulfilled=lambda rid, p: fulfilled.append(rid)
    )
    assert [rid for rid, _, _ in done] == [1, 2, 6]
    assert fulfilled == [1, 2, 6]
    for _, _, path in done:
        assert os.path.isfile(path)
        assert len(pd.read_csv(path)) > 0


def test_streaming_ingest(spark, tmp_path, captures_dir, data_pdf):
    """AvailableNow drain of the capture directory == batch ingest result."""
    data_path = str(tmp_path / "stream_data")
    q = start_capture_stream(
        spark,
        os.path.join(captures_dir, "*", "*", "data"),
        data_path,
        str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)
    loaded = spark.read.parquet(data_path)
    assert loaded.count() == len(data_pdf)


def test_compaction_preserves_data(spark, tmp_path, captures_dir, data_pdf):
    """Many small appended files -> few compacted files, identical rows."""
    import glob

    from komodo_data_spark.sources import capture, compaction

    data_path = str(tmp_path / "data_compact")
    # simulate micro-batch appends: ingest the same capture dir repeatedly
    caps = spark.createDataFrame(
        [("126_1630443513898", 126, 1, 2, None)],
        "capture_id string, session_id int, start long, end long, processed long",
    )
    for _ in range(4):
        capture.ingest_ready_captures(spark, caps, str(captures_dir), data_path)
    before_files = len(glob.glob(f"{data_path}/**/*.parquet", recursive=True))
    before = spark.read.parquet(data_path)
    before_count = before.count()
    before_sum = before.groupBy().sum("seq").collect()[0][0]

    n_out = compaction.compact_data_table(spark, data_path)
    after = spark.read.parquet(data_path)
    assert after.count() == before_count
    assert after.groupBy().sum("seq").collect()[0][0] == before_sum
    assert n_out <= before_files
    assert n_out >= 1


def test_merge_snapshot_upserts(spark, tmp_path):
    """MERGE = replace matched keys + insert new ones, atomically published;
    the pre-merge table survives as a backup."""
    from komodo_data_spark.sources.merge import merge_snapshot

    path = str(tmp_path / "docs_snapshot")
    spark.createDataFrame(
        [(1, "one v1"), (2, "two v1"), (3, "three v1")], "doc_id long, body string"
    ).write.parquet(path)

    updates = spark.createDataFrame(
        [(2, "two v2"), (9, "nine v1")], "doc_id long, body string"
    )
    audit = merge_snapshot(spark, path, updates, "doc_id")
    assert audit == {
        "target_rows_before": 3,
        "updates": 2,
        "replaced": 1,
        "inserted": 1,
        "rows_after": 4,
    }
    got = {
        (r.doc_id, r.body) for r in spark.read.parquet(path).collect()
    }
    assert got == {(1, "one v1"), (2, "two v2"), (3, "three v1"), (9, "nine v1")}
    # backup of the pre-merge snapshot remains for rollback
    from komodo_data_spark.sources.publish import rollback_path

    assert spark.read.parquet(rollback_path(path)).count() == 3


def test_corrupt_capture_fails_gracefully(spark, tmp_path):
    """Malformed JSON must not crash the ingest loop — the reference's
    per-capture failure isolation (try/except -> False, next capture
    proceeds)."""
    bad_dir = tmp_path / "999" / "111"
    bad_dir.mkdir(parents=True)
    bad = bad_dir / "data"
    bad.write_bytes(b"\x00\xffnot json at all {{{")
    ok = capture.process_file(
        spark, "999_111", str(bad), str(tmp_path / "out_corrupt")
    )
    assert ok is False
    # a half-valid JSONL file (one good record, one garbage line) must not
    # silently ingest partial data as success either
    half = bad_dir / "data2"
    half.write_text('{"capture_id": "999_111", "seq": 1}\n}}garbage{{\n')
    ok2 = capture.process_file(
        spark, "999_111", str(half), str(tmp_path / "out_half")
    )
    assert isinstance(ok2, bool)


def test_streaming_ingest_survives_corrupt_file(spark, tmp_path):
    """One malformed capture file must not kill the stream: good records
    land, corrupt ones are dropped (dead-letter filter), the query drains."""
    from komodo_data_spark.streaming.ingest import start_capture_stream

    src_dir = tmp_path / "caps" / "126" / "111"
    src_dir.mkdir(parents=True)
    good = '{"capture_id": "126_111", "session_id": 126, "client_id": 1, "type": "sync", "ts": 1, "seq": 1, "message": "{}"}'
    (src_dir / "data").write_text(good + "\n" + good.replace('"seq": 1', '"seq": 2') + "\n")
    bad_dir = tmp_path / "caps" / "126" / "222"
    bad_dir.mkdir(parents=True)
    (bad_dir / "data").write_bytes(b"\x00\xff{{{not json")

    out = str(tmp_path / "data_out")
    q = start_capture_stream(
        spark,
        str(tmp_path / "caps" / "*" / "*" / "data"),
        out,
        str(tmp_path / "ckpt_corrupt"),
        available_now=True,
    )
    q.awaitTermination()
    loaded = spark.read.parquet(out)
    assert loaded.count() == 2
    assert loaded.filter("capture_id = '126_111'").count() == 2


def test_reference_e2e_lifecycle(spark, tmp_path, captures_dir, data_pdf):
    """The reference's full main-loop lifecycle (process.py:450-473) in one
    pass: seed `captures` -> streaming ingest of ready capture files ->
    mark processed (epoch stamp) -> seed `data_requests` -> streaming
    dispatch -> CSV exports on disk -> request fulfillment recorded in the
    control table. Asserts every lifecycle behavior end-to-end: only ready
    captures ingest, processed stamps land, valid requests export non-empty
    CSVs, the JSON-null request is rejected untouched, and re-running with
    the same checkpoints is a no-op (the streaming analogue of the
    `processed`/`is_it_fulfilled` flags)."""
    import json as _json

    from komodo_data_spark.schemas import CAPTURES_SCHEMA, DATA_REQUESTS_SCHEMA
    from komodo_data_spark.streaming.dispatch import start_request_stream

    # -- 1. seed the captures control table (one in-flight: end IS NULL) --
    caps_path = str(tmp_path / "captures_ctl")
    caps = spark.createDataFrame(
        pd.DataFrame(make_captures()), schema=CAPTURES_SCHEMA
    )
    control.init_table(caps, caps_path)

    # -- 2. streaming ingest drains the capture directory --
    data_path = str(tmp_path / "data_tbl")
    q = start_capture_stream(
        spark,
        os.path.join(captures_dir, "*", "*", "data"),
        data_path,
        str(tmp_path / "ckpt_ingest"),
        available_now=True,
    )
    q.awaitTermination(120)
    data = spark.read.parquet(data_path)
    assert data.count() == len(data_pdf)
    ingested = {r["capture_id"] for r in data.select("capture_id").distinct().collect()}
    # the in-flight capture (999_...) has no file on disk and never ingests
    assert ingested == set(data_pdf["capture_id"].unique())

    # -- 3. mark ingested captures processed (epoch stamp; process.py:255) --
    control.mark_processed(
        spark, caps_path, [(cid, True, 1_700_000_000) for cid in sorted(ingested)]
    )
    cur = {
        r["capture_id"]: r["processed"]
        for r in control.current_view(spark, caps_path, "capture_id").collect()
    }
    assert all(cur[cid] == 1_700_000_000 for cid in ingested)
    assert cur["999_1700000000000"] is None  # in-flight stays unprocessed

    # -- 4. seed the data_requests queue (control table + request files) --
    reqs_path = str(tmp_path / "requests_ctl")
    req_rows = [
        dict(
            request_id=rid, processed_capture_id="126_1630443513898",
            who_requested=2, aggregation_function=fn, is_it_fulfilled=ful,
            url=None, message=msg, file_location=None,
        )
        for rid, fn, ful, msg in REQUESTS
    ]
    control.init_table(
        spark.createDataFrame(req_rows, schema=DATA_REQUESTS_SCHEMA), reqs_path
    )
    req_dir = tmp_path / "req_files"
    req_dir.mkdir()
    (req_dir / "reqs.json").write_text(
        "\n".join(_json.dumps(r) for r in req_rows) + "\n"
    )

    # -- 5. streaming dispatch over the ingested data table --
    out_dir = str(tmp_path / "exports")
    q2 = start_request_stream(
        spark,
        str(req_dir / "*.json"),
        data,
        out_dir,
        str(tmp_path / "ckpt_dispatch"),
        on_fulfilled=lambda rid, path: control.update_data_request(
            spark, reqs_path, rid, 1, path
        ),
    )
    q2.awaitTermination()

    # -- 6. CSVs on disk, fulfillment recorded, invalid request untouched --
    fulfilled = {
        r["request_id"]: (r["is_it_fulfilled"], r["file_location"])
        for r in control.current_view(spark, reqs_path, "request_id").collect()
    }
    for rid in (1, 2, 6):  # the three valid requests
        flag, path = fulfilled[rid]
        assert flag == 1
        assert path is not None and os.path.isfile(path)
        assert len(pd.read_csv(path)) > 0
    assert fulfilled[3] == (0, None)  # JSON-null sessionId -> rejected
    assert fulfilled[4] == (0, None)  # unknown function -> ignored
    assert fulfilled[5][0] == 1       # pre-fulfilled -> never re-dispatched
    assert fulfilled[5][1] is None    # ...so no export path was recorded

    # -- 7. the loop is restart-safe: same checkpoints re-dispatch nothing --
    seen: list[int] = []
    q3 = start_capture_stream(
        spark, os.path.join(captures_dir, "*", "*", "data"), data_path,
        str(tmp_path / "ckpt_ingest"), available_now=True,
    )
    q3.awaitTermination(120)
    assert spark.read.parquet(data_path).count() == len(data_pdf)
    q4 = start_request_stream(
        spark, str(req_dir / "*.json"), data, out_dir,
        str(tmp_path / "ckpt_dispatch"),
        on_fulfilled=lambda rid, path: seen.append(rid),
    )
    q4.awaitTermination()
    assert seen == []


def test_streaming_request_dispatch(spark, data_df, tmp_path):
    """Requests arriving as files are served exactly once through the batch
    dispatcher inside foreachBatch; outputs match the batch dispatcher's."""
    import json as _json

    from komodo_data_spark.streaming.dispatch import start_request_stream

    req_dir = tmp_path / "req_queue"
    req_dir.mkdir()
    lines = []
    for rid, fn, ful, msg in REQUESTS:
        lines.append(_json.dumps(dict(
            request_id=rid, processed_capture_id="126_1630443513898",
            who_requested=2, aggregation_function=fn, is_it_fulfilled=ful,
            url=None, message=msg, file_location=None,
        )))
    (req_dir / "batch1.json").write_text("\n".join(lines) + "\n")

    out = str(tmp_path / "stream_exports")
    fulfilled = []
    q = start_request_stream(
        spark,
        str(req_dir / "*.json"),
        data_df,
        out,
        str(tmp_path / "ckpt_req"),
        on_fulfilled=lambda rid, p: fulfilled.append(rid),
    )
    q.awaitTermination()
    assert sorted(fulfilled) == [1, 2, 6]
    # re-running with the same checkpoint dispatches nothing new
    q2 = start_request_stream(
        spark, str(req_dir / "*.json"), data_df, out,
        str(tmp_path / "ckpt_req"),
        on_fulfilled=lambda rid, p: fulfilled.append(rid),
    )
    q2.awaitTermination()
    assert sorted(fulfilled) == [1, 2, 6]


def test_capturefs_datasource_matches_batch_ingest(spark, tmp_path, captures_dir, data_pdf):
    """The Python DataSource reads the capture tree as one table, equal to
    the batch-ingested rows; session_id equality prunes partitions before
    any file opens; corrupt files dead-letter (skip) instead of failing."""
    from komodo_data_spark.sources.capture_datasource import (
        CaptureDataSource,
        CaptureFsReader,
    )

    spark.dataSource.register(CaptureDataSource)
    df = spark.read.format("capturefs").option("path", captures_dir).load()
    assert df.count() == len(data_pdf)
    # full row-level equality vs the fixture frame
    got = df.orderBy("capture_id", "seq").toPandas()
    exp = data_pdf.sort_values(["capture_id", "seq"]).reset_index(drop=True)
    assert list(got["capture_id"]) == list(exp["capture_id"])
    assert list(got["seq"]) == list(exp["seq"])
    assert list(got["ts"]) == list(exp["ts"])

    # filter correctness through the scan
    s126 = df.filter(F.col("session_id") == 126).count()
    assert s126 == int((data_pdf["session_id"] == 126).sum())

    # pushFilters prunes the partition list driver-side
    from pyspark.sql.datasource import EqualTo

    r = CaptureFsReader(None, {"path": captures_dir})
    rest = list(r.pushFilters([EqualTo(("session_id",), 126)]))
    # filters are used for pruning but ALSO handed back for Spark's
    # row-level re-check (path-vs-content mismatch protection)
    assert rest == [EqualTo(("session_id",), 126)]
    parts = r.partitions()
    assert len(parts) >= 1
    assert all(p.capture_id.startswith("126_") for p in parts)
    r_all = CaptureFsReader(None, {"path": captures_dir})
    assert len(r_all.partitions()) > len(parts) or len(parts) == len(
        r_all.partitions()
    ) == 1

    # conjunction semantics: contradictory equalities intersect to EMPTY,
    # not last-writer-wins
    r_conj = CaptureFsReader(None, {"path": captures_dir})
    r_conj.pushFilters(
        [EqualTo(("session_id",), 126), EqualTo(("session_id",), 127)]
    )
    assert r_conj.partitions() == []
    # ... and an In + EqualTo conjunction narrows to the overlap
    from pyspark.sql.datasource import In

    r_in = CaptureFsReader(None, {"path": captures_dir})
    r_in.pushFilters(
        [In(("session_id",), (126, 127)), EqualTo(("session_id",), 126)]
    )
    assert all(p.capture_id.startswith("126_") for p in r_in.partitions())
    assert len(r_in.partitions()) == len(parts)

    # corrupt file -> dead-letter skip, good files still read
    bad_dir = tmp_path / "cap_ds" / "999" / "777"
    bad_dir.mkdir(parents=True)
    (bad_dir / "data").write_bytes(b"\x00\xff{{{nope")
    import shutil

    shutil.copytree(
        os.path.join(captures_dir, "126"), str(tmp_path / "cap_ds" / "126")
    )
    df2 = spark.read.format("capturefs").option("path", str(tmp_path / "cap_ds")).load()
    assert df2.count() == int((data_pdf["session_id"] == 126).sum())


def test_capturefs_stream_source_incremental(spark, tmp_path, captures_dir, data_pdf):
    """The custom streaming source drains existing captures, then a second
    run with the same checkpoint picks up ONLY a newly arrived capture —
    exactly-once per file via Spark's offset checkpoint (the reference's
    `processed` flag, for free)."""
    import shutil

    from komodo_data_spark.sources.capture_datasource import CaptureDataSource

    spark.dataSource.register(CaptureDataSource)
    root = tmp_path / "caps_stream"
    shutil.copytree(captures_dir, str(root))
    out = str(tmp_path / "cap_stream_out")
    ck = str(tmp_path / "cap_stream_ckpt")

    def drain():
        q = (
            spark.readStream.format("capturefs")
            .option("path", str(root))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert spark.read.parquet(out).count() == len(data_pdf)

    # a new capture arrives between polls
    new_dir = root / "777" / "1700000009999"
    new_dir.mkdir(parents=True)
    (new_dir / "data").write_text(
        json.dumps(
            [
                {
                    "capture_id": "777_1700000009999",
                    "session_id": 777,
                    "client_id": 1,
                    "type": "sync",
                    "ts": 1,
                    "seq": i,
                    "message": "{}",
                }
                for i in range(3)
            ]
        )
    )
    drain()
    got = spark.read.parquet(out)
    assert got.count() == len(data_pdf) + 3  # old files NOT re-read
    assert got.filter(F.col("capture_id") == "777_1700000009999").count() == 3


def test_backfill_rebuilds_only_named_partitions(spark, tmp_path):
    """Partition backfill: the named partitions are replaced with the
    recompute output, sibling partitions are byte-for-byte untouched,
    out-of-scope recompute rows are dropped (audited), and re-running the
    same backfill is idempotent."""
    from komodo_data_spark.sources.backfill import backfill_partitions

    path = str(tmp_path / "events_by_day")
    spark.createDataFrame(
        [(d, i, float(i)) for d in ("d1", "d2", "d3") for i in range(10)],
        "day string, event_id int, value double",
    ).write.partitionBy("day").parquet(path)

    def recompute(s):
        # corrected d2 (values doubled, one row fewer) + a stray d3 row the
        # backfill must refuse to write
        return s.createDataFrame(
            [("d2", i, float(i) * 2) for i in range(9)] + [("d3", 99, 0.0)],
            "day string, event_id int, value double",
        )

    audit = backfill_partitions(spark, path, "day", ["d2"], recompute)
    assert audit == {
        "partitions": ["d2"],
        "partitions_emptied": [],
        "rows_before": 10,
        "rows_after": 9,
        "rows_dropped_out_of_scope": 1,
    }
    got = spark.read.parquet(path)
    assert got.filter("day = 'd2'").count() == 9
    assert got.filter("day = 'd2' AND value = 2.0 AND event_id = 1").count() == 1
    # siblings untouched (d3 kept its original 10 rows, no stray event 99)
    assert got.filter("day = 'd1'").count() == 10
    assert got.filter("day = 'd3'").count() == 10
    assert got.filter("day = 'd3' AND event_id = 99").count() == 0
    # idempotent
    audit2 = backfill_partitions(spark, path, "day", ["d2"], recompute)
    assert audit2["rows_before"] == 9 and audit2["rows_after"] == 9


def test_backfill_empties_named_partition_with_zero_rows(spark, tmp_path):
    """A partition NAMED in the backfill whose corrected content is zero
    rows must end up EMPTY — dynamic overwrite alone would leave its old
    bad rows in place. The audit must describe exactly what landed on
    disk (the recompute output is materialized once via localCheckpoint
    before any count or write)."""
    from komodo_data_spark.sources.backfill import backfill_partitions

    path = str(tmp_path / "events_by_day2")
    spark.createDataFrame(
        [(d, i, float(i)) for d in ("d1", "d2", "d3") for i in range(10)],
        "day string, event_id int, value double",
    ).write.partitionBy("day").parquet(path)

    def recompute(s):
        # d2 corrected to 4 rows; d3 corrected to NOTHING (all its rows
        # were bad)
        return s.createDataFrame(
            [("d2", i, float(i) * 3) for i in range(4)],
            "day string, event_id int, value double",
        )

    audit = backfill_partitions(spark, path, "day", ["d2", "d3"], recompute)
    assert audit["partitions_emptied"] == ["d3"]
    assert audit["rows_before"] == 20 and audit["rows_after"] == 4
    got = spark.read.parquet(path)
    assert got.filter("day = 'd3'").count() == 0  # invalidated rows GONE
    assert got.filter("day = 'd2'").count() == 4
    assert got.filter("day = 'd1'").count() == 10  # sibling untouched


def test_backfill_empties_partition_with_escaped_name(spark, tmp_path):
    """Partition VALUES with special characters are Hive-escaped in the
    directory name (':' -> '%3A'); the explicit empty-partition delete must
    find the on-disk directory anyway — naive name interpolation would
    silently no-op and keep the invalidated rows."""
    from komodo_data_spark.sources.backfill import backfill_partitions

    path = str(tmp_path / "events_by_hour")
    spark.createDataFrame(
        [(h, i, float(i)) for h in ("10:00", "11:00") for i in range(5)],
        "hour string, event_id int, value double",
    ).write.partitionBy("hour").parquet(path)
    import os

    assert any("%3A" in e for e in os.listdir(path))  # escaping is real

    audit = backfill_partitions(
        spark, path, "hour", ["10:00"],
        lambda s: s.createDataFrame([], "hour string, event_id int, value double"),
    )
    assert audit["partitions_emptied"] == ["10:00"]
    got = spark.read.parquet(path)
    assert got.filter("hour = '10:00'").count() == 0  # actually deleted
    assert got.filter("hour = '11:00'").count() == 5


def test_data_table_schema_evolution_merge(spark, tmp_path):
    """Schema evolution on the append-only data table: epochs written with
    an added column merge into one readable frame (mergeSchema), old rows
    surface NULL for the new column, and session filters still prune."""
    path = str(tmp_path / "data_evolving")
    spark.createDataFrame(
        [(126, 1, "sync"), (126, 2, "sync")],
        "session_id int, seq long, type string",
    ).write.partitionBy("session_id").parquet(path)
    spark.createDataFrame(
        [(127, 3, "sync", "v2-extra")],
        "session_id int, seq long, type string, annotation string",
    ).write.mode("append").partitionBy("session_id").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"session_id", "seq", "type", "annotation"}
    assert merged.count() == 3
    old = merged.filter("session_id = 126")
    assert old.filter(F.col("annotation").isNull()).count() == 2
    assert merged.filter("annotation = 'v2-extra'").count() == 1


def test_cli_serve_runs_reference_loop(spark, tmp_path, captures_dir, data_pdf):
    """`python -m komodo_data_spark serve --available-now ...` is the
    drop-in replacement for the reference daemon: one loop iteration
    ingests the capture tree, dispatches the queued requests to CSV, and
    records fulfillments; a second invocation against the same state dir
    re-processes nothing."""
    from komodo_data_spark.__main__ import main

    req_dir = tmp_path / "req_q"
    req_dir.mkdir()
    (req_dir / "r.json").write_text(
        "\n".join(
            json.dumps(
                dict(
                    request_id=rid, processed_capture_id="126_1630443513898",
                    who_requested=2, aggregation_function=fn,
                    is_it_fulfilled=ful, url=None, message=msg,
                    file_location=None,
                )
            )
            for rid, fn, ful, msg in REQUESTS
        )
        + "\n"
    )
    argv = [
        "serve", "--available-now",
        "--captures-dir", captures_dir,
        "--requests-dir", str(req_dir),
        "--data-path", str(tmp_path / "data_tbl"),
        "--out-dir", str(tmp_path / "exports"),
        "--state-dir", str(tmp_path / "state"),
    ]
    assert main(argv) == 0
    assert spark.read.parquet(str(tmp_path / "data_tbl")).count() == len(data_pdf)
    ful = spark.read.parquet(str(tmp_path / "state" / "fulfillments"))
    got = {
        (r["request_id"], r["file_location"]) for r in ful.collect()
    }
    assert sorted(rid for rid, _ in got) == [1, 2, 6]
    for _, path in got:
        assert os.path.isfile(path)
        assert len(pd.read_csv(path)) > 0

    # second iteration: checkpoints make it a no-op
    assert main(argv) == 0
    assert spark.read.parquet(str(tmp_path / "state" / "fulfillments")).count() == 3
    assert spark.read.parquet(str(tmp_path / "data_tbl")).count() == len(data_pdf)


def test_capturefs_dead_letters_schema_violations(spark, tmp_path):
    """A capture whose records violate the schema (string ts) must
    dead-letter like unparseable bytes — the scan survives and good
    captures still read."""
    from komodo_data_spark.sources.capture_datasource import CaptureDataSource

    spark.dataSource.register(CaptureDataSource)
    root = tmp_path / "caps_badschema"
    good = root / "1" / "10"
    bad = root / "2" / "20"
    good.mkdir(parents=True)
    bad.mkdir(parents=True)
    (good / "data").write_text(json.dumps([
        {"capture_id": "1_10", "session_id": 1, "client_id": 1,
         "type": "sync", "ts": 5, "seq": 1, "message": "{}"}
    ]))
    (bad / "data").write_text(json.dumps([
        {"capture_id": "2_20", "session_id": 2, "client_id": 1,
         "type": "sync", "ts": "not-a-number", "seq": 1, "message": "{}"}
    ]))
    df = spark.read.format("capturefs").option("path", str(root)).load()
    assert df.count() == 1
    assert df.first()["capture_id"] == "1_10"


# --------------------------------------------------------------------------
# batched dispatch: one plan per aggregation function per micro-batch
# --------------------------------------------------------------------------

#: Two or more requests per function over sessions 126 and 127, plus
#: session 999, which has no rows (header-only CSVs).
BATCH_REQUESTS = [
    (11, "aggregate_interaction_type", '{"sessionId": 126, "interactionType": 1}'),
    (12, "aggregate_user", '{"sessionId": 126, "clientId": 5}'),
    (13, "user_energy", '{"sessionId": 126, "clientId": 5, "entityType": 0}'),
    (14, "aggregate_interaction_type", '{"sessionId": 127, "interactionType": 1}'),
    (15, "aggregate_user", '{"sessionId": 127, "clientId": 2}'),
    (16, "user_energy", '{"sessionId": 127, "clientId": 5, "entityType": 1}'),
    (17, "aggregate_interaction_type", '{"sessionId": 999, "interactionType": 2}'),
    (18, "aggregate_user", '{"sessionId": 999, "clientId": 1}'),
    # JSON-null sessionId: user_energy does not check it, so it coerces to
    # session 0, exports a header-only CSV and is fulfilled (dispatch._as_int)
    (19, "user_energy", '{"sessionId": null, "clientId": 5, "entityType": 0}'),
    # no entityType key: its coercion raises, so it alone is skipped
    (20, "user_energy", '{"sessionId": 126, "clientId": 5}'),
    # a session id outside the long range: skipped alone, as is the
    # per-request path's literal
    (21, "aggregate_user", '{"sessionId": 1e30, "clientId": 5}'),
]
BATCH_SERVED = [11, 12, 13, 14, 15, 16, 17, 18, 19]
PREFIX = {"aggregate_interaction_type": "aggregate_interaction",
          "aggregate_user": "aggregate_user", "user_energy": "user_energy"}


def _request_frame(spark, requests):
    return spark.createDataFrame(
        [
            dict(request_id=rid, processed_capture_id="126_1630443513898",
                 who_requested=2, aggregation_function=fn, is_it_fulfilled=0,
                 url=None, message=msg, file_location=None)
            for rid, fn, msg in requests
        ],
        schema=DATA_REQUESTS_SCHEMA,
    )


@pytest.fixture(scope="module")
def batch_table(spark, tmp_path_factory, data_pdf):
    """The fixture rows as a session-partitioned parquet table, plus rows
    with a NULL client_id in session 127: two sync rows of client 5 (their
    own energy window, so one energy row) and one interaction row."""
    start = 1630450000000
    extra = pd.DataFrame([
        dict(capture_id=f"127_{start}", session_id=127, client_id=None, type="sync",
             ts=start + 10_000 + 50 * i, seq=90_000 + i,
             message=json.dumps({"clientId": 5, "entityType": 1,
                                 "pos": {"x": 0.1 * i, "y": 0.2, "z": 0.3 + i}}))
        for i in range(2)
    ] + [
        dict(capture_id=f"127_{start}", session_id=127, client_id=None, type="interaction",
             ts=start + 10_000, seq=90_002,
             message=json.dumps({"clientId": 5, "interactionType": 1}))
    ])
    rows = pd.concat([data_pdf, extra], ignore_index=True)
    rows["client_id"] = rows["client_id"].astype("Int64")
    path = str(tmp_path_factory.mktemp("batch") / "data")
    spark.createDataFrame(rows, schema=CAPTURE_FILE_SCHEMA).write.partitionBy(
        "session_id").parquet(path)
    return path


def _lines(path):
    with open(path) as fh:
        return fh.read().splitlines()


def test_batched_dispatch_matches_per_request_csvs(spark, batch_table, tmp_path):
    """A micro-batch gives the CSVs the per-request path gives: user_energy
    byte for byte up to tied energies, the aggregates as sorted rows. A NULL
    client_id in one request's rows widens only that request's integers."""
    from komodo_data_spark.operators import analytics as A

    data = spark.read.parquet(batch_table)
    fulfilled = []
    done = dispatch.aggregation_file_download(
        spark, _request_frame(spark, BATCH_REQUESTS), data, str(tmp_path / "batch"),
        on_fulfilled=lambda rid, p: fulfilled.append(rid),
    )
    assert [rid for rid, _, _ in done] == BATCH_SERVED
    assert sorted(fulfilled) == BATCH_SERVED
    paths = {rid: path for rid, _, path in done}
    for rid, fn, path in done:
        assert os.path.basename(path) == f"{PREFIX[fn]}_req{rid}.csv"

    per_request = {
        "aggregate_interaction_type":
            lambda p: A.aggregate_interaction_type(data, p["sessionId"], p["interactionType"]),
        "aggregate_user": lambda p: A.aggregate_user(data, p["sessionId"], p["clientId"]),
        "user_energy": lambda p: A.user_energy(
            data, p["sessionId"] or 0, p["clientId"], p["entityType"]),
    }
    for rid, fn, msg in BATCH_REQUESTS:
        if rid not in paths:
            continue
        exp = _lines(dispatch.export_csv(
            per_request[fn](json.loads(msg)), str(tmp_path / "single"), PREFIX[fn],
            filename=f"{rid}.csv",
        ))
        got = _lines(paths[rid])
        assert got[0] == exp[0] and sorted(got) == sorted(exp), rid
        if fn == "user_energy":  # rows differ in order only among ties
            keys = [line.rsplit(",", 2)[1:] for line in got]
            assert keys == [line.rsplit(",", 2)[1:] for line in exp], rid

    assert all(len(_lines(paths[rid])) == 1 for rid in (17, 18, 19))  # header only
    # session 127's NULL client_id: its own CSVs print floats and an empty
    # field; session 126's integers stay integral
    for rid in (14, 16):
        rows = _lines(paths[rid])[1:]
        assert any(r.startswith(",") for r in rows)
        assert all(r.split(",")[0] in ("", "1.0", "2.0", "5.0") for r in rows)
    for rid in (11, 13):
        rows = _lines(paths[rid])[1:]
        assert rows and all(r.split(",")[0] in ("1", "2", "5") for r in rows)


def test_batched_dispatch_isolates_a_failing_session(spark, batch_table, tmp_path, capsys):
    """A corrupt file under one session's partition fails each function's
    batched plan; its requests are replayed one at a time, so the requests
    on the other session are still fulfilled. Each failure is reported on
    one short line that names the failing requests."""
    import glob
    import shutil

    table = str(tmp_path / "data")
    shutil.copytree(batch_table, table)
    data = spark.read.parquet(table)
    bad = sorted(glob.glob(os.path.join(table, "session_id=127", "*.parquet")))[0]
    with open(bad, "wb") as fh:
        fh.write(b"not a parquet file")

    requests = [r for r in BATCH_REQUESTS if json.loads(r[2]).get("sessionId") in (126, 127)]
    fulfilled = []
    done = dispatch.aggregation_file_download(
        spark, _request_frame(spark, requests), data, str(tmp_path / "out"),
        on_fulfilled=lambda rid, p: fulfilled.append(rid),
    )
    assert [rid for rid, _, _ in done] == [11, 12, 13]
    assert fulfilled == [11, 12, 13]
    assert not glob.glob(str(tmp_path / "out" / "*_req1[456].csv"))
    printed = capsys.readouterr().out.splitlines()
    # one short line per failure report: no message continues on a next line
    assert printed and all(
        line.startswith("request") and len(line) < 500 for line in printed
    ), printed[:3]
    for rid in (14, 15, 16):
        assert any(line.startswith(f"request(s) [{rid}] ") for line in printed), printed


def test_batched_plans_prune_to_the_batch_sessions(spark, batch_table, tmp_path, monkeypatch):
    """Every batched plan's parquet scan carries a ``session_id IN (...)``
    partition filter: the request frame is a local relation, so dynamic
    partition pruning does not fire and the filter must be explicit."""
    import functools
    import re

    plans = []

    def recording(keyed):
        @functools.wraps(keyed)
        def run(data, requests):
            df = keyed(data, requests)
            plans.append(df)
            return df

        return run

    monkeypatch.setattr(dispatch, "_ANALYTICS", {
        fn: (prefix, checked, recording(keyed), params)
        for fn, (prefix, checked, keyed, params) in dispatch._ANALYTICS.items()
    })
    data = spark.read.parquet(batch_table)
    dispatch.aggregation_file_download(
        spark, _request_frame(spark, BATCH_REQUESTS), data, str(tmp_path / "out"))
    assert len(plans) == 3  # one plan per function
    for df in plans:
        plan = df._jdf.queryExecution().executedPlan().toString()
        scans = [line for line in plan.splitlines() if "FileScan" in line]
        assert scans, plan
        for scan in scans:
            filters = re.search(r"PartitionFilters: \[([^\]]*)\]", scan).group(1)
            assert re.search(r"session_id#\d+ IN \(", filters), scan
