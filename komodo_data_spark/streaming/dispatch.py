"""Aggregation-request dispatcher (the reference's work-queue consumer).

Reference: ``aggregation_file_download`` (process.py:320-366) selects pending
rows (``is_it_fulfilled = 0`` ordered by request_id), extracts the request
params from the row's own JSON ``message`` with ``->`` (so JSON nulls surface
as the text ``'null'``), string-dispatches on ``aggregation_function``,
validates params against the literal string ``"null"``, and serves each
request with its own query and CSV.

Rebuild: the request-side rules are the reference's and apply per request
in Python: pending selection, the ``"null"`` checks, ``_as_int`` coercion,
unknown function names ignored. Serving is batched: each request analytic
is keyed by ``request_id`` (operators/analytics.py), so a micro-batch's
requests for one function are served by ONE Spark plan over a broadcast
request frame and ONE collect, split in pandas into one CSV per request.
Functions run in order of their first pending request_id; each function's
CSVs are written, and its requests fulfilled, as soon as its plan is
collected. Failures isolate per request, as in the reference
(process.py:339-366): a request whose params do not coerce is skipped
alone, and if a function's batched plan raises, its requests are replayed
one at a time through the same keyed definition.

CSV names are ``<prefix>_req<request_id>.csv``. The reference's
``'%Y-%m-%d %H-%S'`` name skips minutes, so two same-function exports in one
hour could overwrite each other; consumers find the file through
``file_location``, as in the reference.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import IntegralType

from komodo_data_spark.functions.json_compat import req_param
from komodo_data_spark.operators import analytics


def _as_int(param: str | None) -> int:
    """MySQL numeric coercion for request params: non-numeric text (incl. the
    ``'null'`` marker when it slips past a validity check, as session_id does
    in the reference's user_energy branch, process.py:362-366) coerces to 0 —
    the reference then runs the query, exports an empty CSV, and marks the
    request fulfilled. Exception-skipping here would be a parity deviation."""
    try:
        return int(float(param))
    except (TypeError, ValueError):
        return 0


#: aggregation_function -> (CSV prefix, params checked against the text
#: "null", the keyed analytic, the request's params as the reference passes
#: them to the analytic) — process.py:351-366.
_ANALYTICS = {
    "aggregate_interaction_type": (
        "aggregate_interaction", ("session_id", "interaction_type"),
        analytics.aggregate_interaction_type_by_request,
        lambda r: (_as_int(r["session_id"]), _as_int(r["interaction_type"])),
    ),
    "aggregate_user": (
        "aggregate_user", ("client_id", "session_id"),
        analytics.aggregate_user_by_request,
        lambda r: (_as_int(r["session_id"]), _as_int(r["client_id"])),
    ),
    "user_energy": (
        "user_energy", ("entity_type", "client_id"),
        analytics.user_energy_by_request,
        lambda r: (_as_int(r["session_id"]), _as_int(r["client_id"]), r["entity_type"]),
    ),
}


def pending_requests(requests: DataFrame) -> DataFrame:
    """SELECT …, message->params FROM data_requests WHERE is_it_fulfilled=0
    ORDER BY request_id (process.py:323-330)."""
    return (
        requests.filter(F.col("is_it_fulfilled") == 0)
        .select(
            "request_id",
            "aggregation_function",
            "is_it_fulfilled",
            req_param("message", "clientId").alias("client_id"),
            req_param("message", "sessionId").alias("session_id"),
            req_param("message", "entityType").alias("entity_type"),
            req_param("message", "interactionType").alias("interaction_type"),
        )
        .orderBy("request_id")
    )


def export_csv(
    df: DataFrame | pd.DataFrame, out_dir: str, prefix: str, filename: str | None = None
) -> str:
    """CSV result sink (process.py:100-107): ``df`` (a Spark frame, or a
    collected pandas one) written with pandas ``to_csv`` as
    ``out_dir/filename``, by default ``<prefix>.csv``; returns the absolute
    path."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, filename or f"{prefix}.csv")
    if isinstance(df, DataFrame):
        df = df.toPandas()
    df.to_csv(path, index=False)
    return os.path.abspath(path)


def _collect(spark, data, keyed, rows) -> dict[int, pd.DataFrame]:
    """``keyed`` over the request frame of ``rows``, collected once and split
    into one pandas frame per request (header-only when it has no rows).
    Each slice keeps the dtypes the request's own ``toPandas()`` gives: an
    integer column that some other request's NULL widened to float is
    integral again."""
    result = keyed(data, rows)
    pdf = result.toPandas()
    ints = {
        f.name: to_arrow_type(f.dataType).to_pandas_dtype()
        for f in result.schema if isinstance(f.dataType, IntegralType)
    }
    parts = dict(iter(pdf.groupby("request_id", sort=False)))
    out = {}
    for rid, *_ in rows:
        part = parts.get(rid, pdf.iloc[:0]).drop(columns="request_id")
        out[rid] = part.astype({
            c: t for c, t in ints.items()
            if c in part and part[c].dtype.kind == "f" and part[c].notna().all()
        })
    return out


def _serve(spark, data, fn, keyed, rows) -> dict[int, pd.DataFrame]:
    """One function's requests in one plan; if it raises, each request
    alone (a failing one is skipped)."""
    try:
        return _collect(spark, data, keyed, rows)
    except Exception as e:  # per-request failure isolation
        # one line: a Py4JJavaError's str is the whole JVM stack trace
        first = next(iter(str(e).strip().splitlines()), "")
        print(f"request(s) {[r[0] for r in rows]} ({fn}) failed: {type(e).__name__}: {first}")
        if len(rows) == 1:
            return {}
    return {rid: pdf for row in rows for rid, pdf in _serve(spark, data, fn, keyed, [row]).items()}


def aggregation_file_download(
    spark: SparkSession,
    requests: DataFrame,
    data: DataFrame,
    out_dir: str,
    on_fulfilled=None,
) -> list[tuple[int, str, str]]:
    """Serve every pending request; returns [(request_id, function,
    csv_path)] in request_id order.

    ``on_fulfilled(request_id, path)`` is the seam for control-table updates
    (sources.control.update_data_request); it runs as soon as the request's
    CSV is written.
    """
    batches: dict[str, list[tuple]] = {}
    for row in pending_requests(requests).collect():  # control-plane: tiny
        fn, rid = row["aggregation_function"], int(row["request_id"])
        if fn not in _ANALYTICS:  # unknown names fall through silently (process.py:351-366)
            continue
        prefix, checked, keyed, params = _ANALYTICS[fn]
        if any(row[p] == "null" for p in checked):
            print(f"Argument(s) for {prefix} not valid!")
            continue
        try:
            request = analytics.request_row(keyed, rid, *params(row))
        except (TypeError, ValueError, OverflowError) as e:  # skipped alone
            print(f"request {rid} ({fn}) failed: {e}")
            continue
        batches.setdefault(fn, []).append(request)

    done: list[tuple[int, str, str]] = []
    for fn, rows in batches.items():  # in order of first pending request_id
        prefix, _, keyed, _ = _ANALYTICS[fn]
        for rid, pdf in _serve(spark, data, fn, keyed, rows).items():
            try:
                path = export_csv(pdf, out_dir, prefix, filename=f"{prefix}_req{rid}.csv")
            except OSError as e:
                print(f"request {rid} ({fn}) failed: {e}")
                continue
            done.append((rid, fn, path))
            if on_fulfilled is not None:
                on_fulfilled(rid, path)
    return sorted(done)


# --------------------------------------------------------------------------
# streaming request queue (file-arrival -> dispatch via foreachBatch)
# --------------------------------------------------------------------------


def start_request_stream(
    spark: SparkSession,
    requests_glob: str,
    data: DataFrame,
    out_dir: str,
    checkpoint_path: str,
    on_fulfilled=None,
    available_now: bool = True,
):
    """The reference's request-polling loop (process.py:450-473, 10 s
    sleep over ``data_requests``) as a stream: request rows arrive as
    JSON-lines files, each micro-batch dispatches them through the SAME
    batch dispatcher (``aggregation_file_download``) inside foreachBatch —
    the ``is_it_fulfilled`` flag polling becomes unnecessary exactly the
    way ``captures.processed`` did for ingest (streaming/ingest.py).

    Each micro-batch is served with one plan and one collect per
    aggregation function; a function whose batched plan raises replays its
    requests one at a time.

    Delivery semantics: source offsets are exactly-once (the checkpoint
    never re-reads a committed file), but foreachBatch side effects are
    AT-LEAST-ONCE — a crash between dispatch and checkpoint commit replays
    the batch. Both side effects are therefore idempotent under replay:
    CSV names are derived from the request_id (``<prefix>_req<rid>.csv``),
    so a replay overwrites the same files, and ``on_fulfilled`` feeds the
    latest-wins control log (sources.control), where a duplicate
    fulfillment row collapses to the same state.

    Scale note: the queue is control-plane (tiny); the heavy side is
    ``data``, a plain batch frame re-used across batches — foreachBatch is
    what allows mixing a static 100 TB table with a streaming queue.
    """
    from komodo_data_spark.schemas import DATA_REQUESTS_SCHEMA

    stream = (
        spark.readStream.schema(DATA_REQUESTS_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .json(requests_glob)
    )

    def dispatch_batch(batch_df: DataFrame, _epoch: int) -> None:
        aggregation_file_download(
            spark, batch_df, data, out_dir, on_fulfilled=on_fulfilled
        )

    writer = (
        stream.writeStream.foreachBatch(dispatch_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
