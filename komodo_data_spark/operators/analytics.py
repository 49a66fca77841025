"""The reference's five analytics workloads as single-plan DataFrame functions.

Each function mirrors one MySQL workload from /root/reference/process.py but
is expressed as one declarative Spark plan: no staging tables, no in-place
UPDATEs, no double execution (the reference re-runs drawing_pattern and
user_proximity twice, process.py:399-402/:438-441 — eliminated here).

The three request analytics (the ones ``data_requests`` dispatches,
process.py:351-366) are each defined once, keyed by ``request_id`` over the
driver's request rows ``(request_id, session_id, <params>)``: a micro-batch
of requests is one plan (streaming/dispatch.py), and the per-request
function is the one-row case of the same definition.

Scale design (100 TB): the `data` table is expected partitioned by
``session_id`` (see sources.capture.append_to_data_table), so every
session filter prunes partitions at scan time. Window functions
are partitioned on the same keys the reference's WHERE clause pins to
constants — identical results at any scale, no single-task global sorts
except where the reference's semantics genuinely are global (user_proximity
parity mode; a partitioned variant is provided for scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from komodo_data_spark.functions.json_compat import decode_entity, jget, jget_num


def _by_request(*params: str):
    """Declare a keyed analytic: ``fn(data, requests)`` reads request rows
    ``(request_id, <params>)`` (from :func:`request_row`), each param a
    ``"name type"`` pair, and returns one result per request, tagged with
    its ``request_id``."""

    def declare(fn):
        fn.request_params = tuple(tuple(p.split()) for p in params)
        return fn

    return declare


def _long(value) -> int:
    v = int(value)
    if not -(2**63) <= v < 2**63:
        raise OverflowError(f"{value} is out of range for a long")
    return v


def request_row(keyed, request_id: int, *values) -> tuple:
    """One request row for ``keyed``. Each value is coerced the way
    the analytic compares it: ``int`` for the session id, ``float`` for a
    JSON number (MySQL's numeric coercion of ``->``). Raises on a value that
    does not coerce, e.g. ``None`` for a missing ``entityType`` or a session
    id outside Spark's long range, so the dispatcher skips that request
    alone instead of failing the whole frame."""
    coerce = {"long": _long, "double": float}
    return (
        _long(request_id),
        *(coerce[t](v) for (_, t), v in zip(keyed.request_params, values, strict=True)),
    )


def _one(keyed, data: DataFrame, *values) -> DataFrame:
    """A keyed analytic's one-request case: its result for one request row,
    without the key."""
    return keyed(data, [request_row(keyed, 0, *values)]).drop("request_id")


#: Doubles below this magnitude cast to a long exactly on the driver and in
#: Spark; larger ones, NaN and the infinities take request slot 0.
_EXACT_LONG = 2**52


def _named_rows(data: DataFrame, keyed, requests: list, path: str, param: str) -> DataFrame:
    """The ``data`` rows each request names: its session, and the message's
    number at ``path`` equal to the request's ``param`` under Spark's double
    equality. A row named by two requests appears once per request, tagged
    with the request's columns as ``req_<name>``.

    The requests are literals of the plan, so no request frame is broadcast
    (a broadcast costs one job per plan). They sit in a literal array of
    slots indexed by (session_id XOR the number's integral part) modulo a
    power of two >= the batch; each row parses its JSON once and scans only
    its own slot, so its cost does not grow with the batch (a literal map
    lookup would scan every key). The scan is pruned to the requests'
    sessions by an explicit ``session_id IN (...)``."""
    cols = [("request_id", "long"), *keyed.request_params]
    k = [n for n, _ in cols].index(param)
    m = 1 << (len(requests) - 1).bit_length()
    slots = [[] for _ in range(m)]
    for row in requests:
        num = int(row[k]) if abs(row[k]) < _EXACT_LONG else 0
        slots[(row[1] ^ num) & (m - 1)].append(F.struct(*[
            F.lit(v).cast(t).alias(n if n == "request_id" else f"req_{n}")
            for v, (n, t) in zip(row, cols)
        ]))
    slot = F.expr(
        f"CAST((session_id ^ CASE WHEN abs(_key) < {_EXACT_LONG}"
        f" THEN CAST(_key AS BIGINT) ELSE 0 END) & {m - 1} AS INT) + 1"
    )
    named = F.filter(
        F.element_at(F.array(*[F.array(*s) for s in slots]), slot),
        lambda r: (r["req_session_id"] == F.col("session_id"))
        & (r[f"req_{param}"] == F.col("_key")),
    )
    sessions = sorted({row[1] for row in requests})
    return (
        data.filter(F.col("session_id").isin(sessions))
        .withColumn("_key", jget_num("message", path))
        .select("*", F.inline_outer(named))
        .filter(F.col("request_id").isNotNull())
        .drop("_key")
    )


@_by_request("session_id long", "interaction_type double")
def aggregate_interaction_type_by_request(data: DataFrame, requests: list) -> DataFrame:
    """Interactions per client for each request's session + interaction type.

    Reference: process.py:79-88 (INSERT…SELECT into `aggregate_interaction`).
    ``count(message)`` is a non-NULL count of the message column — kept as-is.
    ``message->'$.interactionType' = :x`` coerces numerically in MySQL →
    double-cast compare here.
    """
    return (
        _named_rows(
            data, aggregate_interaction_type_by_request, requests,
            "$.interactionType", "interaction_type",
        )
        .groupBy("request_id", "client_id")
        .agg(F.count("message").alias("interaction_count"))
    )


def aggregate_interaction_type(
    data: DataFrame, session_id: int, interaction_type: int
) -> DataFrame:
    """:func:`aggregate_interaction_type_by_request` for one request:
    (client_id, interaction_count)."""
    return _one(aggregate_interaction_type_by_request, data, session_id, interaction_type)


@_by_request("session_id long", "client_id double")
def aggregate_user_by_request(data: DataFrame, requests: list) -> DataFrame:
    """Per-entity-type activity count for each request's client and session.

    Reference: process.py:144-173 — aggregate into `aggregate_user`, then an
    in-place UPDATE decodes entity codes to names (process.py:159-164). Here
    the decode folds into the projection; output columns match the
    reference's final SELECT * : (entity_type, user_count).
    """
    return (
        _named_rows(
            data.filter(F.col("type") == "sync"), aggregate_user_by_request, requests,
            "$.clientId", "client_id",
        )
        .groupBy("request_id", jget("message", "$.entityType").alias("entity_type"))
        .agg(F.count(F.lit(1)).alias("user_count"))
        .select("request_id", decode_entity("entity_type").alias("entity_type"), "user_count")
    )


def aggregate_user(data: DataFrame, session_id: int, client_id: int) -> DataFrame:
    """:func:`aggregate_user_by_request` for one request:
    (entity_type, user_count)."""
    return _one(aggregate_user_by_request, data, session_id, client_id)


@_by_request("session_id long", "client_id double", "entity_type double")
def user_energy_by_request(data: DataFrame, requests: list) -> DataFrame:
    """Movement "energy" per sync message: √(Δx²+Δy²+Δz²) / Δts.

    Reference: process.py:196-213. Semantics preserved exactly:
    - LAG runs over the rows *after* the client/session/type filter, ordered
      by ``seq`` — i.e. deltas are taken across entity types interleaved in
      one client stream;
    - the ``entity_type = :x`` filter applies *after* the lag (outer WHERE,
      process.py:209), so it never changes which row is "previous";
    - ``entity_type`` is projected as the raw JSON text (``'0'``), numeric
      only in the predicate (MySQL coercion);
    - output: (client_id, session_id, timestamp, entity_type, energy),
      ORDER BY entity_type, energy DESC (process.py:198,210) within each
      request.

    Window partitioning: the reference's window is globally ordered over
    the rows its WHERE keeps, one session and one ``message.clientId``.
    One request names exactly that stream, so the window is partitioned by
    ``request_id`` alone: the ``client_id`` column is not the message's
    ``clientId`` (it can be NULL where the message's matches), and
    partitioning by it would change which row is "previous". Requests lag
    in parallel; each request's rows are sorted within their partition, so
    no global range sort runs.

    The positions are extracted as doubles before the window, so the window
    shuffle carries three numbers instead of the ``message`` text.
    """
    rows = _named_rows(
        data.filter(F.col("type") == "sync"), user_energy_by_request, requests,
        "$.clientId", "client_id",
    ).select(
        "request_id",
        "client_id",
        "session_id",
        "ts",
        "seq",
        "req_entity_type",
        jget("message", "$.entityType").alias("entity_type"),
        *[jget_num("message", f"$.pos.{c}").alias(f"_{c}") for c in "xyz"],
    )
    w = Window.partitionBy("request_id").orderBy("seq")

    def delta(c: str):
        return F.col(c) - F.lag(c, 1).over(w)

    energy = F.sqrt(
        F.pow(delta("_x"), F.lit(2))
        + F.pow(delta("_y"), F.lit(2))
        + F.pow(delta("_z"), F.lit(2))
    ) / delta("ts")

    return (
        rows.select(
            "request_id",
            "client_id",
            "session_id",
            F.col("ts").alias("timestamp"),
            "entity_type",
            energy.alias("energy"),
            "req_entity_type",
        )
        .filter(
            F.col("energy").isNotNull()
            & (F.col("entity_type").cast("double") == F.col("req_entity_type"))
        )
        .drop("req_entity_type")
        .sortWithinPartitions("request_id", "entity_type", F.desc("energy"))
    )


def user_energy(
    data: DataFrame, session_id: int, client_id: int, entity_type: int | str
) -> DataFrame:
    """:func:`user_energy_by_request` for one request: (client_id,
    session_id, timestamp, entity_type, energy)."""
    return _one(user_energy_by_request, data, session_id, client_id, entity_type)


def drawing_pattern(data: DataFrame) -> DataFrame:
    """Stroke usage between timestamps.

    Reference: process.py:386-402. ``count(message->'$.strokeType')`` counts
    rows where the JSON path *exists* (non-NULL) — Spark's ``F.count`` over
    ``get_json_object`` has identical NULL-skipping semantics.
    Output: (timestamp, stroke_type_count, stroke_id_count) ORDER BY
    stroke_type_count DESC.
    """
    return (
        data.groupBy(F.col("ts").alias("timestamp"))
        .agg(
            F.count(jget("message", "$.strokeType")).alias("stroke_type_count"),
            F.count(jget("message", "$.strokeId")).alias("stroke_id_count"),
        )
        .orderBy(F.desc("stroke_type_count"))
    )


def user_proximity(
    data: DataFrame, diameter: float, scale_mode: bool = False
) -> DataFrame:
    """Moments when multiple users appear within ``diameter`` of each other.

    Reference: process.py:413-448. Faithful pipeline:
    1. co-present timestamps: ``ts IN (SELECT ts … HAVING count(distinct
       client_id) > 1)`` → left-semi join (process.py:427-430);
    2. pairwise "distance" via LAG over rows ordered by (ts, position-text)
       — consecutive-row distance, not a true all-pairs self-join
       (process.py:421-424);
    3. ``distance > 0 AND distance < :diameter`` then ORDER BY distance
       (process.py:433-434).

    Output: (ts, client_id, position, distance, capture_id, session_id).

    ``scale_mode=False`` (parity) uses the reference's *global* (ts,
    position) ordering — correct but a single-task window, fine at
    reference scale. ``scale_mode=True`` partitions the window by
    ``session_id``: at 100 TB each session's stream lags independently and
    in parallel. Distances never cross sessions in practice because co-present
    rows of one ts belong to one live session, but the first row of each
    session loses its (meaningless) cross-session lag pair — the documented
    deviation.
    """
    copresent_ts = (
        data.groupBy("ts")
        .agg(F.count_distinct("client_id").alias("n_clients"))
        .filter(F.col("n_clients") > 1)
        .select("ts")
    )

    rows = data.join(copresent_ts, "ts", "left_semi").select(
        "client_id",
        jget("message", "$.pos").alias("position"),
        "capture_id",
        "session_id",
        "ts",
        jget_num("message", "$.pos.x").alias("_x"),
        jget_num("message", "$.pos.y").alias("_y"),
        jget_num("message", "$.pos.z").alias("_z"),
    )

    if scale_mode:
        w = Window.partitionBy("session_id").orderBy("ts", "position")
    else:
        w = Window.orderBy("ts", "position")

    def d2(c: str):
        col = F.col(c)
        return F.pow(col - F.lag(col, 1).over(w), F.lit(2))

    distance = F.sqrt(d2("_x") + d2("_y") + d2("_z"))

    return (
        rows.select(
            "ts",
            "client_id",
            "position",
            distance.alias("distance"),
            "capture_id",
            "session_id",
        )
        .filter((F.col("distance") > 0) & (F.col("distance") < F.lit(float(diameter))))
        .orderBy("distance")
    )
