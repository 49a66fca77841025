"""A batch of requests is matched to ``data`` rows through literal request
slots (``analytics._named_rows``): each request gets exactly the rows its
own one-request plan gets, including requests that share a slot, repeat
another request, or name ``-0.0``, and no batched plan joins or broadcasts
a request frame."""

from __future__ import annotations

import json

from komodo_data_spark.operators import analytics as A
from komodo_data_spark.schemas import DATA_SCHEMA

#: (session, clientId) per request; (9, 11) shares (1, 3)'s slot (9 ^ 11 ==
#: 1 ^ 3), (1, 3) repeats, -0.0 names clientId 0, 3.5 names nothing
REQUESTS = [(1, 3), (1, 3), (9, 11), (1, -1), (9, 3), (1, -0.0), (1, 3.5)]


def _data(spark):
    keys = [(s, c, e) for s in (1, 9) for c in (3, 11, -1, 0) for e in (0, 1, 1)]
    return spark.createDataFrame(
        [
            (f"{s}_0", s, c, "sync", 1000 + 10 * i, i,
             json.dumps({"clientId": c, "entityType": e, "pos": {"x": i, "y": 1, "z": 2}}))
            for i, (s, c, e) in enumerate(keys)
        ],
        schema=DATA_SCHEMA,
    )


def _split(df) -> dict:
    out: dict = {}
    for r in df.collect():
        d = r.asDict()
        out.setdefault(d.pop("request_id"), []).append(tuple(d.values()))
    return {rid: sorted(rows) for rid, rows in out.items()}


def test_batched_requests_match_one_request_plans(spark):
    data = _data(spark)
    cases = [
        (A.aggregate_user_by_request, A.aggregate_user, lambda s, c: (s, c)),
        (A.user_energy_by_request, A.user_energy, lambda s, c: (s, c, 1)),
    ]
    for keyed, one, params in cases:
        rows = [A.request_row(keyed, rid, *params(s, c)) for rid, (s, c) in enumerate(REQUESTS)]
        batched = keyed(data, rows)
        plan = batched._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan and "BroadcastExchange" not in plan, plan
        got = _split(batched)
        for rid, (s, c) in enumerate(REQUESTS):
            want = sorted(map(tuple, one(data, *params(s, c)).collect()))
            assert got.get(rid, []) == want, (keyed.__name__, s, c)
        assert got[0] and got[0] == got[1] and got[5]
        assert 6 not in got
