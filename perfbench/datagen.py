"""Seeded inputs for the benchmark workloads.

``write_tables`` writes the ten registry tables (TPC-H-shaped facts and
dims, ``events``, ``documents``, ``embeddings``) at a scale factor, in the
schema, sizes and value domains of the package's test scale directories
(sf0.001, sf0.01, sf0.1, generated with seed 42). With seed 42, eight of the
ten tables come out equal to those row for row (``events.ts`` differs by
1 us on 0.02% of rows); ``documents`` and ``embeddings`` match in size and
distribution only: bag-of-words texts of 10-100 words over a 30-word
vocabulary, 5% ``dup``-token near-duplicates and ~0.16% exact copies, and
unit-norm 64-d vectors with uniform labels.

``capture_batch`` and ``request_batch`` make the ``serve`` lifecycle's
inputs: capture records in the shape of ``tests/synth.py`` (sync rows
with random-walk positions, interaction rows, draw rows that sometimes
omit ``strokeType``) and request rows for the three dispatch functions.

Everything is a pure function of its ``seed`` argument.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
PART_WORDS = (
    ["red", "blue", "small", "large", "hot", "cold", "old", "new"],
    ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"],
)
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS, LANG_P = ["en", "de", "es", "fr", "zh"], [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

I32, I64, F64, STR = pa.int32(), pa.int64(), pa.float64(), pa.string()
TS = pa.timestamp("us")


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi_d - lo_d).astype(int))
    return (lo_d + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _write(out_dir: str, name: str, cols: dict, types: dict) -> None:
    schema = pa.schema([(c, types[c]) for c in cols])
    table = pa.Table.from_pydict(
        {c: (v.tolist() if isinstance(v, np.ndarray) and v.dtype == object else v)
         for c, v in cols.items()},
        schema=schema,
    )
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n: int) -> list[str]:
    vocab = np.array(VOCAB)
    texts = [" ".join(rng.choice(vocab, size=k)) for k in rng.integers(10, 101, n)]
    for i in rng.choice(np.arange(1, n), size=n // 20, replace=False):
        words = texts[int(rng.integers(0, i))].split()
        k = min(len(words), int(rng.integers(1, 4)))
        for j in rng.choice(len(words), size=k, replace=False):
            words[j] = "dup"
        texts[i] = " ".join(words)
    for i in rng.choice(np.arange(1, n), size=max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return texts


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten tables at scale ``sf``; returns rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev, n_users = int(1_500_000 * sf), int(1_000_000 * sf), int(15_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_li = 4 * n_ord

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS,
    }, {"r_regionkey": I32, "r_name": STR})
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": np.arange(25, dtype=np.int32) % 5,
    }, {"n_nationkey": I32, "n_name": STR, "n_regionkey": I32})

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
    }, {"c_custkey": I64, "c_name": STR, "c_nationkey": I32,
        "c_acctbal": F64, "c_mktsegment": STR})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    }, {"s_suppkey": I64, "s_name": STR, "s_nationkey": I32, "s_acctbal": F64})
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_WORDS[0], n_part),
                                              rng.choice(PART_WORDS[1], n_part))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part).tolist(),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
    }, {"p_partkey": I64, "p_name": STR, "p_brand": STR, "p_type": STR,
        "p_size": I32, "p_retailprice": F64})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord).tolist(),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
    }, {"o_orderkey": I64, "o_custkey": I64, "o_orderstatus": STR,
        "o_totalprice": F64, "o_orderdate": TS, "o_orderpriority": STR})
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105_000, n_li),
        "l_discount": money(0, 0.1, n_li),
        "l_tax": money(0, 0.08, n_li),
        "l_returnflag": rng.choice(["R", "A", "N"], n_li).tolist(),
        "l_linestatus": rng.choice(["O", "F"], n_li).tolist(),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    }, {"l_orderkey": I64, "l_partkey": I64, "l_suppkey": I64,
        "l_linenumber": I32, "l_quantity": F64, "l_extendedprice": F64,
        "l_discount": F64, "l_tax": F64, "l_returnflag": STR,
        "l_linestatus": STR, "l_shipdate": TS})
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(t0, t0 + 30 * 86_400_000_000, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    }, {"event_id": I64, "ts": TS, "user_id": I64, "event_type": STR,
        "value": F64, "props": STR})
    texts = _documents(rng, n_docs)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P).tolist(),
        "source": [f"src{k % 20}" for k in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }, {"doc_id": I64, "text": STR, "lang": STR, "source": STR, "n_chars": I64})
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    }, {"vec_id": I64, "embedding": pa.list_(pa.float32()), "label": I32})
    return {"customer": n_cust, "supplier": n_supp, "part": n_part,
            "orders": n_ord, "lineitem": n_li, "events": n_ev,
            "documents": n_docs, "embeddings": n_emb}


# --------------------------------------------------------------------------
# serve lifecycle inputs
# --------------------------------------------------------------------------

CLIENTS = (1, 2, 5)
FUNCTIONS = ("aggregate_interaction_type", "aggregate_user", "user_energy")


def capture_batch(seed: int, session_id: int, start_ms: int,
                  ticks: int) -> pd.DataFrame:
    """One capture's records: every client syncs every 50 ms tick, with
    interaction (25%) and draw (15%) rows mixed in, as in tests/synth.py."""
    rng = np.random.default_rng([seed, session_id])
    n = ticks * len(CLIENTS)
    slot = np.arange(n)
    client = np.tile(np.array(CLIENTS), ticks).tolist()
    entity = (slot // len(CLIENTS) % 4).tolist()
    pos = np.cumsum(rng.uniform(-0.05, 0.05, (n, 3)), axis=0) + rng.uniform(-2, 2, (1, 3))
    x, y, z = (np.round(pos[:, k], 6).tolist() for k in range(3))
    inter = rng.integers(0, 4, (n, 3)).tolist()
    stroke = rng.integers(0, 6, n).tolist()
    stroke_t = np.where(rng.random(n) < 0.7, rng.integers(0, 3, n), -1).tolist()
    has_inter = np.flatnonzero(rng.random(n) < 0.25)
    has_draw = np.flatnonzero(rng.random(n) < 0.15)
    parts = [
        (slot, 0, "sync", [
            f'{{"clientId": {client[i]}, "entityType": {entity[i]}, '
            f'"pos": {{"x": {x[i]}, "y": {y[i]}, "z": {z[i]}}}}}' for i in range(n)]),
        (has_inter, 1, "interaction", [
            f'{{"clientId": {client[i]}, "interactionType": {inter[i][0]}, '
            f'"sourceEntityId": {inter[i][1]}, "targetEntityId": {inter[i][2]}}}'
            for i in has_inter.tolist()]),
        (has_draw, 2, "draw", [
            f'{{"clientId": {client[i]}, "strokeId": {stroke[i]}'
            + (f', "strokeType": {stroke_t[i]}}}' if stroke_t[i] >= 0 else "}")
            for i in has_draw.tolist()]),
    ]
    df = pd.concat([pd.DataFrame({"slot": idx, "kind": k, "type": t, "message": m})
                    for idx, k, t, m in parts], ignore_index=True)
    df = df.sort_values(["slot", "kind"], kind="stable", ignore_index=True)
    m = len(df)
    return pd.DataFrame({
        "capture_id": f"{session_id}_{start_ms}",
        "session_id": np.full(m, session_id, dtype=np.int32),
        "client_id": np.array(CLIENTS, dtype=np.int32)[df["slot"].to_numpy() % len(CLIENTS)],
        "type": df["type"].to_numpy(),
        "ts": start_ms + 50 * (df["slot"].to_numpy() // len(CLIENTS)).astype(np.int64),
        "seq": np.arange(m, dtype=np.int64),
        "message": df["message"].to_numpy(),
    })


def request_batch(seed: int, first_id: int, n: int, sessions: list[int],
                  invalid: str | None = None) -> list[dict]:
    """``n`` request rows with ids from ``first_id`` over ``sessions``, the
    three dispatch functions taking turns. With ``invalid`` the last row is
    one the dispatcher must reject: ``"unknown"`` names an unknown
    function, ``"null"`` sends its checked parameter as JSON null."""
    rng = np.random.default_rng([seed, first_id])
    out = []
    for k in range(n):
        fn = FUNCTIONS[k % len(FUNCTIONS)]
        msg = {"sessionId": int(rng.choice(sessions)),
               "clientId": int(rng.choice(CLIENTS)),
               "interactionType": int(rng.integers(0, 4)),
               "entityType": int(rng.integers(0, 4))}
        if invalid and k == n - 1:
            if invalid == "unknown":
                fn = "unknown_function"
            else:
                msg[{"aggregate_interaction_type": "interactionType",
                     "aggregate_user": "clientId",
                     "user_energy": "entityType"}[fn]] = None
        out.append({
            "request_id": first_id + k, "processed_capture_id": None,
            "who_requested": 1, "aggregation_function": fn,
            "is_it_fulfilled": 0, "url": None,
            "message": json.dumps(msg), "file_location": None,
        })
    return out
