"""The ``serve`` lifecycle: the reference daemon driven as a closed loop.

One client repeats a cycle: it renames a new batch of pre-generated
capture files into ``{captures}/{session}/{capture}/data``, renames one
request JSON-lines file into the request queue, and runs one iteration of
``python -m komodo_data_spark serve --available-now`` in process, through
``komodo_data_spark.__main__.main``. The data table grows every cycle;
requests name sessions from this cycle and earlier ones. One untimed
cycle (one capture, a full request batch) warms the loop first.

Latencies are read from outside the package: a capture's is the time from
its rename to the modification time of the sink's ``_spark_metadata``
entry for the micro-batch that read it; a request's is the time from its
file's rename to its CSV's modification time. Outputs are checked after
the timed region against DuckDB over the generated capture rows, using
the SQL shapes of ``tests/test_analytics.py``.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import sys
import time
import urllib.parse
from collections import Counter

import pandas as pd

import datagen
import harness
import tracing

CAPTURES_PER_CYCLE = 3
TICKS = 20_000  # ~84k rows per capture, ~250k per cycle
REQUESTS_PER_CYCLE = 12
BASE_MS = 1_630_443_513_898

CSV_PREFIX = {"aggregate_interaction_type": "aggregate_interaction",
              "aggregate_user": "aggregate_user", "user_energy": "user_energy"}
_VALID_PARAMS = {"aggregate_interaction_type": ("sessionId", "interactionType"),
                 "aggregate_user": ("clientId", "sessionId"),
                 "user_energy": ("entityType", "clientId")}


def is_valid(req: dict) -> bool:
    """Whether the dispatcher must fulfil ``req`` (known function, no
    JSON-null parameter among the ones it checks)."""
    params = json.loads(req["message"])
    need = _VALID_PARAMS.get(req["aggregation_function"])
    return need is not None and all(params.get(p) is not None for p in need)


def csv_path(out_dir: str, req: dict) -> str:
    prefix = CSV_PREFIX.get(req["aggregation_function"], req["aggregation_function"])
    return os.path.join(out_dir, f"{prefix}_req{req['request_id']}.csv")


class Loop:
    """Directories, generated inputs and per-cycle records of one run."""

    def __init__(self, work: str, seed: int) -> None:
        self.seed = seed
        self.dirs = {k: os.path.join(work, "serve", k)
                     for k in ("captures", "requests", "data", "out", "state", "staging")}
        for d in self.dirs.values():
            os.makedirs(d, exist_ok=True)
        self.captures: dict[int, pd.DataFrame] = {}
        self.capture_files: dict[str, float] = {}  # path -> renamed at
        self.requests: list[dict] = []
        self.seen_batches: set[int] = set()
        self.cycles = 0

    def argv(self) -> list[str]:
        d = self.dirs
        return ["serve", "--available-now", "--cores", str(harness.CORES),
                "--captures-dir", d["captures"], "--requests-dir", d["requests"],
                "--data-path", d["data"], "--out-dir", d["out"],
                "--state-dir", d["state"]]

    def stage(self, n_captures: int, ticks: int, n_requests: int, invalid: str | None):
        """Generate and stage one cycle's inputs (untimed)."""
        staged = []
        for _ in range(n_captures):
            sid = 100 + len(self.captures)
            start = BASE_MS + sid * 10_000_000
            rows = datagen.capture_batch(self.seed, sid, start, ticks)
            self.captures[sid] = rows
            tmp = os.path.join(self.dirs["staging"], f"{sid}.jsonl")
            rows.to_json(tmp, orient="records", lines=True)
            dest = os.path.join(self.dirs["captures"], str(sid), f"{sid}_{start}", "data")
            os.makedirs(os.path.dirname(dest))
            staged.append((sid, tmp, dest, os.path.getsize(tmp), len(rows)))
        reqs = datagen.request_batch(self.seed, len(self.requests) + 1, n_requests,
                                     sorted(self.captures), invalid)
        tmp = os.path.join(self.dirs["staging"], f"requests{self.cycles}.json")
        with open(tmp, "w") as fh:
            fh.writelines(json.dumps(r) + "\n" for r in reqs)
        return staged, reqs, tmp

    def drop(self, staged, reqs, req_tmp) -> float:
        """Rename the staged inputs into the watched directories; returns
        when the request file landed."""
        for _, tmp, dest, _, _ in staged:
            os.rename(tmp, dest)
            self.capture_files[os.path.realpath(dest)] = time.time()
        dest = os.path.join(self.dirs["requests"], f"requests{self.cycles}.json")
        os.rename(req_tmp, dest)
        at = time.time()
        self.requests.extend(reqs)
        self.cycles += 1
        return at

    def capture_latencies(self) -> list[float]:
        """Seconds from rename to sink commit, for batches committed since
        the last call."""
        sources = os.path.join(self.dirs["state"], "ckpt_ingest", "sources", "0")
        meta = os.path.join(self.dirs["data"], "_spark_metadata")
        out = []
        for name in sorted(os.listdir(sources)):
            if name.startswith("."):
                continue
            batch = int(name.split(".")[0])
            if batch in self.seen_batches:
                continue
            self.seen_batches.add(batch)
            commit = os.path.join(meta, name)
            if not os.path.exists(commit):
                continue
            committed = os.path.getmtime(commit)
            with open(os.path.join(sources, name)) as fh:
                for line in fh.read().splitlines()[1:]:
                    entry = json.loads(line)
                    # a compacted log entry also lists every earlier batch
                    if entry["batchId"] != batch:
                        continue
                    path = urllib.parse.unquote(urllib.parse.urlparse(entry["path"]).path)
                    renamed = self.capture_files.get(os.path.realpath(path))
                    if renamed is not None:
                        out.append(committed - renamed)
        return out


def warm_up(work: str):
    path = os.path.join(work, "warmup.parquet")

    def run(spark) -> None:
        spark.range(0, 1000).selectExpr("id", "cast(id as string) s") \
            .write.mode("overwrite").parquet(path)
        spark.read.parquet(path).toPandas()

    return run


def run(workload: str, seed: int, seconds: float, traced: bool, work: str,
        ticks: int = TICKS, captures: int = CAPTURES_PER_CYCLE,
        requests: int = REQUESTS_PER_CYCLE, corrupt=None) -> dict:
    """``corrupt(loop)``, if given, runs after the loop and before the
    checks (the smoke test uses it to damage an output)."""
    spark, cold, restarts = harness.timed_setups(workload, work, warm_up(work))
    try:
        loop = Loop(work, seed)
        result = _measure(spark, loop, seconds, traced, ticks, captures, requests)
    finally:
        harness.shutdown(spark)
    if corrupt is not None:
        corrupt(loop)
    checks = check(loop)
    result["attempted"] = checks["attempted"]
    result["failed"] = checks["failed"]
    result["failures"] = checks["failures"]
    harness.record_setups(result, cold, restarts)
    return result


def _serve(loop: Loop) -> float:
    from komodo_data_spark.__main__ import main

    t0 = time.perf_counter()
    with contextlib.redirect_stdout(sys.stderr):
        rc = main(loop.argv())
    if rc != 0:
        raise RuntimeError(f"serve exited with {rc}")
    return time.perf_counter() - t0


class _Awaited:
    """A streaming query whose ``awaitTermination`` also calls ``done``."""

    def __init__(self, query, done) -> None:
        self._query, self._done = query, done

    def awaitTermination(self, *args):
        out = self._query.awaitTermination(*args)
        self._done(self._query)
        return out

    def __getattr__(self, name):
        return getattr(self._query, name)


def _cycle_probes(counters, rec: Counter, marks: dict):
    """Wrappers for the ingest and dispatch seams of one traced cycle."""
    from komodo_data_spark.streaming import dispatch, ingest

    def around_stream(original, key):
        def start(*args, **kwargs):
            t0 = time.perf_counter()
            marks[key] = [counters.mark()]

            def done(query):
                rec[f"{key}.s"] += time.perf_counter() - t0
                marks[key].append(counters.mark())
                if key == "ingest":
                    for p in query.recentProgress:
                        rec["ingest.rows"] += p["numInputRows"]
                        d = p["durationMs"]
                        rec["ingest.add_batch_s"] += d.get("addBatch", 0) / 1e3
                        rec["ingest.planning_s"] += d.get("queryPlanning", 0) / 1e3
                        rec["ingest.wal_commit_s"] += d.get("walCommit", 0) / 1e3

            return _Awaited(original(*args, **kwargs), done)

        return start

    original_afd = dispatch.aggregation_file_download

    def aggregation_file_download(spark, requests, data, out_dir, on_fulfilled=None, **kw):
        if on_fulfilled is not None:
            inner = on_fulfilled

            def on_fulfilled(rid, path):
                t0 = time.perf_counter()
                try:
                    inner(rid, path)
                finally:
                    rec["control.fulfill_s"] += time.perf_counter() - t0

        done = original_afd(spark, requests, data, out_dir, on_fulfilled=on_fulfilled, **kw)
        rec["dispatch.fulfilled"] += len(done)
        return done

    original_export = dispatch.export_csv

    def export_csv(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return original_export(*args, **kwargs)
        finally:
            rec["dispatch.export_s"] += time.perf_counter() - t0

    return tracing.patch(
        (ingest, "start_capture_stream", around_stream(ingest.start_capture_stream, "ingest")),
        (dispatch, "start_request_stream", around_stream(dispatch.start_request_stream, "dispatch")),
        (dispatch, "aggregation_file_download", aggregation_file_download),
        (dispatch, "export_csv", export_csv),
    )


def _data_table(loop: Loop) -> tuple[int, int]:
    files = size = 0
    for dirpath, dirnames, filenames in os.walk(loop.dirs["data"]):
        dirnames[:] = [d for d in dirnames if not d.startswith("_")]
        for f in filenames:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return files, size


def _measure(spark, loop: Loop, seconds, traced, ticks, n_captures, n_requests) -> dict:
    rss = harness.PeakRss()
    counters = tracing.SparkCounters(spark) if traced else None
    # warm-up cycle: one full-size capture and a full request batch, untimed
    # and checked with the rest
    loop.drop(*loop.stage(1, ticks, n_requests, "null"))
    _serve(loop)
    loop.capture_latencies()
    rss.sample()

    cycles = []  # (traced, wall, rows, request latencies, layers)
    capture_lat: list[float] = []
    input_bytes = sum(os.path.getsize(p) for p in loop.capture_files)
    host_pre = harness.host_sample()
    start = time.perf_counter()
    while len(cycles) < 1 + traced or time.perf_counter() - start < seconds:
        traced_cycle = traced and len(cycles) % 2 == 1
        # the last request of each cycle is invalid, alternately an unknown
        # function and a JSON-null parameter: one request in twelve
        staged, reqs, req_tmp = loop.stage(n_captures, ticks, n_requests,
                                           ("unknown", "null")[len(cycles) % 2])
        rows = sum(s[4] for s in staged)
        input_bytes += sum(s[3] for s in staged)
        at = loop.drop(staged, reqs, req_tmp)
        rec: Counter = Counter()
        if traced_cycle:
            marks: dict = {}
            m0 = counters.mark()
            with _cycle_probes(counters, rec, marks):
                wall = _serve(loop)
            rec.update(counters.read(m0, counters.mark()))
            dispatch = counters.read(*marks["dispatch"]) if "dispatch" in marks else Counter()
            rec["dispatch.requests"] = len(reqs)
            rec["dispatch.rejected"] = len(reqs) - rec["dispatch.fulfilled"]
            rec["dispatch.input_bytes_per_request"] = dispatch["input_bytes"] / max(1, len(reqs))
            rec["ingest.input_bytes"] = sum(s[3] for s in staged)
            files, size = _data_table(loop)
            rec["data_table.files"] = files
            rec["data_table.bytes_per_input_byte"] = size / input_bytes
        else:
            wall = _serve(loop)
        end = time.time()
        lat = []
        for r in reqs:
            if not is_valid(r):
                continue
            p = csv_path(loop.dirs["out"], r)
            # a request that was not served counts as waiting the whole cycle
            lat.append((os.path.getmtime(p) if os.path.exists(p) else end) - at)
        capture_lat.extend(loop.capture_latencies())
        cycles.append((traced_cycle, wall, rows, lat, rec))
        rss.sample()
    host = harness.host_report(host_pre, harness.host_sample())

    untraced = [c for c in cycles if not c[0]]
    req_lat = [v for c in untraced for v in c[3]]
    serve_wall = sum(c[1] for c in untraced)
    p90 = harness.percentile(req_lat, 90)
    result = {
        "e2e": {
            "op_p50_s": harness.median(req_lat),
            "pass_s": harness.median([c[1] for c in untraced]),
        },
        "host": host,
        "detail": {
            "cycles": len(cycles), "request_samples": len(req_lat), "op_p90_s": p90,
            "capture_samples": len(capture_lat),
            "capture_latency_p50_s": harness.median(capture_lat),
            "capture_rows_per_s": sum(c[2] for c in untraced) / serve_wall,
            "cycle_walls_s": [c[1] for c in cycles],
        },
    }
    if traced:
        traced_cycles = [c for c in cycles if c[0]]
        layers = tracing.layer_medians([(c[1], c[4]) for c in traced_cycles],
                                       [c[1] for c in untraced])
        layers["ingest.capture_latency_p50_s"] = harness.median(capture_lat)
        layers["ingest.rows_per_s"] = harness.median([c[2] / c[1] for c in traced_cycles])
        layers["memory.peak_rss_mb"] = rss.mb
        layers["latency.op_p90_s"] = p90
        result["layers"] = layers
    return result


# --------------------------------------------------------------------------
# output checks (outside the timed region)
# --------------------------------------------------------------------------

def _jx(path: str) -> str:
    return f"CAST(json_extract_string(message,'{path}') AS DOUBLE)"


def expected_sql(req: dict) -> str:
    """DuckDB SQL for a valid request, in the shapes of tests/test_analytics.py."""
    p = json.loads(req["message"])
    fn, s = req["aggregation_function"], p["sessionId"]
    if fn == "aggregate_interaction_type":
        return f"""SELECT client_id, count(message) AS interaction_count FROM data
            WHERE {_jx('$.interactionType')} = {p['interactionType']} AND session_id = {s}
            GROUP BY client_id"""
    if fn == "aggregate_user":
        return f"""SELECT replace(replace(replace(replace(entity_type,'0','head'),
                   '1','left_hand'),'2','right_hand'),'3','spawned_entity') AS entity_type,
                   user_count
            FROM (SELECT json_extract_string(message,'$.entityType') AS entity_type,
                         count(*) AS user_count FROM data
                  WHERE {_jx('$.clientId')} = {p['clientId']} AND session_id = {s}
                    AND type = 'sync' GROUP BY 1)"""
    w = "OVER (ORDER BY seq)"
    lag = " + ".join(f"POWER({_jx(c)} - LAG({_jx(c)},1) {w},2)"
                     for c in ("$.pos.x", "$.pos.y", "$.pos.z"))
    return f"""SELECT client_id, session_id, timestamp, entity_type, energy FROM (
            SELECT client_id, session_id, ts AS timestamp,
                   json_extract_string(message,'$.entityType') AS entity_type,
                   SQRT({lag}) / (ts - LAG(ts,1) {w}) AS energy
            FROM data WHERE {_jx('$.clientId')} = {p['clientId']} AND session_id = {s}
              AND type = 'sync')
        WHERE energy IS NOT NULL AND CAST(entity_type AS DOUBLE) = {p['entityType']}"""


def frames_equal(got: pd.DataFrame, exp: pd.DataFrame) -> bool:
    """Order-insensitive equality; numbers compared to 1e-9 relative."""
    if list(got.columns) != list(exp.columns) or len(got) != len(exp):
        return False

    def rows(df):
        cols = [df[c].tolist() for c in df.columns]
        keyed = []
        for row in zip(*cols):
            key = tuple(round(v, 6) if isinstance(v, float) else str(v) for v in row)
            keyed.append((key, row))
        return [r for _, r in sorted(keyed, key=lambda kr: kr[0])]

    for a, b in zip(rows(got), rows(exp)):
        for x, y in zip(a, b):
            if isinstance(x, (int, float)) and isinstance(y, (int, float)):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-12):
                    return False
            elif str(x) != str(y):
                return False
    return True


def check(loop: Loop) -> dict:
    """Every capture fully in ``data``; every valid request's CSV equal to
    DuckDB's answer; no CSV for a request the dispatcher must reject."""
    import duckdb

    con = duckdb.connect()
    failures: list[str] = []
    try:
        landed = dict(con.execute(
            "SELECT session_id, count(*) FROM read_parquet(?, hive_partitioning=true) "
            "GROUP BY 1", [os.path.join(loop.dirs["data"], "session_id=*", "*.parquet")]
        ).fetchall()) if os.path.isdir(loop.dirs["data"]) else {}
        for sid, rows in loop.captures.items():
            if landed.get(sid, 0) != len(rows):
                failures.append(f"capture {sid}: {landed.get(sid, 0)} of {len(rows)} rows")
        for req in loop.requests:
            name = f"request {req['request_id']} ({req['aggregation_function']})"
            path = csv_path(loop.dirs["out"], req)
            if not is_valid(req):
                if os.path.exists(path):
                    failures.append(f"{name}: invalid request was fulfilled")
                continue
            if not os.path.exists(path):
                failures.append(f"{name}: not fulfilled")
                continue
            try:
                got = pd.read_csv(path)
            except (ValueError, pd.errors.ParserError) as exc:
                failures.append(f"{name}: unreadable CSV ({exc})")
                continue
            # every expected query filters one session: give DuckDB just its rows
            con.register("data", loop.captures[json.loads(req["message"])["sessionId"]])
            if not frames_equal(got, con.execute(expected_sql(req)).fetchdf()):
                failures.append(f"{name}: CSV differs from DuckDB")
    finally:
        con.close()
    return {"attempted": len(loop.captures) + len(loop.requests),
            "failed": len(failures), "failures": failures}
