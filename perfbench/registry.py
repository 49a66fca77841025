"""The registry workload: a fixed query panel run as repeated passes.

A pass runs every query of the panel once, in an order drawn
from the seed, as ``fn(spark, sf_dir)`` followed by ``.count()``. Before a
pass the model memo is cleared, so each pass pays every shared fit
exactly once; after each query the cache is cleared, so no query is
billed for, or sped up by, another's storage. Two untimed passes warm the
JIT; timed passes then repeat until the run's seconds are spent, and each
query's latency is its median over them. Outputs are checked after the
timed region: each query's count in every pass must equal the DuckDB count
of its oracle SQL over the same parquet files.

The panel joins a fixed subset of each half of the registry, chosen so
that one pass takes about 4 s at sf0.1 on 4 cores while keeping each
half's mix of build-heavy and action-heavy queries (see README.md). Traced
runs also report the operator and memo layers of each half apart.
"""

from __future__ import annotations

import os
import random
import time
from collections import Counter

import harness
import tracing

#: Registry packs of the LLM-data half; every other pack is the SQL half.
LLM_PACKS = frozenset({"dedup", "text_analysis", "similarity", "pipeline_ops",
                       "multimodal_ops", "graph_ops", "corpus", "retrieval"})

HALVES = {
    # LLM data: a shared fit (emb_lsh_pairs) paid at build time, a
    # Python-UDF query, hashing and shingling
    "llm": (
        "dedup_embedding_lsh", "dedup_exact",
        "docs_chunk_windows", "text_quality_scores",
    ),
    # SQL: short multi-job plans, no shared fits
    "sql": (
        "q1_pricing_summary", "q13_customer_order_histogram",
        "top_customers_per_nation", "events_hourly_rollup", "user_activity",
        "retention_cohorts",
    ),
}
PANEL = HALVES["llm"] + HALVES["sql"]
#: Per-half layer metrics in the traced report.
HALF_LAYERS = ("operators.build_s", "operators.action_s", "operators.build_jobs",
               "operators.action_jobs", "model_memo.fits")

SF = 0.1
#: The tables are the same in every run, those of the package's test scale
#: directories (see datagen.py); the run's seed draws the query order.
TABLE_SEED = 42
WARM_PASSES = 2


def registry_halves() -> dict[str, list[str]]:
    """Every registered query name, split by the pack that registers it."""
    import __spark_entry__ as entry

    halves: dict[str, list[str]] = {"llm": [], "sql": []}
    for name, fn in entry.queries().items():
        pack = fn.__module__.rsplit(".", 1)[-1]
        halves["llm" if pack in LLM_PACKS else "sql"].append(name)
    return halves


def warm_up(sf_dir: str):
    """Session set-up work: the first scan of the largest table."""
    def run(spark) -> None:
        from komodo_data_spark.sources.tables import load_table

        load_table(spark, sf_dir, "lineitem").count()

    return run


class _Pass:
    def __init__(self) -> None:
        self.wall = 0.0
        self.cpu = 0.0
        self.layers: Counter = Counter()
        self.halves: dict[str, Counter] = {h: Counter() for h in HALVES}


def _run_query(spark, fn, name, sf_dir, counters):
    """One query; returns (latency s, count or None, error or None, layers).
    With ``counters`` the build (until ``fn`` returns) and the action are
    timed and counted apart, and Catalyst phases and plan stats are read
    from the action's query after it ran."""
    layers: Counter = Counter()
    if counters is None:
        t0 = time.perf_counter()
        try:
            n = fn(spark, sf_dir).count()
        except Exception as exc:  # noqa: BLE001 - a failing query is a counted failure
            return time.perf_counter() - t0, None, repr(exc), layers
        return time.perf_counter() - t0, n, None, layers

    from komodo_data_spark.plans.audit import plan_stats

    m0 = counters.mark()
    t0 = time.perf_counter()
    try:
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        m1 = counters.mark()
        # the query ``df.count()`` runs, kept so its phases and final plan
        # can be read after it ran
        counted = df.groupBy().count()
        n = counted.collect()[0][0]
        t2 = time.perf_counter()
    except Exception as exc:  # noqa: BLE001
        return time.perf_counter() - t0, None, repr(exc), layers
    m2 = counters.mark()
    opt_s, plan_s, plan = tracing.catalyst(counted)
    build, action = counters.read(m0, m1), counters.read(m1, m2)
    layers.update(build)
    layers.update(action)
    layers["operators.build_s"] = t1 - t0
    layers["operators.action_s"] = t2 - t1
    layers["operators.build_jobs"] = build["scheduler.jobs"]
    layers["operators.action_jobs"] = action["scheduler.jobs"]
    layers["catalyst.optimize_s"] = opt_s
    layers["catalyst.plan_s"] = plan_s
    layers["plans.exchanges"] = tracing.shuffle_exchanges(plan)
    layers["plans.python_stages"] = plan_stats(plan)["python_stages"]
    return t2 - t0, n, None, layers


def run(workload: str, seed: int, seconds: float, traced: bool, work: str,
        sf: float = SF, panel: tuple[str, ...] | None = None) -> dict:
    import datagen

    sf_dir = os.path.join(work, f"sf{sf}")
    datagen.write_tables(sf_dir, sf, TABLE_SEED)
    spark, cold, restarts = harness.timed_setups(workload, work, warm_up(sf_dir))
    try:
        result = _measure(spark, seed, seconds, traced, sf_dir, panel or PANEL)
    finally:
        harness.shutdown(spark)
    harness.record_setups(result, cold, restarts)
    return result


def _measure(spark, seed, seconds, traced, sf_dir, panel) -> dict:
    import __spark_entry__ as entry
    from komodo_data_spark.operators import model_memo

    queries = entry.queries()
    rng = random.Random(seed)
    rss = harness.PeakRss()
    memo = tracing.MemoProbe()
    counters = tracing.SparkCounters(spark) if traced else None
    samples: dict[str, list[float]] = {q: [] for q in panel}
    counts: dict[str, list[int | None]] = {q: [] for q in panel}
    errors: dict[str, str] = {}
    half_of = {q: h for h, qs in registry_halves().items() for q in qs}

    def one_pass(traced_pass: bool) -> _Pass:
        order = list(panel)
        rng.shuffle(order)
        model_memo._MEMO.clear()
        p = _Pass()
        c0 = harness.tree_cpu_s()
        t0 = time.perf_counter()
        for name in order:
            memo.current = name
            fits0, hits0, fit_s0 = memo.fits, memo.hits, memo.fit_s
            lat, n, err, layers = _run_query(
                spark, queries[name], name, sf_dir, counters if traced_pass else None)
            spark.catalog.clearCache()
            samples[name].append(lat)
            counts[name].append(n)
            if err:
                errors.setdefault(name, err)
            layers["model_memo.fits"] = memo.fits - fits0
            layers["model_memo.hits"] = memo.hits - hits0
            layers["model_memo.fit_s"] = memo.fit_s - fit_s0
            p.layers.update(layers)
            p.halves[half_of[name]].update(layers)
            rss.sample()
        p.wall = time.perf_counter() - t0
        p.cpu = harness.tree_cpu_s() - c0
        return p

    passes: list[tuple[bool, _Pass]] = []
    with tracing.patch((model_memo, "session_model", memo.wrap(model_memo.session_model))):
        # untimed passes warm the JIT and code caches: the first pass takes
        # about twice as long as later ones, and after only one warm pass
        # the next is still ~10% slower than the ones after it, so the
        # number of timed passes a run fits would move the medians. Their
        # outputs are checked with the rest
        for _ in range(WARM_PASSES):
            one_pass(False)
        warm = {q: len(v) for q, v in samples.items()}
        host_pre = harness.host_sample()
        start = time.perf_counter()
        while len(passes) < 1 + traced or time.perf_counter() - start < seconds:
            # traced runs alternate untraced and traced passes, so the
            # tracing overhead is measured in the same run
            traced_pass = traced and len(passes) % 2 == 1
            passes.append((traced_pass, one_pass(traced_pass)))
    host = harness.host_report(host_pre, harness.host_sample())

    failed, mismatches = _check(sf_dir, counts, errors)
    # latencies of the timed untraced passes; a pass is the sum of each
    # query's median over them
    untraced = [i for i, (t, _) in enumerate(passes) if not t]
    timed = {q: [v[warm[q] + i] for i in untraced] for q, v in samples.items()}
    per_query = {q: harness.median(v) for q, v in timed.items()}
    pooled = [x for v in timed.values() for x in v]
    p90 = harness.percentile(pooled, 90)
    result = {
        "attempted": sum(len(v) for v in counts.values()),
        "failed": failed,
        "failures": sorted(set(errors) | set(mismatches)),
        "errors": errors,
        "e2e": {
            "op_p50_s": harness.median(pooled),
            "pass_s": sum(per_query.values()),
        },
        "host": host,
        "detail": {
            "panel": len(panel), "passes": len(passes), "samples": len(pooled),
            "op_p90_s": p90,
            "pass_walls_s": [p.wall for _, p in passes],
            "pass_cpu_s": [p.cpu for _, p in passes],
            "query_samples_s": timed,
            "query_median_s": per_query,
            "fit_payers": memo.payers,
        },
    }
    if traced:
        traced_passes = [p for t, p in passes if t]
        result["layers"] = tracing.layer_medians(
            [(p.wall, p.layers) for p in traced_passes], [passes[i][1].wall for i in untraced])
        result["detail"]["halves"] = {
            h: {k: harness.median([p.halves[h][k] for p in traced_passes]) for k in HALF_LAYERS}
            for h in HALVES}
        result["layers"]["memory.peak_rss_mb"] = rss.mb
        result["layers"]["latency.op_p90_s"] = p90
    return result


def _check(sf_dir, counts, errors) -> tuple[int, set[str]]:
    """Failed executions: raised, or count differs from the DuckDB oracle."""
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(sf_dir, f)
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
        failed, mismatches = 0, set()
        for name, got in counts.items():
            expect = None
            if name in oracles:
                expect = con.execute(f"SELECT count(*) FROM ({oracles[name]})").fetchone()[0]
            for n in got:
                if n is None or (expect is not None and n != expect):
                    failed += 1
                    if n is not None:
                        mismatches.add(name)
                        errors.setdefault(name, f"count {n} != oracle {expect}")
        return failed, mismatches
    finally:
        con.close()
