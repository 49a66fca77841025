"""Benchmark harness: runs every registered query and prints ONE JSON line.

Usage: ``python bench.py``. Env: ``SPARK_GRAFT_SF_DIR`` (default: the
sf0.1 test scale directory) and ``SPARK_GRAFT_CPUS`` (default: the cores
this process may run on).

Each query is executed once as a full action (count of the result, which
forces every exchange/agg/window in the plan). Warm-up before timing covers
(a) parquet footers, (b) the Arrow/pandas worker pool, and (c) whole-stage
codegen for the heavy shared expression trees (MinHash/SimHash/shingles) by
running the worst offenders once at sf0.001 — this removes the bulk of
first-run JIT (dedup_clusters 10 s -> ~4 s). A/B measurement showed warming
at the full bench sf instead moves per-query numbers by less than the
±10% run-to-run variance while doubling the heavy queries' wall time, so
the cheap warm-up is the right trade; residual scale-specific JIT in a
query's first timed run is noise-level.

The final line is kept compact (< ~1500 chars: totals + top-10 slowest) so
it survives the driver's output-tail truncation; the full per-query timing
map is written to ``BENCH_DETAIL.json`` at the repo root.

Per-query caveat (r13, round-12 verdict note): shared fits are session-
memoized, so each family's fit is billed to whichever consumer runs
FIRST in registry order — per-query numbers are payer-order-dependent
across rounds when _PRIORITY rotates; totals and job-time sums are the
stable comparands.

Host-contention policy: the rig is a multi-tenant guest (BASELINE.md
"Round-9→10 bench-envelope triage"), so each timed pass records steal%%
and loadavg; a contaminated pass (steal_pct >= 1.0) is retried once after
``SPARK_GRAFT_CONTAM_BACKOFF_S`` (default 120 s), and if both attempts
are contaminated the artifact carries ``headline_valid: false`` — a
flagged total is an upper bound, never a headline.
"""

from __future__ import annotations

import json
import os
import sys
import time

#: Queries whose one-time codegen/JIT dominates first-run wall time
#: (measured iter0 ≈ 1.5-3× iter1 at sf0.1); each is run once un-timed at
#: WARMUP_SF_DIR so the timed pass reflects steady state.
WARMUP_SF_DIR = "/root/testdata/sf0.001"
WARMUP_QUERIES = (
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_pairs_capped",
    "dedup_clusters",
    "dedup_clusters_star",
    "dedup_clusters_best_keeper",
    "graph_components",
    "customers_fuzzy_name_pairs",
    "dedup_source_overlap",
    "dedup_substring_spans",
    "dedup_semantic",
    "corpus_prepare",
    # scalar-subquery + sequence-explode + decimal agg: ~3s of one-time
    # codegen vs ~1s steady state (measured 4.3 / 1.2 / 1.0 s at sf0.1)
    "lineitem_price_tiers_bucketed",
    # higher-order transform/filter weight expressions: ~2s one-time
    # codegen (measured 7.7 cold / 4.5 codegen-warm at sf0.1)
    "text_tfidf_cosine_pairs",
    # composes BOTH heavy detector pipelines (exact + LSH) plus its own
    # join codegen on top
    "dedup_minhash_recall",
    # r10: the batched BPE fit (8 fixed rounds — scale-independent class
    # identity, so the cheap-sf warm-up covers the timed run) and the
    # trigram-KN model+score joins
    "text_bpe_merges_batched",
    "text_kneser_ney3_logprob",
)

#: Iterative queries whose ROUND COUNT grows with scale: a sf0.001 warm-up
#: leaves the later rounds' generated classes cold (round-3 finding:
#: generated-class identity follows the physical plan), so these warm at
#: the bench sf itself. Kept short — each costs one untimed full run.
WARMUP_AT_BENCH_SF = (
    "graph_components",
    "dedup_clusters_star",
)


def _host_sample() -> dict:
    """One host-contention sample (round-10 verdict ask #7): cumulative
    steal jiffies + total jiffies from /proc/stat and the 1-min loadavg.
    The bench rig is a multi-tenant guest — the r9 1.45× envelope cost
    two rounds of triage before being pinned on hypervisor steal bursts
    (BASELINE.md "Round-9→10 bench-envelope triage") — so every bench
    run now records its own contention evidence."""
    try:
        parts = open("/proc/stat").readline().split()
        vals = [int(v) for v in parts[1:]]
        load1 = float(open("/proc/loadavg").read().split()[0])
        return {
            "jiffies_total": sum(vals),
            "jiffies_steal": vals[7] if len(vals) > 7 else 0,
            "load1": load1,
        }
    except OSError:  # non-Linux dev box: telemetry absent, bench still runs
        return {}


def _host_report(pre: dict, post: dict) -> dict:
    """steal%% over the run plus the pre/post 1-min loadavg, and the
    contaminated-run flag (criterion in BASELINE.md: >=1%% of CPU time
    stolen by the hypervisor during the run)."""
    if not pre or not post:
        return {}
    dt = max(1, post["jiffies_total"] - pre["jiffies_total"])
    steal_pct = round(
        100.0 * (post["jiffies_steal"] - pre["jiffies_steal"]) / dt, 3
    )
    return {
        "steal_pct": steal_pct,
        "load1_pre": pre["load1"],
        "load1_post": post["load1"],
        "contaminated": steal_pct >= 1.0,
    }


def _timed_sweep(spark, qs, sf_dir: str) -> tuple[dict[str, float], dict]:
    """One full timed pass over the registry with host telemetry."""
    host_pre = _host_sample()
    timings: dict[str, float] = {}
    for name, fn in qs.items():
        t0 = time.perf_counter()
        try:
            fn(spark, sf_dir).count()
            timings[name] = round(time.perf_counter() - t0, 4)
        except Exception as exc:  # keep the harness alive; flag the query
            print(f"bench: {name} failed: {exc}", file=sys.stderr)
            timings[name] = -1.0
        # Operators cache intermediates (shingle sets, edge lists); drop
        # them so no query is billed for - or sped up by - another's
        # storage, and the 131-query run can't accumulate memory pressure.
        spark.catalog.clearCache()
    return timings, _host_report(host_pre, _host_sample())


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from komodo_data_spark.session import default_cores, get_spark

    cpus = default_cores()
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")

    spark = get_spark(
        app_name="komodo-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    qs = e.queries()

    # Warm-up 1: parquet footer reads at the bench scale.
    from komodo_data_spark.sources.tables import TABLE_NAMES, load_table

    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).count()
    # Warm-up 2: Arrow/pandas worker pool spin-up.
    spark.range(0, int(cpus)).mapInPandas(
        lambda it: it, schema="id long"
    ).count()
    # Warm-up 3: whole-stage codegen for the heavy dedup expression trees,
    # at sf0.001 so the warm-up itself is cheap (see module docstring for
    # the A/B against full-scale warming).
    warm_dir = WARMUP_SF_DIR if os.path.isdir(WARMUP_SF_DIR) else sf_dir
    for name, d in [(n, warm_dir) for n in WARMUP_QUERIES] + [
        (n, sf_dir) for n in WARMUP_AT_BENCH_SF
    ]:
        if name in qs:
            try:
                qs[name](spark, d).count()
            except Exception:
                pass
            spark.catalog.clearCache()

    def _reset_session_memo():
        """Drop the session-model memo so a timed sweep pays every shared
        fit exactly once (r12 measurement fix). Without this, (a) the
        bench-sf warm-up queries primed some memo families BEFORE the
        timed sweep, and (b) a contamination retry inherited ALL memos
        from the first attempt and timed a zero-fit sweep — both
        undercount the real cost of the shared detections/models. The
        checkpointed blocks behind evicted entries are GC-released."""
        from komodo_data_spark.operators.model_memo import _MEMO

        _MEMO.clear()

    _reset_session_memo()

    # Contamination is self-correcting (round-11 verdict ask #2): a run the
    # telemetry flags (steal_pct >= 1.0, BASELINE.md criterion) is retried
    # ONCE after a backoff; if the retry is also contaminated, the faster
    # attempt is published with headline_valid=false so the round record
    # can't silently promote an upper bound to a headline (the r11 455 s
    # artifact was exactly that). A clean retry replaces the first attempt.
    timings, host = _timed_sweep(spark, qs, sf_dir)
    attempts = [
        {
            "total": round(sum(v for v in timings.values() if v >= 0), 4),
            "host": host,
        }
    ]
    if host.get("contaminated"):
        backoff = float(os.environ.get("SPARK_GRAFT_CONTAM_BACKOFF_S", "120"))
        print(
            f"bench: contaminated run (steal_pct={host.get('steal_pct')}, "
            f"load1_pre={host.get('load1_pre')}) — retrying once after "
            f"{backoff:.0f}s",
            file=sys.stderr,
        )
        time.sleep(backoff)
        _reset_session_memo()  # the retry must re-pay shared fits too
        timings2, host2 = _timed_sweep(spark, qs, sf_dir)
        attempts.append(
            {
                "total": round(
                    sum(v for v in timings2.values() if v >= 0), 4
                ),
                "host": host2,
            }
        )
        if not host2.get("contaminated") or (
            attempts[1]["total"] <= attempts[0]["total"]
        ):
            timings, host = timings2, host2
    headline_valid = not host.get("contaminated", False)
    ok = [v for v in timings.values() if v >= 0]
    total = round(sum(ok), 4)
    failed = sorted(n for n, v in timings.items() if v < 0)
    slowest = dict(
        sorted(
            ((n, v) for n, v in timings.items() if v >= 0),
            key=lambda kv: -kv[1],
        )[:10]
    )

    detail = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "cpus": int(cpus),
        "n_queries": len(timings),
        "n_failed": len(failed),
        "failed": failed,
        "host": host,
        "headline_valid": headline_valid,
        "attempts": attempts,
        "queries": timings,
    }
    # One mutable per-query map, overwritten every run; a run worth keeping
    # is archived by copying it under a new name, never by this script.
    repo = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(repo, "BENCH_DETAIL.json"), "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
        fh.write("\n")

    # ONE compact line (driver keeps only the output tail): totals + the
    # top-10 slowest queries; full map in BENCH_DETAIL.json.
    print(
        json.dumps(
            {
                "metric": "total_query_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": slowest,
                "sf": sf,
                "n_queries": len(timings),
                "n_failed": len(failed),
                "host": host,
                "headline_valid": headline_valid,
                "n_attempts": len(attempts),
                "detail": "BENCH_DETAIL.json",
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
