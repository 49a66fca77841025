#!/usr/bin/env python
"""Streaming latency/throughput bench: drive the incremental MinHash
near-dup stream and the expectations/quarantine gate over N micro-batches
and record per-batch wall time and rows/s from StreamingQueryProgress.

The correctness tests already pin stream == batch results; this harness
measures the OPERATIONAL claim — per-batch cost must stay flat as the
persistent stores grow, because the band store folds to O(1) partitions
and the probe side of every join is the batch, not the history. The flat
gate compares the mean trigger time of the last third of batches against
the first third (batch 0 excluded — it pays stream setup): ratio above
FLAT_FACTOR flags the stream.

Usage: python scripts/bench_stream.py [--sf-dir DIR] [--batches N]
                                      [--out BENCH_STREAM.json]
Exit 1 if any stream is flagged.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FLAT_FACTOR = 2.0


def stage_arrival_files(df, col: str, n: int, dest: str) -> None:
    """Split a frame into n single-file parquet arrivals (deterministic by
    hash of ``col``) so maxFilesPerTrigger=1 yields n micro-batches."""
    import glob

    from pyspark.sql import functions as F

    os.makedirs(dest, exist_ok=True)
    for i in range(n):
        part_dir = os.path.join(dest, f"_stage_{i}")
        (
            df.filter(F.pmod(F.xxhash64(F.col(col)), F.lit(n)) == i)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(part_dir)
        )
        part = glob.glob(os.path.join(part_dir, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(dest, f"file_{i:03d}.parquet"))
        shutil.rmtree(part_dir)


def stage_arrival_files_ordered(df, ts_col: str, n: int, dest: str) -> None:
    """Split a frame into n single-file arrivals by CONTIGUOUS time range
    (exact quantile boundaries on ``ts_col``), so the stream sees event time
    roughly in order — the arrival shape watermarked session aggregation is
    designed for (hash-split arrivals would mark most data late)."""
    import glob

    from pyspark.sql import functions as F

    os.makedirs(dest, exist_ok=True)
    cuts = df.approxQuantile(ts_col, [i / n for i in range(1, n)], 0.0)
    bounds = [float("-inf"), *cuts, float("inf")]
    for i in range(n):
        lo, hi = bounds[i], bounds[i + 1]
        part = df.filter(F.col(ts_col) > F.lit(lo)) if lo != float("-inf") else df
        if hi != float("inf"):
            part = part.filter(F.col(ts_col) <= F.lit(hi))
        part_dir = os.path.join(dest, f"_stage_{i}")
        part.coalesce(1).write.mode("overwrite").parquet(part_dir)
        f = glob.glob(os.path.join(part_dir, "part-*.parquet"))[0]
        shutil.move(f, os.path.join(dest, f"file_{i:03d}.parquet"))
        shutil.rmtree(part_dir)


def progress_rows(query) -> list[dict]:
    rows = []
    for p in query.recentProgress:
        d = p if isinstance(p, dict) else json.loads(p.json)
        trig = d.get("durationMs", {}).get("triggerExecution")
        n = d.get("numInputRows", 0)
        if trig is None or not n:
            continue  # the availableNow no-op finalize trigger
        rows.append(
            {
                "batch_id": d.get("batchId"),
                "trigger_ms": trig,
                "rows": n,
                "rows_per_sec": round(n / (trig / 1000.0), 1) if trig else None,
            }
        )
    return rows


def flat_check(batches: list[dict]) -> dict:
    """Mean trigger time, last third vs first third (batch 0 dropped)."""
    times = [b["trigger_ms"] for b in batches[1:]]
    if len(times) < 4:
        return {"flat_ratio": None, "flagged": False}
    k = max(1, len(times) // 3)
    first = sum(times[:k]) / k
    last = sum(times[-k:]) / k
    ratio = round(last / first, 3) if first else None
    return {
        "flat_ratio": ratio,
        "flagged": bool(ratio is not None and ratio >= FLAT_FACTOR),
    }


def main(argv: list[str] | None = None) -> int:
    from komodo_data_spark.session import default_cores, get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--batches", type=int, default=8)
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH_STREAM.json"))
    ap.add_argument("--cpus", type=int, default=default_cores())
    args = ap.parse_args(argv)

    from komodo_data_spark.sources.tables import load_events, load_table
    from komodo_data_spark.streaming.dedup_incremental import (
        start_incremental_dedup,
    )
    from komodo_data_spark.streaming.expectations import (
        start_expectations_stream,
    )

    spark = get_spark(
        app_name="komodo-bench-stream",
        master=f"local[{args.cpus}]",
        shuffle_partitions=int(args.cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix="komodo_bench_stream_")
    report: dict[str, dict] = {}

    # --- stream 1: incremental MinHash near-dup detection -----------------
    docs_src = os.path.join(work, "docs_arrivals")
    stage_arrival_files(
        load_table(spark, args.sf_dir, "documents").select("doc_id", "text", "source"),
        "doc_id", args.batches, docs_src,
    )
    q = start_incremental_dedup(
        spark, docs_src,
        os.path.join(work, "band_store"),
        os.path.join(work, "pairs"),
        os.path.join(work, "ckpt_dedup"),
    )
    q.awaitTermination()
    batches = progress_rows(q)
    report["incremental_minhash"] = {"batches": batches, **flat_check(batches)}

    # --- stream 2: expectations/quarantine gate over events ---------------
    ev_src = os.path.join(work, "events_arrivals")
    ev = load_events(spark, args.sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    stage_arrival_files(ev, "event_id", args.batches, ev_src)
    # the expectations stream reads raw events.parquet schema; re-point the
    # staged files through the same loader contract
    q2 = start_expectations_stream(
        spark, ev_src,
        os.path.join(work, "clean"),
        os.path.join(work, "quarantine"),
        os.path.join(work, "ckpt_exp"),
        max_files_per_trigger=1,
    )
    q2.awaitTermination()
    batches2 = progress_rows(q2)
    report["expectations_gate"] = {"batches": batches2, **flat_check(batches2)}

    # --- stream 3: PSI drift monitor over the same staged events ----------
    from komodo_data_spark.streaming import drift as D

    ref_path = os.path.join(work, "drift_ref")
    D.write_reference(ev, ref_path)
    q3 = D.start_drift_monitor(
        spark, ev_src, ref_path,
        os.path.join(work, "drift_log"),
        os.path.join(work, "ckpt_drift"),
    )
    q3.awaitTermination()
    batches3 = progress_rows(q3)
    report["drift_monitor"] = {"batches": batches3, **flat_check(batches3)}

    # --- stream 4: incremental repeated-block scrub (reuses docs stage) ---
    from komodo_data_spark.streaming.block_scrub import (
        start_incremental_block_scrub,
    )

    q4 = start_incremental_block_scrub(
        spark, docs_src,
        os.path.join(work, "block_store"),
        os.path.join(work, "scrubbed"),
        os.path.join(work, "ckpt_scrub"),
    )
    q4.awaitTermination()
    batches4 = progress_rows(q4)
    report["block_scrub"] = {"batches": batches4, **flat_check(batches4)}

    # --- stream 5: incremental BM25 index (reuses docs stage) --------------
    from komodo_data_spark.streaming.bm25_incremental import (
        start_incremental_bm25,
    )

    q5 = start_incremental_bm25(
        spark, docs_src,
        os.path.join(work, "bm25_store"),
        os.path.join(work, "ckpt_bm25"),
    )
    q5.awaitTermination()
    batches5 = progress_rows(q5)
    report["bm25_index"] = {"batches": batches5, **flat_check(batches5)}

    # --- stream 6: docs PII gate (reuses docs stage) -----------------------
    from komodo_data_spark.streaming.expectations import (
        start_docs_expectations_stream,
    )

    q6 = start_docs_expectations_stream(
        spark, docs_src,
        os.path.join(work, "docs_clean"),
        os.path.join(work, "docs_quarantine"),
        os.path.join(work, "ckpt_pii"),
        max_files_per_trigger=1,
    )
    q6.awaitTermination()
    batches6 = progress_rows(q6)
    report["docs_pii_gate"] = {"batches": batches6, **flat_check(batches6)}

    # --- stream 7: incremental shard export (reuses docs stage) ------------
    from komodo_data_spark.streaming.export_incremental import (
        start_incremental_export,
    )

    q7 = start_incremental_export(
        spark, docs_src,
        os.path.join(work, "export_inc"),
        os.path.join(work, "ckpt_export"),
        n_shards=8,
    )
    q7.awaitTermination()
    batches7 = progress_rows(q7)
    report["incremental_export"] = {"batches": batches7, **flat_check(batches7)}

    # --- stream 8: source-mix counter store (reuses docs stage) ------------
    from komodo_data_spark.streaming.mix_incremental import (
        start_incremental_mix,
    )

    q8 = start_incremental_mix(
        spark, docs_src,
        os.path.join(work, "mix_store"),
        os.path.join(work, "ckpt_mix"),
    )
    q8.awaitTermination()
    batches8 = progress_rows(q8)
    report["mix_counter_store"] = {"batches": batches8, **flat_check(batches8)}

    # --- stream 9: incremental ANN index over staged embeddings ------------
    from komodo_data_spark.streaming.ann_incremental import (
        start_incremental_ann_index,
    )

    emb_src = os.path.join(work, "emb_arrivals")
    stage_arrival_files(
        load_table(spark, args.sf_dir, "embeddings").select(
            "vec_id", "embedding"
        ),
        "vec_id", args.batches, emb_src,
    )
    q9 = start_incremental_ann_index(
        spark, emb_src,
        os.path.join(work, "ann_store"),
        os.path.join(work, "ckpt_ann"),
    )
    q9.awaitTermination()
    batches9 = progress_rows(q9)
    report["ann_index"] = {"batches": batches9, **flat_check(batches9)}

    # --- stream 10: zlib compression gate (reuses docs stage) --------------
    from komodo_data_spark.streaming.compression_gate import (
        start_docs_compression_gate,
    )

    q10 = start_docs_compression_gate(
        spark, docs_src,
        os.path.join(work, "zgate_clean"),
        os.path.join(work, "zgate_quarantine"),
        os.path.join(work, "ckpt_zgate"),
        max_files_per_trigger=1,
    )
    q10.awaitTermination()
    batches10 = progress_rows(q10)
    report["compression_gate"] = {"batches": batches10, **flat_check(batches10)}

    # --- stream 11: benchmark decontamination gate (reuses docs stage) -----
    from pyspark.sql import functions as F

    from komodo_data_spark.streaming.decontamination_gate import (
        start_docs_decontamination_gate,
        update_benchmark_store,
    )

    docs = load_table(spark, args.sf_dir, "documents")
    store = os.path.join(work, "bench_store")
    update_benchmark_store(
        docs.filter(F.col("doc_id") % 47 == 0), store, version=1
    )
    q11 = start_docs_decontamination_gate(
        spark, docs_src, store,
        os.path.join(work, "decontam_clean"),
        os.path.join(work, "decontam_quarantine"),
        os.path.join(work, "ckpt_decontam"),
        max_files_per_trigger=1,
    )
    q11.awaitTermination()
    batches11 = progress_rows(q11)
    report["decontamination_gate"] = {
        "batches": batches11, **flat_check(batches11)
    }

    # --- stream 12: session-window transcript assembly (stateful agg) ------
    from komodo_data_spark.streaming import windows as W

    ev_time_src = os.path.join(work, "events_time_arrivals")
    # split on the EVENT-TIME column (canonical nanos-long ts), not
    # ingestion order: on disordered data an event_id split would mark
    # most rows late and skew the latency numbers (round-6 advice finding)
    stage_arrival_files_ordered(ev, "ts", args.batches, ev_time_src)
    tr = W.transcript_rollup(W.events_stream(spark, ev_time_src, 1))
    q12 = (
        tr.writeStream.format("parquet")
        .outputMode("append")
        .option("path", os.path.join(work, "transcripts_out"))
        .option("checkpointLocation", os.path.join(work, "ckpt_transcripts"))
        .trigger(availableNow=True)
        .start()
    )
    q12.awaitTermination()
    batches12 = progress_rows(q12)
    report["transcript_rollup"] = {"batches": batches12, **flat_check(batches12)}

    # --- stream 13: k-anonymity release gate over customer arrivals -------
    from komodo_data_spark.streaming.k_anonymity_gate import (
        start_k_anonymity_gate,
    )

    cust_src = os.path.join(work, "customer_arrivals")
    stage_arrival_files(
        load_table(spark, args.sf_dir, "customer"),
        "c_custkey", args.batches, cust_src,
    )
    q13 = start_k_anonymity_gate(
        spark, cust_src,
        os.path.join(work, "kanon_store"),
        os.path.join(work, "kanon_released"),
        os.path.join(work, "kanon_held"),
        os.path.join(work, "ckpt_kanon"),
        max_files_per_trigger=1,
    )
    q13.awaitTermination()
    batches13 = progress_rows(q13)
    report["k_anonymity_gate"] = {"batches": batches13, **flat_check(batches13)}

    # --- stream 14: DSIR importance-weight gate (reuses docs stage) --------
    from komodo_data_spark.streaming.dsir_gate import (
        start_docs_dsir_gate,
        update_dsir_model_store,
    )

    dsir_store = os.path.join(work, "dsir_model_store")
    update_dsir_model_store(docs, dsir_store, version=1)
    q14 = start_docs_dsir_gate(
        spark, docs_src, dsir_store,
        os.path.join(work, "dsir_keep"),
        os.path.join(work, "dsir_diverted"),
        os.path.join(work, "ckpt_dsir"),
        max_files_per_trigger=1,
    )
    q14.awaitTermination()
    batches14 = progress_rows(q14)
    report["dsir_gate"] = {"batches": batches14, **flat_check(batches14)}

    # --- stream 15: incremental moments store (reuses events stage) --------
    from komodo_data_spark.streaming.moments_incremental import (
        start_moments_stream,
    )

    q15 = start_moments_stream(
        spark, ev_src,
        os.path.join(work, "moments_store"),
        os.path.join(work, "ckpt_moments"),
        max_files_per_trigger=1,
    )
    q15.awaitTermination()
    batches15 = progress_rows(q15)
    report["moments_store"] = {"batches": batches15, **flat_check(batches15)}

    # --- stream 16: incremental quantile store (reuses events stage) -------
    from komodo_data_spark.streaming.quantiles_incremental import (
        start_value_quantile_stream,
    )

    q16 = start_value_quantile_stream(
        spark, ev_src,
        os.path.join(work, "quantile_store"),
        os.path.join(work, "ckpt_quantiles"),
        max_files_per_trigger=1,
    )
    q16.awaitTermination()
    batches16 = progress_rows(q16)
    report["quantile_store"] = {"batches": batches16, **flat_check(batches16)}

    # --- stream 17: PQ-coded ANN index (reuses embeddings stage) -----------
    from komodo_data_spark.streaming.ann_pq_incremental import (
        publish_ivfpq_model,
        start_incremental_pq_index,
    )

    publish_ivfpq_model(spark, args.sf_dir, os.path.join(work, "pq_model"))
    q17 = start_incremental_pq_index(
        spark, emb_src,
        os.path.join(work, "pq_model"),
        os.path.join(work, "pq_store"),
        os.path.join(work, "ckpt_pq"),
    )
    q17.awaitTermination()
    batches17 = progress_rows(q17)
    report["pq_ann_index"] = {"batches": batches17, **flat_check(batches17)}

    # --- stream 18: hourly EWMA counter store (reuses events stage) --------
    from komodo_data_spark.streaming.ewma_incremental import (
        start_incremental_ewma,
    )

    q18 = start_incremental_ewma(
        spark, ev_src,
        os.path.join(work, "ewma_store"),
        os.path.join(work, "ckpt_ewma"),
        max_files_per_trigger=1,
    )
    q18.awaitTermination()
    batches18 = progress_rows(q18)
    report["ewma_counter_store"] = {"batches": batches18, **flat_check(batches18)}

    # --- stream 19: trigram-KN counter store (reuses docs stage) -----------
    from komodo_data_spark.streaming.kn3_incremental import (
        start_incremental_kn3,
    )

    q19 = start_incremental_kn3(
        spark, docs_src,
        os.path.join(work, "kn3_store"),
        os.path.join(work, "ckpt_kn3"),
        max_files_per_trigger=1,
    )
    q19.awaitTermination()
    batches19 = progress_rows(q19)
    report["kn3_counter_store"] = {"batches": batches19, **flat_check(batches19)}

    # --- stream 20: capped-SimHash media near-dup store (reuses docs) ------
    from komodo_data_spark.streaming.simhash_incremental import (
        start_incremental_simhash,
    )

    q20 = start_incremental_simhash(
        spark, docs_src,
        os.path.join(work, "simhash_seg_store"),
        os.path.join(work, "simhash_pairs"),
        os.path.join(work, "ckpt_simhash"),
        max_files_per_trigger=1,
    )
    q20.awaitTermination()
    batches20 = progress_rows(q20)
    report["capped_simhash_store"] = {
        "batches": batches20, **flat_check(batches20)
    }

    flagged = sorted(k for k, v in report.items() if v["flagged"])
    out = {
        "metric": "streaming_per_batch_trigger_ms",
        "sf_dir": args.sf_dir,
        "n_batches_requested": args.batches,
        "flat_factor_gate": FLAT_FACTOR,
        "flagged": flagged,
        "streams": report,
    }
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    for name, v in report.items():
        times = [b["trigger_ms"] for b in v["batches"]]
        print(f"{name}: {len(times)} batches, trigger_ms={times}, "
              f"flat_ratio={v['flat_ratio']} flagged={v['flagged']}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"flagged": flagged, "out": os.path.basename(args.out)}))
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
