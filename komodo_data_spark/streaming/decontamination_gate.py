"""Streaming benchmark-decontamination gate for document ingestion.

The batch operator (``operators/pipeline_ops.benchmark_contamination``)
scans a finished corpus for 4-gram overlap with a benchmark (eval) set;
an ingestion pipeline wants the same verdict at the edge, so eval-set
leakage is quarantined before it ever lands in the clean corpus — the
one curation stage that previously had no ingestion-edge twin (every
other gate: PII, quality expectations, compression, exact dedup,
near-dup bands, block scrub, drift). Both sides call ONE scoring
definition (``pipeline_ops.contamination_annotate``, shingle constant
``pipeline_ops._CONTAM_N``), so the gate and the batch scanner cannot
disagree about any document — the same shared-kernel rule as the PII
and compression gates.

Benchmark-shingle store: a parquet directory partitioned by
``version=N``. ``update_benchmark_store`` writes one benchmark release's
distinct shingles into its own version partition (idempotent re-publish);
the gate re-reads the store at EVERY micro-batch, so a new benchmark
version landing mid-stream screens all SUBSEQUENT batches against the
union of versions — already-published epochs are not rewritten (their
verdicts were correct against the store as of their ingestion; a
retro-screen of history is the batch operator's job, run once over the
clean corpus).

Per micro-batch: annotate every row pass-through (one output row per
input row — duplicate and NULL doc_ids ride through unchanged, per the
compression-gate review finding), split keep/quarantine on the
contamination fraction, and write each side to the batch's own
``epoch_id=N`` partition (the epoch-store protocol,
``streaming/stores.py``).

Scale: the benchmark-shingle store is tiny next to the corpus (a few
thousand eval docs vs billions of training docs) and is broadcast by
the shared kernel; the corpus side pays one groupBy/join on a unique
batch-local row key — high-cardinality, skew-free, batch-bounded state.
Store reads are O(|store|) per batch and the store grows only with
benchmark releases, so per-batch latency stays flat over stream
lifetime (BENCH_STREAM row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from komodo_data_spark.operators.pipeline_ops import (
    benchmark_shingles,
    contamination_annotate,
)
from komodo_data_spark.streaming.stores import (
    file_stream,
    overwrite_partitions,
    require_store,
    start_batches,
)

#: Quarantine threshold: a document keeping MORE than this fraction of its
#: distinct 4-gram shingles inside the benchmark set is quarantined. 0.0
#: would quarantine any single-shingle collision (too trigger-happy for
#: natural 4-gram collisions in short docs); the batch scanner reports the
#: raw fraction and leaves thresholding to the consumer.
DEFAULT_MAX_CONTAM_FRAC = 0.1


def update_benchmark_store(
    bench_docs: DataFrame, store_path: str, version: int
) -> None:
    """Publish one benchmark release's distinct 4-gram shingles into the
    store's ``version=N`` partition (idempotent re-publish; a crashed
    write is simply re-run)."""
    overwrite_partitions(
        benchmark_shingles(bench_docs).withColumn("version", F.lit(int(version))),
        store_path,
        "version",
    )


def load_benchmark_shingles(spark: SparkSession, store_path: str) -> DataFrame:
    """The union of all published benchmark versions, deduplicated — the
    frame the shared kernel broadcasts."""
    return spark.read.parquet(store_path).select("s").distinct()


def decontamination_gate_batch(
    batch_df: DataFrame,
    epoch_id: int,
    store_path: str,
    clean_path: str,
    quarantine_path: str,
    max_contam_frac: float = DEFAULT_MAX_CONTAM_FRAC,
) -> None:
    spark = batch_df.sparkSession
    bench_sh = load_benchmark_shingles(spark, store_path)
    annotated = (
        contamination_annotate(batch_df, bench_sh)
        .withColumn("keep", F.col("contamination_frac") <= F.lit(max_contam_frac))
        .withColumn("epoch_id", F.lit(int(epoch_id)))
        # two output branches must not re-run the annotate join; same
        # contract as the compression gate
        .localCheckpoint(eager=True)
    )
    keep = annotated.filter(F.col("keep")).drop("keep")
    overwrite_partitions(keep, clean_path, "epoch_id")
    drop = annotated.filter(~F.col("keep")).drop("keep")
    overwrite_partitions(drop, quarantine_path, "epoch_id")


def start_docs_decontamination_gate(
    spark: SparkSession,
    docs_dir: str,
    store_path: str,
    clean_path: str,
    quarantine_path: str,
    checkpoint: str,
    max_contam_frac: float = DEFAULT_MAX_CONTAM_FRAC,
    max_files_per_trigger: int = 16,
) -> StreamingQuery:
    """Gate a documents file-source stream on benchmark 4-gram overlap.

    Fails fast if no benchmark version has ever been published: the gate
    re-reads the store every micro-batch, and a missing store would
    otherwise kill the streaming query from inside the first foreachBatch
    with a bare path-not-found instead of a precondition error (an
    un-screened pass-through default would silently disable
    decontamination — the one wrong behavior for a privacy/leakage gate).
    """
    require_store(spark, store_path, "benchmark-shingle")
    return start_batches(
        file_stream(spark, docs_dir, max_files_per_trigger),
        checkpoint,
        lambda b, e: decontamination_gate_batch(
            b, e, store_path, clean_path, quarantine_path, max_contam_frac
        ),
    )
